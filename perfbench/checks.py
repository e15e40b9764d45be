"""Output checks.  Each returns a list of mismatch descriptions; an empty
list means the output is correct.  The run counts every failed check
as a failed operation."""

from __future__ import annotations

from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from ts_pymfe_spark.operators.arrow_kernels import (
    FEATURE_KERNELS,
    SEEDED_FEATURE_KERNELS,
    feature_seed,
)
from ts_pymfe_spark.operators.rollup import KEY
from ts_pymfe_spark.functions.summaries import summarize_array

#: moment-vector columns that involve no floating-point arithmetic, so
#: they must match bit for bit whatever order the merge ran in
EXACT_COLS = ["conv_id", "series", "bucket_start", "n", "mn", "mx",
              "first_ts", "first_v", "last_ts", "last_v", "n_nonpos"]
#: power sums: associative only up to rounding, compared with rtol
SUM_COLS = ["s1", "s2", "s3", "s4", "slog"]
RTOL = 1e-12


def tier_digests(tiers) -> dict[str, tuple]:
    """Per tier, in one Spark action: (rows, sum of xxhash64 over the
    exact columns, sum of n, then the sum of each power-sum column).
    Equal rows and hash plus power sums within tolerance is the content
    check for whole tiers; it avoids collecting them."""
    parts = [
        df.agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.xxhash64(*EXACT_COLS).cast("decimal(38,0)"))
            .alias("exact"),
            F.sum("n").alias("n"),
            *[F.sum(c).alias(c) for c in SUM_COLS],
        ).select(F.lit(t).alias("tier"), "*")
        for t, df in tiers.items()
    ]
    rows = reduce(lambda a, b: a.unionByName(b), parts).collect()
    return {r["tier"]: (int(r["rows"]), int(r["exact"]), int(r["n"]),
                        *[float(r[c]) for c in SUM_COLS]) for r in rows}


def digest_match(got: tuple, exp: tuple, what: str,
                 rtol: float = 1e-9) -> list[str]:
    if got[:3] != exp[:3]:
        return [f"{what}: (rows, exact hash, n) {got[:3]} != {exp[:3]}"]
    if not _same_floats(got[3:], exp[3:], rtol):
        return [f"{what}: power sums outside rtol {rtol}"]
    return []


def _same_floats(a, b, rtol: float) -> bool:
    a = np.asarray(a, dtype=float)
    b = np.asarray(b, dtype=float)
    return bool(np.allclose(a, b, rtol=rtol, atol=0.0, equal_nan=True))


def frames_match(got: pd.DataFrame, exp: pd.DataFrame, what: str,
                 rtol: float = RTOL) -> list[str]:
    """Same rows, exact columns equal, power sums within ``rtol``."""
    if len(got) != len(exp):
        return [f"{what}: {len(got)} rows, expected {len(exp)}"]
    got = got.reset_index(drop=True)
    exp = exp.reset_index(drop=True)
    bad = []
    for c in EXACT_COLS:
        if c not in exp.columns:
            continue
        g, e = got[c], exp[c]
        if g.dtype.kind == "f" or e.dtype.kind == "f":
            ok = _same_floats(g, e, 0.0)
        else:
            ok = bool((g.astype(str) == e.astype(str)).all())
        if not ok:
            bad.append(f"{what}: column {c} differs")
    for c in SUM_COLS:
        if c in exp.columns and not _same_floats(got[c], exp[c], rtol):
            bad.append(f"{what}: column {c} outside rtol {rtol}")
    return bad




def pandas_tiers(series: pd.DataFrame) -> dict[str, pd.DataFrame]:
    """An independent reference for every tier, computed in pandas from
    the derived series without any engine code: the (n, s1, mn, mx)
    subset of each moment vector, for text_len, tool_flag and the
    emergent turn_rate (the 1m count of text_len rows, rolled up)."""
    def roll(d, unit):
        return (d.assign(bucket_start=d["ts"].dt.floor(unit))
                .groupby(["conv_id", "series", "bucket_start"])["value"]
                .agg(n="count", s1="sum", mn="min", mx="max")
                .reset_index())

    m1 = roll(series, "min")
    rate = m1[m1["series"] == "text_len"]
    rate = pd.DataFrame({"conv_id": rate["conv_id"], "series": "turn_rate",
                         "ts": rate["bucket_start"],
                         "value": rate["n"].astype(float)})
    out = {}
    for tier, unit in (("1m", "min"), ("1h", "h"), ("1d", "D")):
        t = pd.concat([m1 if tier == "1m" else roll(series, unit),
                       roll(rate, unit)], ignore_index=True)
        out[tier] = t.sort_values(KEY).reset_index(drop=True)
    return out


def oracle_match(digests: dict, ref: dict) -> list[str]:
    """Engine tier digests against the pandas reference: rows and the
    sum of n exactly, the sum of s1 within 1e-9."""
    bad = []
    for t, frame in ref.items():
        rows, _, n, s1 = digests[t][:4]
        if (rows, n) != (len(frame), int(frame["n"].sum())):
            bad.append(f"tier {t} vs pandas: (rows, n) {(rows, n)} != "
                       f"{(len(frame), int(frame['n'].sum()))}")
        elif not _same_floats([s1], [frame["s1"].sum()], 1e-9):
            bad.append(f"tier {t} vs pandas: sum of s1 differs")
    return bad


def driver_features(x: np.ndarray, conv: str, names, summaries,
                    seed_tag=None, base_seed: int = 42) -> dict[str, float]:
    """Recompute one series' named features on the driver with the
    public kernel table and ``summarize_array``, following the extract
    naming contract (``feature`` for scalars, ``feature.summary``
    otherwise; a failing kernel yields NaN)."""
    out = {}
    for name in names:
        try:
            if name in SEEDED_FEATURE_KERNELS:
                tag = name if seed_tag is None else f"{name}:{seed_tag}"
                res = SEEDED_FEATURE_KERNELS[name](
                    x, feature_seed(conv, tag, base_seed))
            else:
                res = FEATURE_KERNELS[name](x)
        except Exception:
            res = np.nan
        arr = np.atleast_1d(np.asarray(res, dtype=float))
        if arr.size == 1:
            out[name] = float(arr[0])
        else:
            for summ, v in summarize_array(arr, summaries):
                out[f"{name}.{summ}"] = v
    return out


def series_array(points: pd.DataFrame, max_points: int) -> np.ndarray:
    """The kernel's view of one series: ordered by turn, tail-capped."""
    p = points.sort_values("turn_idx")
    if len(p) > max_points:
        p = p.iloc[-max_points:]
    return p["value"].to_numpy(dtype=float)


def features_match(got: pd.DataFrame, exp: dict[str, float],
                   what: str, rtol: float = 1e-9) -> list[str]:
    """``got``: extract rows (name, value) of one series."""
    g = dict(zip(got["name"], got["value"]))
    if set(g) != set(exp):
        missing = sorted(set(exp) - set(g))[:3]
        extra = sorted(set(g) - set(exp))[:3]
        return [f"{what}: names differ (missing {missing}, extra {extra})"]
    bad = [n for n in exp if not _same_floats([g[n]], [exp[n]], rtol)]
    return [f"{what}: {len(bad)} values differ, e.g. {bad[:3]}"] if bad else []


#: Known defect of ``extract_with_confidence``: the kernel's NaN feature
#: values cross the Arrow boundary as NULL, so ``n_resamples`` counts
#: only the non-NaN resamples and the documented NaN propagation into
#: ``ci_low``/``ci_high`` never fires.
NAN_RESAMPLES_DROPPED = (
    "extract_with_confidence drops NaN resamples (Arrow NaN -> NULL): "
    "n_resamples and the CI bounds use only the non-NaN resamples")


def bootstrap_expected(x: np.ndarray, conv: str, names, summaries,
                       sample_num: int, confidence: float,
                       base_seed: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Driver recompute of ``extract_with_confidence`` for one series:
    iid resamples with the engine's per-(conv, resample) seeds, then
    nanmean and linear-interpolated percentile bounds.

    Returns (documented contract, NaN-resamples-dropped form): the
    contract counts every resample and makes the CI NaN when any
    resample is NaN; the second form is what the engine returns while
    ``NAN_RESAMPLES_DROPPED`` stands."""
    per: dict[str, list[float]] = {}
    for r in range(sample_num):
        rng = np.random.RandomState(
            feature_seed(conv, f"bootstrap:{r}", base_seed))
        xs = x[rng.randint(x.size, size=x.size)]
        vals = driver_features(xs, conv, names, summaries, seed_tag=r,
                               base_seed=base_seed)
        for k, v in vals.items():
            per.setdefault(k, []).append(v)
    lo = 0.5 * (1.0 - confidence)

    def bounds(a):
        if a.size == 0 or np.isnan(a).any():
            return np.nan, np.nan
        return (float(np.percentile(a, 100 * lo)),
                float(np.percentile(a, 100 * (1 - lo))))

    contract, dropped = [], []
    for k, vs in per.items():
        a = np.asarray(vs, dtype=float)
        finite = a[~np.isnan(a)]
        mean = float(finite.mean()) if finite.size else np.nan
        contract.append((k, mean, *bounds(a), a.size))
        dropped.append((k, mean, *bounds(finite), finite.size))
    cols = ["name", "value", "ci_low", "ci_high", "n_resamples"]
    return pd.DataFrame(contract, columns=cols), \
        pd.DataFrame(dropped, columns=cols)


def bootstrap_match(got: pd.DataFrame, exp: pd.DataFrame,
                    what: str) -> list[str]:
    g = got.set_index("name").sort_index()
    e = exp.set_index("name").sort_index()
    if list(g.index) != list(e.index):
        return [f"{what}: names differ"]
    bad = []
    if not (g["n_resamples"].to_numpy() == e["n_resamples"].to_numpy()).all():
        bad.append(f"{what}: n_resamples differ")
    for c in ("value", "ci_low", "ci_high"):
        if not _same_floats(g[c], e[c], 1e-9):
            bad.append(f"{what}: {c} differs")
    return bad

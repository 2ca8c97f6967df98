"""Sliding rolling-kernel differential tests (round 9).

The kernel (``operators/rolling_kernel.py``) answers rolling
min/max/sum/mean/count/len batches via per-chunk prefix sums + sparse
tables.  Round 8 shipped it without ever executing it; these tests pin

- ROUTING: an all-simple batch containing min/max must actually reach the
  kernel (FlatMapGroupsInArrow in the plan) — the broad routing fallback
  must not silently paper over a broken kernel;
- VALUES: differential vs a row-by-row brute force under polars semantics
  (null skipping, NaN-greatest min/max, sum-over-empty = 0) across all 4
  closed modes × grouped/ungrouped × fixed/calendar periods, with windows
  deep enough to exercise sparse-table levels ≥ 3;
- DTYPES: narrow-int sums accumulate in int64 (no int8 wrap);
- ORDER: exports restore polars' anchor order after the kernel's shuffle.

Parity: /root/reference/lib/polars/lazy_frame.rb:1161 (rolling).
"""

from __future__ import annotations

import datetime as dt
import math

import numpy as np
import pytest

import polars_ruby_spark as pl

CLOSED = ["right", "left", "both", "none"]


def _brute(ts, vals, groups, period_us, months, closed):
    """Row-by-row rolling truth under polars semantics.

    Returns per-anchor dicts of min/max/sum/mean/count/len over the
    look-back window ending at the anchor.  ``vals[i]`` is None (null) or
    float (possibly NaN).
    """
    out = []
    for i, t in enumerate(ts):
        if months:
            m = t.month - 1 - months
            y, m = t.year + m // 12, m % 12 + 1
            import calendar

            d = min(t.day, calendar.monthrange(y, m)[1])
            lo = t.replace(year=y, month=m, day=d) - dt.timedelta(
                microseconds=period_us)
        else:
            lo = t - dt.timedelta(microseconds=period_us)
        win = []
        for j, tj in enumerate(ts):
            if groups is not None and groups[j] != groups[i]:
                continue
            inside = {
                "right": lo < tj <= t,
                "left": lo <= tj < t,
                "both": lo <= tj <= t,
                "none": lo < tj < t,
            }[closed]
            if inside:
                win.append(vals[j])
        valid = [v for v in win if v is not None]
        real = [v for v in valid if not math.isnan(v)]
        has_nan = len(real) < len(valid)
        # round-11: min/max IGNORE NaN like polars (expr.rb max doctest);
        # an all-NaN window is null.  sum/mean keep the NaN-poison shape.
        mn = min(real) if real else None
        mx = max(real) if real else None
        s = float("nan") if has_nan else float(sum(real))
        out.append({
            "mn": mn, "mx": mx,
            "sm": s if valid else 0.0,
            "me": None if not valid else (
                float("nan") if has_nan else s / len(valid)),
            "ct": len(valid), "ln": len(win),
        })
    return out


def _mkframe(ts, vals, groups):
    data = {"ts": [t.strftime("%Y-%m-%d %H:%M:%S.%f") for t in ts],
            "v": vals}
    if groups is not None:
        data["g"] = groups
    return (pl.DataFrame(data)
            .with_columns(pl.col("ts").cast(pl.Datetime)))


def _agg_all(df, period, closed, by):
    return (df.rolling(index_column="ts", period=period, closed=closed,
                       group_by=by)
            .agg(pl.col("v").min().alias("mn"),
                 pl.col("v").max().alias("mx"),
                 pl.col("v").sum().alias("sm"),
                 pl.col("v").mean().alias("me"),
                 pl.col("v").count().alias("ct"),
                 pl.len().alias("ln")))


def _close(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) and math.isnan(a):
        return isinstance(b, float) and math.isnan(b)
    return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-12)


def _check(rows, ts, expected, groups):
    # result rows arrive in anchor order (deferred ROW_IDX restore)
    assert len(rows) == len(expected)
    for i, (r, e) in enumerate(zip(rows, expected)):
        assert r["ts"] == ts[i], f"anchor order broken at {i}"
        for k in ("mn", "mx", "sm", "me"):
            assert _close(r[k], e[k]), (i, k, r[k], e[k])
        assert r["ct"] == e["ct"] and r["ln"] == e["ln"], (i, r, e)


def _routed_to_kernel(res):
    plan = res.lazy()._sdf._jdf.queryExecution().optimizedPlan().toString()
    return "FlatMapGroupsInArrow" in plan and "collect_list" not in plan


@pytest.mark.parametrize("closed", CLOSED)
@pytest.mark.parametrize("grouped", [False, True])
def test_sliding_kernel_fixed_differential(spark, closed, grouped):
    """Fixed 45-minute window, dense data (windows span ~45 rows →
    sparse-table levels ≥ 5), nulls + NaNs, vs brute force."""
    rng = np.random.RandomState(42)
    n = 300
    base = dt.datetime(2024, 3, 1)
    offs = np.sort(rng.randint(0, 300 * 60, size=n))
    ts = [base + dt.timedelta(seconds=int(o), microseconds=int(i % 7))
          for i, o in enumerate(offs)]
    vals = []
    for i in range(n):
        r = rng.rand()
        vals.append(None if r < 0.12
                    else float("nan") if r < 0.2
                    else round(float(rng.randn() * 50), 3))
    groups = [f"g{i % 3}" for i in range(n)] if grouped else None
    df = _mkframe(ts, vals, groups).sort("ts")
    # sort is stable; brute force must see the same (sorted) anchor order
    order = sorted(range(n), key=lambda i: ts[i])
    ts_s = [ts[i] for i in order]
    vals_s = [vals[i] for i in order]
    groups_s = [groups[i] for i in order] if grouped else None
    res = _agg_all(df, "45m", closed, "g" if grouped else None)
    assert _routed_to_kernel(res)
    exp = _brute(ts_s, vals_s, groups_s, 45 * 60 * 1_000_000, 0, closed)
    _check(res.to_a(), ts_s, exp, groups_s)


@pytest.mark.parametrize("closed", ["right", "left"])
def test_sliding_kernel_calendar_differential(spark, closed):
    """Calendar 1mo window (month arithmetic stays in Catalyst), grouped,
    sparse data with month-boundary edge days, vs brute force."""
    rng = np.random.RandomState(7)
    ts, vals, groups = [], [], []
    for m, d, h in [(1, 5, 1), (1, 20, 2), (1, 31, 5), (2, 10, 3),
                    (2, 29, 23), (3, 3, 1), (3, 29, 4), (3, 31, 9),
                    (4, 18, 2), (4, 30, 12), (5, 31, 7), (6, 1, 3)]:
        for g in ("a", "b"):
            ts.append(dt.datetime(2024, m, d, h))
            r = rng.rand()
            vals.append(None if r < 0.15 else round(float(rng.randn()), 4))
            groups.append(g)
    order = sorted(range(len(ts)), key=lambda i: (ts[i], i))
    ts = [ts[i] for i in order]
    vals = [vals[i] for i in order]
    groups = [groups[i] for i in order]
    df = _mkframe(ts, vals, groups).sort("ts")
    res = _agg_all(df, "1mo", closed, "g")
    assert _routed_to_kernel(res)
    exp = _brute(ts, vals, groups, 0, 1, closed)
    _check(res.to_a(), ts, exp, groups)


def test_sliding_kernel_narrow_int_sum(spark):
    """int8 source, 100-wide windows: sums reach 10k — far past int8 —
    and must come back exact int64 (ADVICE r8: prefix sums wrapped in the
    source dtype)."""
    n = 200
    ts = [dt.datetime(2024, 1, 1) + dt.timedelta(seconds=i)
          for i in range(n)]
    df = (_mkframe(ts, [100] * n, None)
          .with_columns(pl.col("v").cast(pl.Int8)))
    res = (df.rolling(index_column="ts", period="100s")
           .agg(pl.col("v").sum().alias("s"),
                pl.col("v").max().alias("m")))
    assert _routed_to_kernel(res)
    rows = res.to_a()
    # window (t-100s, t] holds min(i+1, 100) rows of value 100
    assert [r["s"] for r in rows] == [100 * min(i + 1, 100)
                                      for i in range(n)]
    assert all(r["m"] == 100 for r in rows)


def test_sliding_kernel_empty_window_semantics(spark):
    """closed='left' first window is empty: sum → 0 (polars), min/mean →
    null, count/len → 0."""
    ts = [dt.datetime(2024, 1, 1) + dt.timedelta(hours=i) for i in range(4)]
    df = _mkframe(ts, [1.5, 2.5, None, 4.5], None)
    res = (df.rolling(index_column="ts", period="1h", closed="left")
           .agg(pl.col("v").sum().alias("s"),
                pl.col("v").min().alias("mn"),
                pl.col("v").mean().alias("me"),
                pl.col("v").count().alias("ct"),
                pl.len().alias("ln")))
    assert _routed_to_kernel(res)
    rows = res.to_a()
    assert rows[0] == {"ts": ts[0], "s": 0.0, "mn": None, "me": None,
                      "ct": 0, "ln": 0}
    assert rows[1]["s"] == 1.5 and rows[1]["mn"] == 1.5
    # window 2 = [ts1, ts2) = {v=2.5}; window 3 = {null} → sum 0, min null
    assert rows[2]["s"] == 2.5
    assert rows[3] == {"ts": ts[3], "s": 0.0, "mn": None, "me": None,
                      "ct": 0, "ln": 1}


def test_sliding_kernel_anchor_order_export(spark):
    """The kernel's applyInArrow shuffle scrambles physical order; the
    hidden ROW_IDX + deferred _order_dirty restore must bring exports back
    to anchor order (ADVICE r8 low)."""
    n = 500
    ts = [dt.datetime(2024, 1, 1) + dt.timedelta(minutes=i)
          for i in range(n)]
    groups = [f"g{i % 5}" for i in range(n)]
    df = _mkframe(ts, [float(i) for i in range(n)], groups).sort("ts")
    res = (df.rolling(index_column="ts", period="30m", group_by="g")
           .agg(pl.col("v").max().alias("m")))
    assert _routed_to_kernel(res)
    out_ts = [r["ts"] for r in res.to_a()]
    assert out_ts == ts
    # and the same contract survives a to_pandas export
    pdf = res.to_pandas()
    assert list(pdf["m"])[:3] == [0.0, 1.0, 2.0]


def _brute_quantile(win_vals, q, interp):
    """Engine quantile truth over one window (exprs._from_sorted): sorted
    non-null ascending with NaN greatest, pos = q*(n-1)."""
    valid = [v for v in win_vals if v is not None]
    valid.sort(key=lambda v: (math.isnan(v), v))
    n = len(valid)
    if n == 0:
        return None
    pos = q * (n - 1)
    lo, hi = math.floor(pos), math.ceil(pos)
    if interp == "lower":
        return valid[lo]
    if interp == "higher":
        return valid[hi]
    if interp == "nearest":
        return valid[lo] if pos - lo < 0.5 else valid[hi]
    if interp == "midpoint":
        return (valid[lo] + valid[hi]) / 2.0
    frac = pos - lo
    return valid[lo] + frac * (valid[hi] - valid[lo])


@pytest.mark.parametrize("closed", CLOSED)
@pytest.mark.parametrize("grouped", [False, True])
def test_sliding_kernel_median_quantile_differential(spark, closed,
                                                     grouped):
    """Round-9 wavelet order statistics: rolling median + all five
    quantile interpolations through the sliding kernel vs brute force,
    dense data with nulls and NaNs (NaN-greatest selection order)."""
    rng = np.random.RandomState(11)
    n = 240
    base = dt.datetime(2024, 5, 1)
    offs = np.sort(rng.randint(0, 240 * 60, size=n))
    ts = [base + dt.timedelta(seconds=int(o), microseconds=i % 5)
          for i, o in enumerate(offs)]
    vals = []
    for i in range(n):
        r = rng.rand()
        vals.append(None if r < 0.1
                    else float("nan") if r < 0.16
                    else round(float(rng.randn() * 20), 3))
    groups = [f"g{i % 3}" for i in range(n)] if grouped else None
    order = sorted(range(n), key=lambda i: ts[i])
    ts_s = [ts[i] for i in order]
    vals_s = [vals[i] for i in order]
    groups_s = [groups[i] for i in order] if grouped else None
    df = _mkframe(ts, vals, groups).sort("ts")
    res = (df.rolling(index_column="ts", period="50m", closed=closed,
                      group_by="g" if grouped else None)
           .agg(pl.col("v").median().alias("md"),
                pl.col("v").quantile(0.25, "linear").alias("ql"),
                pl.col("v").quantile(0.8, "lower").alias("qlo"),
                pl.col("v").quantile(0.8, "higher").alias("qhi"),
                pl.col("v").quantile(0.5, "midpoint").alias("qm"),
                pl.col("v").quantile(0.33, "nearest").alias("qn"),
                pl.col("v").min().alias("mn")))
    assert _routed_to_kernel(res)
    rows = res.to_a()
    assert len(rows) == n
    span_us = 50 * 60 * 1_000_000
    for i, r in enumerate(rows):
        assert r["ts"] == ts_s[i], f"anchor order broken at {i}"
        t = ts_s[i]
        lo_t = t - dt.timedelta(microseconds=span_us)
        win = []
        for j, tj in enumerate(ts_s):
            if grouped and groups_s[j] != groups_s[i]:
                continue
            inside = {"right": lo_t < tj <= t, "left": lo_t <= tj < t,
                      "both": lo_t <= tj <= t, "none": lo_t < tj < t}[closed]
            if inside:
                win.append(vals_s[j])
        valid = [v for v in win if v is not None]
        sv = sorted(valid, key=lambda v: (math.isnan(v), v))
        k = len(sv)
        exp_md = None if k == 0 else (sv[(k + 1) // 2 - 1] + sv[k // 2]) / 2
        assert _close(r["md"], exp_md), (i, "md", r["md"], exp_md)
        for key, q, interp in (("ql", 0.25, "linear"),
                               ("qlo", 0.8, "lower"),
                               ("qhi", 0.8, "higher"),
                               ("qm", 0.5, "midpoint"),
                               ("qn", 0.33, "nearest")):
            exp = _brute_quantile(win, q, interp)
            assert _close(r[key], exp), (i, key, r[key], exp)


def test_sliding_kernel_median_matches_collect_window_route(spark):
    """The kernel's median must be bit-identical to the validated
    collect-window reducer: run the same rolling median twice, once
    forced onto the collect-window path (std() in the batch blocks the
    kernel), once through the kernel, and compare exports."""
    rng = np.random.RandomState(5)
    n = 160
    ts = [dt.datetime(2024, 2, 1) + dt.timedelta(minutes=int(m))
          for m in np.sort(rng.randint(0, 3000, size=n))]
    vals = [None if rng.rand() < 0.15 else round(float(rng.randn()), 4)
            for _ in range(n)]
    groups = [f"g{i % 2}" for i in range(n)]
    df = _mkframe(ts, vals, groups).sort("ts")
    kern = (df.rolling(index_column="ts", period="3h", group_by="g")
            .agg(pl.col("v").median().alias("md"),
                 pl.col("v").quantile(0.75, "nearest").alias("q75")))
    assert _routed_to_kernel(kern)
    ref = (df.rolling(index_column="ts", period="3h", group_by="g")
           .agg(pl.col("v").median().alias("md"),
                pl.col("v").quantile(0.75, "nearest").alias("q75"),
                pl.col("v").first().alias("_f")))
    assert not _routed_to_kernel(ref)
    a = kern.to_a()
    b = [{k: r[k] for k in ("g", "ts", "md", "q75")} for r in ref.to_a()]
    for x, y in zip(a, b):
        assert x["ts"] == y["ts"] and x["g"] == y["g"]
        assert _close(x["md"], y["md"]) and _close(x["q75"], y["q75"])


@pytest.mark.parametrize("grouped", [False, True])
@pytest.mark.parametrize("period", ["2h", "1mo"])
def test_sliding_kernel_moments_match_collect_window(spark, grouped, period):
    """Round-9 central-moment family: kernel std/var(ddof 0|1)/skew/
    kurtosis must match the validated collect-window reducer
    (exprs._arr_reduce stddev_*/var_*/skewness/kurtosis) — the kernel uses
    chunk-shifted prefix moments, so agreement is to float tolerance, not
    bit-exact.  Values with a large mean (1000 ± 5) stress the raw-moment
    cancellation the chunk shift neutralizes; nulls + NaNs + constant and
    singleton windows cover the reducer's null/NaN edges."""
    rng = np.random.RandomState(17)
    n = 220
    ts = [dt.datetime(2024, 1, 1) + dt.timedelta(minutes=int(m))
          for m in np.sort(rng.randint(0, 4000, size=n))]
    base = 1000.0 + 5.0 * rng.randn(n)
    vals = []
    for i in range(n):
        if rng.rand() < 0.12:
            vals.append(None)
        elif rng.rand() < 0.05:
            vals.append(float("nan"))
        elif i % 23 == 0:
            vals.append(1000.0)   # runs of a constant → zero-variance wins
        else:
            vals.append(round(float(base[i]), 4))
    groups = [f"g{i % 3}" for i in range(n)] if grouped else None
    df = _mkframe(ts, vals, groups).sort("ts")
    by = "g" if grouped else None
    aggs = [pl.col("v").std().alias("sd1"),
            pl.col("v").std(ddof=0).alias("sd0"),
            pl.col("v").var().alias("va1"),
            pl.col("v").var(ddof=0).alias("va0"),
            pl.col("v").skew().alias("sk"),
            pl.col("v").kurtosis().alias("ku"),
            pl.col("v").min().alias("mn")]
    kern = df.rolling(index_column="ts", period=period, group_by=by) \
        .agg(*aggs)
    assert _routed_to_kernel(kern)
    ref = df.rolling(index_column="ts", period=period, group_by=by) \
        .agg(*aggs, pl.col("v").first().alias("_f"))
    assert not _routed_to_kernel(ref)
    a, b = kern.to_a(), ref.to_a()
    assert len(a) == len(b) == n
    for x, y in zip(a, b):
        assert x["ts"] == y["ts"]
        for k in ("sd1", "sd0", "va1", "va0", "sk", "ku", "mn"):
            xv, yv = x[k], y[k]
            if xv is None or yv is None:
                assert xv is None and yv is None, (k, x["ts"], xv, yv)
            elif math.isnan(xv) or math.isnan(yv):
                assert math.isnan(xv) and math.isnan(yv), (k, x["ts"])
            else:
                assert abs(xv - yv) <= 1e-7 + 1e-7 * abs(yv), \
                    (k, x["ts"], xv, yv)


def test_sliding_kernel_wrapped_post_transforms(spark):
    """Round-9 wrapper route: elementwise post-transforms over kernelable
    leaves (median().round, max()-min(), quantile()*2+1, std().round)
    reach the kernel — previously any post transform above a median forced
    the O(n·w) collect-window walk — and match the collect-window truth.
    Also pins that the leaves' ``_fn`` patch is RESTORED (the same expr
    objects bind correctly on a later non-kernel route)."""
    rng = np.random.RandomState(23)
    n = 180
    ts = [dt.datetime(2024, 3, 1) + dt.timedelta(minutes=int(m))
          for m in np.sort(rng.randint(0, 3000, size=n))]
    vals = [None if rng.rand() < 0.1 else round(float(rng.randn()) * 10, 4)
            for _ in range(n)]
    groups = [f"g{i % 2}" for i in range(n)]
    df = _mkframe(ts, vals, groups).sort("ts")
    aggs = [pl.col("v").median().round(2).alias("md_r"),
            (pl.col("v").max() - pl.col("v").min()).alias("rng"),
            (pl.col("v").quantile(0.9, "linear") * 2 + 1).alias("q2"),
            pl.col("v").std().round(4).alias("sd_r"),
            pl.len().alias("n")]
    kern = df.rolling(index_column="ts", period="2h", group_by="g") \
        .agg(*aggs)
    assert _routed_to_kernel(kern)
    assert kern.columns == ["g", "ts", "md_r", "rng", "q2", "sd_r", "n"]
    ref = df.rolling(index_column="ts", period="2h", group_by="g") \
        .agg(*aggs, pl.col("v").first().alias("_f"))
    assert not _routed_to_kernel(ref)
    a, b = kern.to_a(), ref.to_a()
    assert len(a) == len(b) == n
    # export order: anchor (input) order, same as every other rolling path
    in_order = [(g, t) for g, t in zip(groups, ts)]
    assert [(r["g"], r["ts"]) for r in a] == in_order
    for x, y in zip(a, b):
        for k in ("md_r", "rng", "q2", "sd_r", "n"):
            assert _close(x[k], y[k]), (k, x["ts"], x[k], y[k])
    # the SAME expr objects must still bind on a non-kernel route after
    # the wrapper pass restored their _fn (patch leak would break this)
    again = df.rolling(index_column="ts", period="2h", group_by="g") \
        .agg(*aggs, pl.col("v").first().alias("_f"))
    assert not _routed_to_kernel(again)
    assert [r["md_r"] for r in again.to_a()] == [r["md_r"] for r in b]


def test_sliding_kernel_wrapper_bails_safely(spark):
    """Wrapper-route misfits stay on the validated routes: a batch whose
    wrapper mixes a NON-kernelable aggregate (first) or a bare column
    (per-window list semantics) must not reach the kernel and must still
    compute correctly via collect-window."""
    ts = [dt.datetime(2024, 1, 1) + dt.timedelta(hours=i) for i in range(6)]
    vals = [1.0, 2.0, 4.0, 8.0, 16.0, 32.0]
    df = _mkframe(ts, vals, None).sort("ts")
    # non-kernelable leaf under the wrapper
    r1 = df.rolling(index_column="ts", period="3h") \
        .agg((pl.col("v").first() + pl.col("v").median()).alias("x"))
    assert not _routed_to_kernel(r1)
    assert [r["x"] for r in r1.to_a()] == [2.0, 2.5, 3.0, 6.0, 12.0, 24.0]
    # median-with-post forces the wrapper path; min stays a bare leaf
    r2 = df.rolling(index_column="ts", period="3h") \
        .agg(pl.col("v").median().round(1).alias("m"),
             pl.col("v").min().alias("mn"))
    assert _routed_to_kernel(r2)
    assert [r["m"] for r in r2.to_a()] == [1.0, 1.5, 2.0, 4.0, 8.0, 16.0]
    assert [r["mn"] for r in r2.to_a()] == [1.0, 1.0, 1.0, 2.0, 4.0, 8.0]


def test_sliding_kernel_corr_cov_match_window_semantics(spark):
    """Round-9 pair kinds: kernel pearson corr / covar(ddof 1|0) must
    reproduce Spark's F.corr/F.covar_* window semantics EXACTLY by
    value class — pair-null skipping, NaN poisoning, zero-variance → NaN,
    and corr's measured n<2 → NULL (not the 0/0 NaN) — since the kernel
    replaces the direct range-frame route those functions used to take."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rng = np.random.RandomState(29)
    n = 260
    ts = [dt.datetime(2024, 1, 1) + dt.timedelta(minutes=int(m))
          for m in np.sort(rng.randint(0, 4000, size=n))]
    a = 100.0 + 7.0 * rng.randn(n)
    b = 0.4 * a + 3.0 * rng.randn(n)
    A = [None if i % 11 == 0 else round(float(a[i]), 4) for i in range(n)]
    B = [None if i % 17 == 3 else round(float(b[i]), 4) for i in range(n)]
    for i in range(40, 46):
        A[i] = 5.0              # zero-variance stretch
    B[50] = float("nan")
    groups = [f"g{i % 2}" for i in range(n)]
    data = {"ts": [t.strftime("%Y-%m-%d %H:%M:%S.%f") for t in ts],
            "g": groups, "a": A, "b": B}
    df = (pl.DataFrame(data)
          .with_columns(pl.col("ts").cast(pl.Datetime)).sort("ts"))
    res = (df.rolling(index_column="ts", period="90m", group_by="g")
           .agg(pl.corr("a", "b").alias("c"),
                pl.cov("a", "b").alias("cs"),
                pl.cov("a", "b", ddof=0).alias("cp"),
                pl.col("a").min().alias("mn")))
    assert _routed_to_kernel(res)
    got = sorted(res.to_a(), key=lambda r: (r["g"], r["ts"]))
    sdf = df.lazy()._sdf
    tsus = F.unix_micros(F.col("ts").cast("timestamp"))
    w = (Window.partitionBy("g").orderBy(tsus)
         .rangeBetween(-90 * 60 * 1_000_000 + 1, 0))
    ref = sorted([r.asDict() for r in
                  sdf.select("g", "ts",
                             F.corr("a", "b").over(w).alias("c"),
                             F.covar_samp("a", "b").over(w).alias("cs"),
                             F.covar_pop("a", "b").over(w).alias("cp"),
                             F.min("a").over(w).alias("mn")).collect()],
                 key=lambda r: (r["g"], r["ts"]))
    assert len(got) == len(ref) == n

    def cls(v):
        if v is None:
            return "null"
        if isinstance(v, float) and math.isnan(v):
            return "nan"
        return "val"

    for x, y in zip(got, ref):
        assert x["ts"] == y["ts"] and x["g"] == y["g"]
        for k in ("c", "cs", "cp", "mn"):
            assert cls(x[k]) == cls(y[k]), (k, x["ts"], x[k], y[k])
            if cls(x[k]) == "val":
                assert abs(x[k] - y[k]) <= 1e-7 + 1e-7 * abs(y[k]), \
                    (k, x["ts"], x[k], y[k])
    # spearman corr classifies as the spear2 pair leaf (round-11: the
    # kernel hosts per-window average ranks; band/collect-win are
    # fallbacks) and must agree with the band route's rank+corr math
    import warnings as _w

    with _w.catch_warnings():
        _w.simplefilter("ignore")
        sp = (df.rolling(index_column="ts", period="90m", group_by="g")
              .agg(pl.corr("a", "b", method="spearman").alias("s"),
                   pl.len().alias("n")))
        assert _routed_to_kernel(sp)
        from polars_ruby_spark.functions.duration import parse_duration

        band = (df.rolling(index_column="ts", period="90m", group_by="g")
                ._agg_band(parse_duration("90m"),
                           (pl.corr("a", "b", method="spearman").alias("s"),
                            pl.len().alias("n")), {}))
    gs = sorted(sp.to_a(), key=lambda r: (r["g"], r["ts"]))
    bs = sorted(band.to_a(), key=lambda r: (r["g"], r["ts"]))
    assert len(gs) == len(bs) == n
    for x, y in zip(gs, bs):
        assert x["ts"] == y["ts"] and x["g"] == y["g"] and x["n"] == y["n"]
        assert cls(x["s"]) == cls(y["s"]), (x["ts"], x["s"], y["s"])
        if cls(x["s"]) == "val":
            assert abs(x["s"] - y["s"]) <= 1e-9 + 1e-9 * abs(y["s"])


def test_collect_window_index_reading_agg_still_pinned(spark):
    """The round-7 regression q156 used to pin — a COLLECT-WINDOW
    aggregate reading the INDEX column must see the per-window element
    values, not the anchor's scalar — stays covered on that route now
    that q156 itself rides the wrapped kernel (first() forces
    collect-window; the kernel result is the cross-check)."""
    ts = [dt.datetime(2024, 1, 1) + dt.timedelta(hours=i) for i in range(5)]
    vals = [1.0, 2.0, 3.0, 4.0, 5.0]
    df = _mkframe(ts, vals, None).sort("ts")
    cw = (df.rolling(index_column="ts", period="2h")
          .agg(pl.col("ts").min().alias("w0"),
               pl.col("v").first().alias("_f")))
    assert not _routed_to_kernel(cw)
    kr = (df.rolling(index_column="ts", period="2h")
          .agg(pl.col("ts").min().alias("w0"),
               pl.col("v").max().alias("_m")))
    assert _routed_to_kernel(kr)
    want = [ts[0], ts[0], ts[1], ts[2], ts[3]]   # (t-2h, t] window starts
    assert [r["w0"] for r in cw.to_a()] == want
    assert [r["w0"] for r in kr.to_a()] == want


@pytest.mark.parametrize("closed", CLOSED)
def test_rolling_by_kernel_attach_differential(spark, closed):
    """Round-9 expr-level attach: rolling_{min,median,quantile,std}_by
    bind through the sliding kernel (attach_rolling_by_multi) instead of the
    O(n·w) JVM range frame.  Differential vs the plain window route
    (rolling_mean_by keeps it — same WindowSpec semantics) and vs brute
    force, grouped via over() and ungrouped, all 4 closed modes; export
    row order must stay the input order (the hook relies on the deferred
    order-dirty restore)."""
    rng = np.random.RandomState(31)
    n = 150
    ts = [dt.datetime(2024, 1, 1) + dt.timedelta(minutes=int(m))
          for m in np.sort(rng.randint(0, 2500, size=n))]
    vals = [None if rng.rand() < 0.12 else round(float(rng.randn()) * 5, 3)
            for _ in range(n)]
    groups = [f"g{i % 2}" for i in range(n)]
    data = {"ts": [t.strftime("%Y-%m-%d %H:%M:%S.%f") for t in ts],
            "v": vals, "g": groups, "tag": list(range(n))}
    df = (pl.DataFrame(data)
          .with_columns(pl.col("ts").cast(pl.Datetime)).sort("ts"))
    out = df.with_columns(
        pl.col("v").rolling_min_by("ts", "1h", closed=closed)
        .over("g").alias("mn"),
        pl.col("v").rolling_median_by("ts", "1h", closed=closed)
        .over("g").alias("md"),
        pl.col("v").rolling_quantile_by("ts", "1h", quantile=0.25,
                                        closed=closed,
                                        interpolation="linear")
        .over("g").alias("q"),
        pl.col("v").rolling_std_by("ts", "1h", closed=closed)
        .over("g").alias("sd"))
    plan = out.lazy()._sdf.queryExecution().optimizedPlan().toString() \
        if hasattr(out.lazy()._sdf, "queryExecution") else \
        out.lazy()._sdf._jdf.queryExecution().optimizedPlan().toString()
    assert "FlatMapGroupsInArrow" in plan
    rows = out.to_a()
    assert [r["tag"] for r in rows] == list(range(n))  # input order kept
    span = dt.timedelta(hours=1)
    for i, r in enumerate(rows):
        win = []
        for j in range(n):
            if groups[j] != groups[i] or vals[j] is None:
                continue
            d = ts[i] - ts[j]
            inside = {
                "right": dt.timedelta(0) <= d < span,
                "left": dt.timedelta(0) < d <= span,
                "both": dt.timedelta(0) <= d <= span,
                "none": dt.timedelta(0) < d < span,
            }[closed]
            if inside:
                win.append(vals[j])
        if not win:
            assert r["mn"] is None and r["md"] is None and r["q"] is None
            continue
        assert _close(r["mn"], min(win)), (i, r["mn"], min(win))
        sw = sorted(win)
        k = len(sw)
        md = (sw[(k - 1) // 2] + sw[k // 2]) / 2
        assert _close(r["md"], md), (i, r["md"], md)
        pos = 0.25 * (k - 1)
        lo_, hi_ = sw[int(math.floor(pos))], sw[int(math.ceil(pos))]
        assert _close(r["q"], lo_ + (pos - math.floor(pos)) * (hi_ - lo_))
        if k > 1:
            m = sum(sw) / k
            sd = math.sqrt(sum((x - m) ** 2 for x in sw) / (k - 1))
            assert _close(r["sd"], sd), (i, r["sd"], sd)
        else:
            assert r["sd"] is None


def test_rolling_by_kernel_composes_and_falls_back(spark):
    """The attach composes with elementwise post-transforms (round
    composes over the hook) and with further with_columns; a value dtype
    the kernel rejects (string min) falls back to the window route
    without error."""
    ts = [dt.datetime(2024, 1, 1) + dt.timedelta(hours=i) for i in range(6)]
    df = _mkframe(ts, [3.0, 1.0, 2.0, 5.0, 4.0, 6.0], None).sort("ts") \
        .with_columns(pl.col("v").cast(pl.String).alias("s"))
    out = df.with_columns(
        pl.col("v").rolling_median_by("ts", "2h").round(1).alias("mr"))
    assert [r["mr"] for r in out.to_a()] == [3.0, 2.0, 1.5, 3.5, 4.5, 5.0]
    # min over strings: ValueError inside the attach → window route
    out2 = df.with_columns(
        pl.col("s").rolling_min_by("ts", "2h").alias("smn"))
    assert [r["smn"] for r in out2.to_a()] == \
        ["3.0", "1.0", "1.0", "2.0", "4.0", "4.0"]


@pytest.mark.parametrize("center", [False, True])
def test_rolling_rowcount_kernel_attach(spark, center):
    """Round-9: UNGROUPED row-count rolling_{min,median,sum,std,quantile}
    previously bound a KEYLESS window — one task for the whole frame.
    They now ride the sliding kernel chunked by the dense row index
    (boundary rows duplicate both ways for center frames).  Brute-force
    differential incl. min_periods nulls and export order; grouped
    over(k) keeps the partitioned window route."""
    rng = np.random.RandomState(37)
    n = 160
    vals = [None if rng.rand() < 0.15 else round(float(rng.randn()) * 4, 3)
            for _ in range(n)]
    df = pl.DataFrame({"v": vals, "tag": list(range(n))})
    out = df.with_columns(
        pl.col("v").rolling_min(6, center=center).alias("mn"),
        pl.col("v").rolling_median(6, center=center).alias("md"),
        pl.col("v").rolling_sum(6, min_periods=2, center=center)
        .alias("sm"),
        pl.col("v").rolling_std(6, center=center).alias("sd"))
    plan = out.lazy()._sdf._jdf.queryExecution().optimizedPlan().toString()
    assert "FlatMapGroupsInArrow" in plan
    rows = out.to_a()
    assert [r["tag"] for r in rows] == list(range(n))
    w = 6
    before = (w - 1) // 2 if center else w - 1
    after = (w - 1 - before) if center else 0
    for i, r in enumerate(rows):
        win = [vals[j] for j in range(max(0, i - before),
                                      min(n, i + after + 1))
               if vals[j] is not None]
        k = len(win)
        if k >= w:
            sw = sorted(win)
            assert _close(r["mn"], sw[0])
            assert _close(r["md"], (sw[(k - 1) // 2] + sw[k // 2]) / 2)
            m = sum(sw) / k
            assert _close(r["sd"],
                          math.sqrt(sum((x - m) ** 2 for x in sw)
                                    / (k - 1)))
        else:
            assert r["mn"] is None and r["md"] is None and r["sd"] is None
        assert (_close(r["sm"], sum(win)) if k >= 2 else r["sm"] is None)
    # grouped: stays on the partitioned JVM window (parallel across keys)
    g = pl.DataFrame({"v": vals, "g": [f"g{i % 3}" for i in range(n)]})
    gro = g.with_columns(
        pl.col("v").rolling_min(4).over("g").alias("gm"))
    gplan = gro.lazy()._sdf._jdf.queryExecution().optimizedPlan().toString()
    assert "FlatMapGroupsInArrow" not in gplan


def test_rolling_median_quantile_rowcount_everywhere(spark):
    """Spark refuses TypedImperativeAggregates (median/percentile) in ANY
    window frame — before round-9 expr-level rolling_median/rolling_
    quantile THREW at bind (ungrouped, over(keys), and inside
    group_by().agg).  All three now route through the sliding kernel
    (ungrouped attach; group-local-ordinal remap; agg prestage falls back
    to the remap when the direct window binding fails)."""
    df = pl.DataFrame({"v": [1.0, 3.0, 2.0, 5.0, 4.0, 6.0],
                       "g": ["a", "a", "a", "b", "b", "b"]})
    # ungrouped
    u = df.with_columns(pl.col("v").rolling_median(3).alias("m"))
    assert [r["m"] for r in u.to_a()] == [None, None, 2.0, 3.0, 4.0, 5.0]
    # grouped over()
    o = df.with_columns(
        pl.col("v").rolling_median(2).over("g").alias("m"),
        pl.col("v").rolling_quantile(0.5, 2, min_periods=1)
        .over("g").alias("q"))
    assert [r["m"] for r in o.to_a()] == [None, 2.0, 2.5, None, 4.5, 5.0]
    # rolling nearest = trunc(n*q): [1]→1, [1,3]→3, [3,2]→3, [5]→5,
    # [5,4]→5, [4,6]→6 (polars-rs rolling/no_nulls/quantile.rs indexing)
    assert [r["q"] for r in o.to_a()] == [1.0, 3.0, 3.0, 5.0, 5.0, 6.0]
    # inside group_by().agg (implicit implode of the per-group series)
    a = df.group_by("g").agg(
        pl.col("v").rolling_median(2).alias("m")).sort("g").to_a()
    assert a[0]["m"] == [None, 2.0, 2.5] and a[1]["m"] == [None, 4.5, 5.0]


def test_shift_ungrouped_kernel_attach(spark):
    """Round-9: ungrouped shift/lead bound a KEYLESS lag window (one
    task).  They now ride the kernel as the min over the single-row frame
    [i-n, i-n] — null source → null, NaN source → NaN, fill_value
    coalesces exactly like the window route (including its interior-null
    fill), lead via negative n; strings fall back to the window route."""
    v = [1.0, None, 3.0, float("nan"), 5.0, 6.0]
    df = pl.DataFrame({"v": v, "tag": list(range(6))})
    out = df.with_columns(
        pl.col("v").shift(2).alias("s2"),
        pl.col("v").shift(-1).alias("l1"),
        pl.col("v").shift(1, fill_value=-9.0).alias("sf"))
    plan = out.lazy()._sdf._jdf.queryExecution().optimizedPlan().toString()
    assert "FlatMapGroupsInArrow" in plan
    rows = out.to_a()
    assert [r["tag"] for r in rows] == list(range(6))

    def norm(k):
        return [None if r[k] is None else
                ("nan" if math.isnan(r[k]) else r[k]) for r in rows]

    assert norm("s2") == [None, None, 1.0, None, 3.0, "nan"]
    assert norm("l1") == [None, 3.0, "nan", 5.0, 6.0, None]
    assert norm("sf") == [-9.0, 1.0, -9.0, 3.0, "nan", 5.0]
    # grouped: stays on the partitioned streaming lag
    g = pl.DataFrame({"v": [1.0, 2.0, 3.0, 4.0], "g": ["a", "a", "b", "b"]})
    gro = g.with_columns(pl.col("v").shift(1).over("g").alias("p"))
    gplan = gro.lazy()._sdf._jdf.queryExecution().optimizedPlan().toString()
    assert "FlatMapGroupsInArrow" not in gplan
    assert [r["p"] for r in gro.to_a()] == [None, 1.0, None, 3.0]
    # strings take the dense-row-index SELF-JOIN (late round-10) — any
    # dtype, task-parallel; their old fallback was a keyless lag window
    s = pl.DataFrame({"s": ["a", "b", None, "d"], "tag": [0, 1, 2, 3]})
    so = s.with_columns(pl.col("s").shift(1).alias("p"),
                        pl.col("s").shift(-2).alias("l"),
                        pl.col("s").shift(1, fill_value=pl.lit("Z"))
                        .alias("zf"))
    rows = sorted(so.to_a(), key=lambda r: r["tag"])
    assert [r["p"] for r in rows] == [None, "a", "b", None]
    assert [r["l"] for r in rows] == [None, "d", None, None]
    # fill_value coalesces interior nulls too — same as the window route
    # and the numeric kernel path above (sf fills the None at index 2)
    assert [r["zf"] for r in rows] == ["Z", "a", "b", "Z"]
    import re
    splan = so.lazy()._sdf._jdf.queryExecution().optimizedPlan().toString()
    assert not [l for l in splan.splitlines() if re.search(
        r"windowspecdefinition\(__row_idx__#\d+L (ASC|DESC)", l)]


def test_rank_random_seeded_permutation(spark):
    """Late round-10: rank("random") (expr.rb:5649) — ordinal with a
    SEEDED pseudo-random tie permutation off the same distinct-prefix
    attach (tie window ordered by xxhash64(row index, seed)).  Checks:
    deterministic per seed, seed changes the permutation, non-null ranks
    are exactly 1..n, every rank sits inside its tie group's
    [min_rank, max_rank] block, descending complements, grouped
    over(keys) stays partitioned, no keyless data window."""
    import re

    rng = np.random.RandomState(53)
    n = 400
    vals = [None if rng.rand() < 0.1 else float(rng.randint(0, 25))
            for _ in range(n)]
    df = pl.DataFrame({"v": vals, "tag": list(range(n))})
    out = df.with_columns(
        pl.col("v").rank("random", seed=7).alias("r"),
        pl.col("v").rank("random", seed=7).alias("r7"),
        pl.col("v").rank("random", seed=11).alias("r11"),
        pl.col("v").rank("random", seed=7, descending=True).alias("rd"),
        pl.col("v").rank("min").alias("rm"),
        pl.col("v").rank("max").alias("rx"))
    rows = sorted(out.to_a(), key=lambda r: r["tag"])
    r = [x["r"] for x in rows]
    nn = [x for x in r if x is not None]
    assert sorted(nn) == list(range(1, len(nn) + 1))
    assert r == [x["r7"] for x in rows]          # same seed → same ranks
    assert r != [x["r11"] for x in rows]         # new seed → new ranks
    for x in rows:                               # tie-block bounds
        if x["r"] is None:
            assert vals[x["tag"]] is None
        else:
            assert x["rm"] <= x["r"] <= x["rx"]
    rdv = [x["rd"] for x in rows]
    nnd = [x for x in rdv if x is not None]
    assert sorted(nnd) == list(range(1, len(nnd) + 1))
    plan = out.lazy()._sdf._jdf.queryExecution().optimizedPlan().toString()
    assert not [l for l in plan.splitlines() if re.search(
        r"windowspecdefinition\(__row_idx__#\d+L (ASC|DESC)", l)]
    # grouped: partitioned window, ranks valid per group
    g = pl.DataFrame({"v": [1.0, 1.0, 2.0, 1.0, None],
                      "g": ["a", "a", "a", "b", "b"]})
    go = g.with_columns(
        pl.col("v").rank("random", seed=3).over("g").alias("gr"))
    by_g = {}
    for row in go.to_a():
        by_g.setdefault(row["g"], []).append(row["gr"])
    assert sorted(x for x in by_g["a"] if x is not None) == [1, 2, 3]
    assert sorted(x for x in by_g["b"] if x is not None) == [1]


def test_ungrouped_rank_distinct_prefix_attach(spark):
    """Round-9: ungrouped rank() compiled to a window with NO partitionBy
    (one task for the frame).  The distinct-value prefix attach
    (row_index.attach_global_rank_multi) must reproduce every method exactly —
    heavy ties, nulls unranked, descending — with no keyless data window
    in the plan, and grouped over(keys) must keep the partitioned rank."""
    rng = np.random.RandomState(41)
    n = 300
    vals = [None if rng.rand() < 0.1 else float(rng.randint(0, 40))
            for _ in range(n)]
    df = pl.DataFrame({"v": vals, "tag": list(range(n))})
    out = df.with_columns(
        pl.col("v").rank("average").alias("avg"),
        pl.col("v").rank("min").alias("mn"),
        pl.col("v").rank("max").alias("mx"),
        pl.col("v").rank("dense").alias("dn"),
        pl.col("v").rank("ordinal").alias("od"),
        pl.col("v").rank("average", descending=True).alias("davg"))
    rows = out.to_a()
    assert [r["tag"] for r in rows] == list(range(n))
    nn = [(i, x) for i, x in enumerate(vals) if x is not None]
    sv = sorted(x for _, x in nn)

    def brute(x, i, method, desc=False):
        import bisect
        vs = sorted((-y for _, y in nn)) if desc else sv
        key = -x if desc else x
        lo = bisect.bisect_left(vs, key)
        hi = bisect.bisect_right(vs, key)
        if method == "min":
            return lo + 1
        if method == "max":
            return hi
        if method == "average":
            return (lo + hi + 1) / 2
        if method == "dense":
            return len(set(y for y in vs if y < key)) + 1
        # ordinal: strictly-before + earlier equal rows (frame order)
        eq_before = sum(1 for j, y in nn if y == x and j < i)
        return lo + eq_before + 1

    for i, r in enumerate(rows):
        if vals[i] is None:
            for k in ("avg", "mn", "mx", "dn", "od", "davg"):
                assert r[k] is None, (k, i)
            continue
        assert r["avg"] == brute(vals[i], i, "average")
        assert r["mn"] == brute(vals[i], i, "min")
        assert r["mx"] == brute(vals[i], i, "max")
        assert r["dn"] == brute(vals[i], i, "dense")
        assert r["od"] == brute(vals[i], i, "ordinal")
        assert r["davg"] == brute(vals[i], i, "average", desc=True)
    # plan: no window ordered by the DATA column without partition keys
    plan = out.lazy()._sdf._jdf.queryExecution().optimizedPlan().toString()
    import re
    for line in plan.splitlines():
        m = re.search(r"windowspecdefinition\(([^)]*)\)", line)
        if m and "__rix_pid__" not in m.group(1) \
                and "__gr_v__" not in m.group(1):
            raise AssertionError(f"keyless data window: {line.strip()}")
    # grouped keeps the partitioned rank windows (no attach)
    g = pl.DataFrame({"v": [3.0, 1.0, 2.0, 2.0], "g": ["a", "a", "b", "b"]})
    go = g.with_columns(pl.col("v").rank().over("g").alias("r"))
    assert [r["r"] for r in go.to_a()] == [2.0, 1.0, 1.5, 1.5]


def test_ungrouped_rank_multi_batch_one_attach(spark):
    """Round-10: SAME-COLUMN rank bindings batch into ONE distinct-prefix
    attach (attach_global_rank_multi) — one distinct aggregate, one join,
    and ZERO inter-stage checkpoints on the pure-rank chain (q165's six
    chained attaches spent 4.2 s of 4.4 s in construct).  Descending
    methods are count-complement arithmetic on the same ascending table."""
    from unittest import mock

    from pyspark.sql import DataFrame

    from polars_ruby_spark.operators import row_index as ri

    df = pl.DataFrame({"v": [3.0, 1.0, 3.0, None, 2.0, 3.0],
                       "tag": list(range(6))})
    multi_calls = []
    orig_multi = ri.attach_global_rank_multi
    orig_ckpt = DataFrame.localCheckpoint
    ckpt_calls = []

    def spy_multi(sdf, value_fn, items):
        multi_calls.append(list(items))
        return orig_multi(sdf, value_fn, items)

    def spy_ckpt(self, eager=True):
        ckpt_calls.append(eager)
        return orig_ckpt(self, eager)

    with mock.patch.object(ri, "attach_global_rank_multi", spy_multi), \
            mock.patch.object(DataFrame, "localCheckpoint", spy_ckpt):
        out = df.with_columns(
            pl.col("v").rank("min").alias("mn"),
            pl.col("v").rank("max", descending=True).alias("dmx"),
            pl.col("v").rank("dense", descending=True).alias("ddn"),
            pl.col("v").rank("ordinal", descending=True).alias("dod"),
            (pl.col("v").rank("average") + 1).alias("avg1"))
        rows = out.to_a()
    # one batched attach carrying all five bindings, no checkpoints
    assert len(multi_calls) == 1 and len(multi_calls[0]) == 5
    assert ckpt_calls == []
    assert [r["tag"] for r in rows] == list(range(6))
    # v = [3,1,3,None,2,3]: asc min = [3,1,3,-,2,3]; desc complements
    assert [r["mn"] for r in rows] == [3, 1, 3, None, 2, 3]
    assert [r["dmx"] for r in rows] == [3, 5, 3, None, 4, 3]
    assert [r["ddn"] for r in rows] == [1, 3, 1, None, 2, 1]
    assert [r["dod"] for r in rows] == [1, 5, 2, None, 4, 3]
    assert [r["avg1"] for r in rows] == [5.0, 2.0, 5.0, None, 3.0, 5.0]
    # different columns do NOT share a table: two sigs → two attaches
    multi_calls.clear()
    df2 = pl.DataFrame({"a": [1.0, 2.0], "b": [2.0, 1.0]})
    with mock.patch.object(ri, "attach_global_rank_multi", spy_multi):
        out2 = df2.with_columns(
            pl.col("a").rank("min").alias("ra"),
            pl.col("a").rank("dense").alias("da"),
            pl.col("b").rank("min").alias("rb"),
            pl.col("b").rank("dense").alias("db"))
        rows2 = out2.to_a()
    assert len(multi_calls) == 2
    assert [r["ra"] for r in rows2] == [1, 2]
    assert [r["rb"] for r in rows2] == [2, 1]


def test_hook_binary_compositions_keep_attach(spark):
    """Round-10 (VERDICT r9 #2): binary compositions of TWO hook-bearing
    exprs (interpolate()+interpolate()) and hook×plain-column (diff()*col)
    compose the attaches — previously they silently re-bound the keyless
    one-task window (and for interpolate the O(n²) UnboundedFollowing
    frame).  The executed plan must contain no unpartitioned data window."""
    from tools.plan_audit import unpartitioned_window_violations

    df = pl.DataFrame({
        "v": [1.0, None, None, 4.0, None, 10.0],
        "w": [2.0, 3.0, 4.0, 5.0, 6.0, 7.0],
        "tag": list(range(6))})
    out = df.with_columns(
        (pl.col("v").interpolate() + pl.col("v").interpolate()).alias("ii"),
        (pl.col("v").forward_fill() * pl.col("w")).alias("fw"),
        (pl.col("w").diff() * pl.col("w")).alias("dw"),
        (pl.col("w") - pl.col("v").backward_fill()).alias("wb"))
    rows = out.to_a()
    assert [r["tag"] for r in rows] == list(range(6))
    # interpolated v = [1,2,3,4,7,10]
    assert [r["ii"] for r in rows] == [2.0, 4.0, 6.0, 8.0, 14.0, 20.0]
    assert [r["fw"] for r in rows] == [2.0, 3.0, 4.0, 20.0, 24.0, 70.0]
    assert [r["dw"] for r in rows] == [None, 3.0, 4.0, 5.0, 6.0, 7.0]
    assert [r["wb"] for r in rows] == [1.0, -1.0, 0.0, 1.0, -4.0, -3.0]
    plan = out.lazy()._sdf._jdf.queryExecution().executedPlan().toString()
    assert unpartitioned_window_violations(plan) == 0


def test_when_then_hooked_branches_keep_attach(spark):
    """Round-10: when/then/otherwise chains whose branches or conditions
    carry a global-ordinal attach compose it (_compose_hook_parts) —
    fill-family branches merge into ONE attach; previously the chain
    re-bound the keyless one-task window."""
    from unittest import mock

    from tools.plan_audit import unpartitioned_window_violations

    from polars_ruby_spark.operators import row_index as ri

    calls = []
    orig = ri.attach_global_fill_multi

    def spy(sdf, items):
        calls.append(len(items))
        return orig(sdf, items)

    df = pl.DataFrame({"v": [1.0, None, None, 4.0, None, 10.0],
                       "w": [1.0, 2.0, 3.0, 4.0, 5.0, 6.0]})
    with mock.patch.object(ri, "attach_global_fill_multi", spy):
        out = df.with_columns(
            pl.when(pl.col("w") > 2)
            .then(pl.col("v").interpolate())
            .otherwise(pl.col("v").forward_fill()).alias("a"),
            pl.when(pl.col("w").diff() > 0)
            .then(pl.col("w")).otherwise(-1.0).alias("b"))
        rows = out.to_a()
    # round-11: the two fill-family branches of `a` AND `b`'s diff(1)
    # ("lag" kind) all merge into ONE 3-item attach
    assert calls == [3], calls
    assert [r["a"] for r in rows] == [1.0, 1.0, 3.0, 4.0, 7.0, 10.0]
    assert [r["b"] for r in rows] == [-1.0, 2.0, 3.0, 4.0, 5.0, 6.0]
    plan = out.lazy()._sdf._jdf.queryExecution().executedPlan().toString()
    assert unpartitioned_window_violations(plan) == 0
    # plain when/then is untouched (no hook machinery)
    p = pl.DataFrame({"x": [1.0, 2.0]}).with_columns(
        pl.when(pl.col("x") > 1).then(pl.col("x")).otherwise(0.0).alias("y"))
    assert [r["y"] for r in p.to_a()] == [0.0, 2.0]


def test_nary_constructors_hooked_parts_keep_attach(spark):
    """Round-10: struct / concat_str / coalesce / the horizontal family
    compose hooked parts through _wire_hook_parts instead of re-binding
    the keyless window; plain uses are untouched."""
    from tools.plan_audit import unpartitioned_window_violations

    df = pl.DataFrame({"v": [1.0, None, 3.0, None],
                       "w": [4.0, 5.0, 1.0, 2.0]})
    out = df.with_columns(
        pl.min_horizontal(pl.col("v").forward_fill(),
                          pl.col("w")).alias("mh"),
        pl.coalesce(pl.col("v"), pl.col("v").backward_fill(),
                    pl.col("w")).alias("co"),
        pl.struct(pl.col("v").interpolate().alias("li"),
                  pl.col("w")).alias("st"),
        pl.concat_str([pl.col("v").forward_fill(), pl.col("w")],
                      separator="-").alias("cs"),
        pl.mean_horizontal(pl.col("v").forward_fill(),
                           pl.col("w")).alias("me"))
    rows = out.to_a()
    assert [r["mh"] for r in rows] == [1.0, 1.0, 1.0, 2.0]
    assert [r["co"] for r in rows] == [1.0, 3.0, 3.0, 2.0]
    assert [r["st"]["li"] for r in rows] == [1.0, 2.0, 3.0, None]
    assert [r["cs"] for r in rows] == ["1.0-4.0", "1.0-5.0", "3.0-1.0",
                                       "3.0-2.0"]
    assert [r["me"] for r in rows] == [2.5, 3.0, 2.0, 2.5]
    plan = out.lazy()._sdf._jdf.queryExecution().executedPlan().toString()
    assert unpartitioned_window_violations(plan) == 0
    # aggregate struct stays an aggregate (agg(struct(sum, mean)))
    g = pl.DataFrame({"x": [1.0, 2.0], "g": ["a", "a"]})
    go = g.group_by("g").agg(pl.struct(pl.col("x").sum().alias("s"),
                                       pl.col("x").mean().alias("m"))
                             .alias("sm"))
    assert go.to_a()[0]["sm"] == {"s": 3.0, "m": 1.5}


def test_limited_fills_attach_differential(spark):
    """Late round-10: LIMITED forward/backward fills ride the chunked
    fill attach ("ff:k"/"bf:k" kinds — one distance predicate over the
    struct(idx, v) carry) instead of a KEYLESS bounded-frame window.
    Brute-force differential over random nulls at 32 chunks, limits both
    below and above the ~31-row chunk width (cross-chunk carries), plus
    a plan assertion that no keyless data window remains."""
    import random

    rng = random.Random(77)
    n = 1000
    vals = [round(rng.uniform(-50, 50), 3) if rng.random() > 0.6 else None
            for _ in range(n)]

    def brute(vs, k, backward):
        out = []
        src = None  # (index, value)
        it = range(n - 1, -1, -1) if backward else range(n)
        for i in it:
            if vs[i] is not None:
                src = (i, vs[i])
                out.append(vs[i])
            elif src is not None and abs(i - src[0]) <= k:
                out.append(src[1])
            else:
                out.append(None)
        return out[::-1] if backward else out

    df = pl.DataFrame({"v": vals, "tag": list(range(n))})
    out = df.with_columns(
        *[pl.col("v").forward_fill(k).alias(f"f{k}") for k in
          (1, 2, 5, 37, 200)],
        *[pl.col("v").backward_fill(k).alias(f"b{k}") for k in
          (1, 5, 37)])
    rows = sorted(out.to_a(), key=lambda r: r["tag"])
    for k in (1, 2, 5, 37, 200):
        assert [r[f"f{k}"] for r in rows] == brute(vals, k, False), k
    for k in (1, 5, 37):
        assert [r[f"b{k}"] for r in rows] == brute(vals, k, True), k
    import re
    plan = out.lazy()._sdf._jdf.queryExecution().optimizedPlan().toString()
    assert not [l for l in plan.splitlines() if re.search(
        r"windowspecdefinition\(__row_idx__#\d+L (ASC|DESC)", l)]


def test_composed_fill_bindings_flatten_to_one_attach(spark):
    """Late round-10: composed conditionals/constructors whose hooked
    parts are ALL fill-family carry merged ``_fill_batch`` metadata, so a
    with_columns holding several of them (plus bare fill exprs) flattens
    into exactly ONE attach_global_fill_multi call in ``_bind_all`` —
    previously each composed binding chained its own checkpointed attach
    (q167 construct 4.2 s → one shared attach)."""
    from unittest import mock

    from polars_ruby_spark.operators import row_index as ri

    calls = []
    orig = ri.attach_global_fill_multi

    def spy(sdf, items):
        calls.append(len(items))
        return orig(sdf, items)

    df = pl.DataFrame({"v": [1.0, None, None, 4.0, None, 10.0],
                       "w": [1.0, 2.0, 3.0, 4.0, 5.0, 6.0]})
    with mock.patch.object(ri, "attach_global_fill_multi", spy):
        out = df.with_columns(
            (pl.col("v").interpolate()
             + pl.col("v").interpolate()).alias("ii"),
            pl.when(pl.col("v").is_null())
            .then(pl.col("v").forward_fill())
            .otherwise(pl.col("v") * 2).alias("cw"),
            pl.coalesce(pl.col("v").interpolate(),
                        pl.col("w")).alias("nc"),
            pl.min_horizontal(pl.col("v").forward_fill(),
                              pl.col("w")).alias("nh"))
        rows = out.to_a()
    # ONE flattened attach carrying every binding's items (ii carries its
    # two interpolate operands; cw/nc/nh one each = 5 total)
    assert calls == [5], calls
    assert [r["ii"] for r in rows] == [2.0, 4.0, 6.0, 8.0, 14.0, 20.0]
    assert [r["cw"] for r in rows] == [2.0, 1.0, 1.0, 8.0, 4.0, 20.0]
    assert [r["nc"] for r in rows] == [1.0, 2.0, 3.0, 4.0, 7.0, 10.0]
    assert [r["nh"] for r in rows] == [1.0, 1.0, 1.0, 4.0, 4.0, 6.0]


def test_rowcount_rolling_mixed_widths_batch_one_kernel(spark):
    """Round-11: ungrouped row-window rolling bindings with DIFFERENT
    window sizes (the q164 shape) run through ONE kernel shuffle with
    per-entry frames and ZERO inter-attach checkpoints; values match the
    per-width brute force."""
    from unittest import mock

    from pyspark.sql.classic.dataframe import DataFrame as _CDF

    from polars_ruby_spark.operators import rolling_kernel as rk

    calls, ckpts = [], []
    orig = rk.attach_rolling_by_multi
    orig_ck = _CDF.localCheckpoint

    def spy(sdf, by_e, keys, span, closed, items, row_frame=None,
            entry_frames=None):
        calls.append((len(items), entry_frames))
        return orig(sdf, by_e, keys, span, closed, items,
                    row_frame=row_frame, entry_frames=entry_frames)

    def spy_ck(self, eager=True):
        ckpts.append(eager)
        return orig_ck(self, eager)

    vals = [float(x) for x in [5, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5, 8]]
    vals[3] = None
    df = pl.DataFrame({"v": vals})
    with mock.patch.object(rk, "attach_rolling_by_multi", spy), \
            mock.patch.object(_CDF, "localCheckpoint", spy_ck):
        out = df.with_columns(
            pl.col("v").rolling_median(5).alias("md"),
            pl.col("v").rolling_min(5).alias("mn"),
            pl.col("v").rolling_sum(3, min_periods=2).alias("sm"),
            pl.col("v").rolling_max(4, center=True).alias("mx"))
        rows = out.to_a()
    # one kernel shuffle for all four widths, value+count per binding;
    # the only checkpoint is with_row_index's layout pin on the
    # LocalRelation input — ZERO inter-attach chain checkpoints
    assert len(calls) == 1 and calls[0][0] == 8, calls
    assert len(ckpts) <= 1, ckpts

    def brute(w, agg, mp, center):
        before = (w - 1) // 2 if center else w - 1
        after = (w - 1 - before) if center else 0
        res = []
        for i in range(len(vals)):
            win = [v for v in vals[max(0, i - before):i + after + 1]
                   if v is not None]
            res.append(agg(win) if len(win) >= mp else None)
        return res

    import statistics
    assert [r["md"] for r in rows] == brute(5, statistics.median, 5, False)
    assert [r["mn"] for r in rows] == brute(5, min, 5, False)
    assert [r["sm"] for r in rows] == brute(3, sum, 2, False)
    assert [r["mx"] for r in rows] == brute(4, max, 4, True)


def test_lag_frame_attaches_batch_one_kernel(spark):
    """Round-11: ALL ungrouped lag-frame bindings — shift/diff/pct_change
    with ANY n — share ONE sliding-kernel attach via heterogeneous
    entry_frames (round-10 batched only same-n groups)."""
    from unittest import mock

    from polars_ruby_spark.operators import rolling_kernel as rk

    calls = []
    orig = rk.attach_rolling_by_multi

    def spy(sdf, by_e, keys, span, closed, items, row_frame=None,
            entry_frames=None):
        calls.append((len(items), row_frame, entry_frames))
        return orig(sdf, by_e, keys, span, closed, items,
                    row_frame=row_frame, entry_frames=entry_frames)

    df = pl.DataFrame({"v": [1.0, 3.0, 7.0, 2.0]})
    with mock.patch.object(rk, "attach_rolling_by_multi", spy):
        out = df.with_columns(
            pl.col("v").shift(1).alias("s1"),
            pl.col("v").shift(1, fill_value=-9.0).alias("sf"),
            pl.col("v").diff().alias("d"),
            pl.col("v").pct_change().round(6).alias("p"),
            pl.col("v").shift(2).alias("s2"))
        rows = out.to_a()
    # round-11: pct_change (pnn kind) AND every n=±1 shift/diff ("lag"/
    # "lead" kinds) ride the FILL batch — only the n=2 shift needs the
    # lag-frame kernel, as its own single attach
    assert calls == [(1, (2, -2), None)], calls
    assert [r["s1"] for r in rows] == [None, 1.0, 3.0, 7.0]
    assert [r["sf"] for r in rows] == [-9.0, 1.0, 3.0, 7.0]
    assert [r["d"] for r in rows] == [None, 2.0, 4.0, -5.0]
    assert [r["p"] for r in rows] == [None, 2.0, round(4.0 / 3, 6),
                                      round(-5.0 / 7, 6)]
    assert [r["s2"] for r in rows] == [None, None, 1.0, 3.0]


def test_rolling_spearman_density_warning(spark):
    """Round-10 (VERDICT r9 #6): rolling spearman is the one remaining
    O(n·w) family — at extreme estimated density (rows × occupancy > 1e8)
    the agg must warn loudly with the documented alternatives, and stay
    silent at bench-set densities."""
    import datetime as dt
    import warnings

    n = 15_000
    t0 = dt.datetime(2024, 1, 1)
    dense = pl.DataFrame({
        "ts": [t0 + dt.timedelta(milliseconds=i) for i in range(n)],
        "v": [float(i % 97) for i in range(n)],
        "u": [float((i * 13) % 89) for i in range(n)]})
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        dense.rolling(index_column="ts", period="1h").agg(
            pl.corr("v", "u", method="spearman").alias("s"))
        msgs = [str(x.message) for x in w
                if issubclass(x.category, RuntimeWarning)]
    assert any("per-window" in m and "sliding kernel" in m for m in msgs), \
        msgs
    # sparse series (same rows, 1s period over 15000s): silent
    sparse = pl.DataFrame({
        "ts": [t0 + dt.timedelta(seconds=i) for i in range(2_000)],
        "v": [float(i % 97) for i in range(2_000)],
        "u": [float((i * 13) % 89) for i in range(2_000)]})
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        sparse.rolling(index_column="ts", period="1h").agg(
            pl.corr("v", "u", method="spearman").alias("s"))
        msgs = [str(x.message) for x in w
                if issubclass(x.category, RuntimeWarning)]
    assert not any("per-window" in m for m in msgs), msgs


def test_ungrouped_fills_diff_pct_change_attaches(spark):
    """Round-9: ungrouped unbounded forward/backward fill (two-pass chunk
    prefix + O(chunks) struct-extreme carry — any dtype) and ungrouped
    diff/pct_change (lag via the kernel's single-row frame) replace their
    keyless one-task windows; limited fills and grouped forms keep the
    window routes."""
    v = [None, 1.0, None, None, 4.0, None]
    s = [None, "a", None, None, "d", None]
    df = pl.DataFrame({"v": v, "s": s, "tag": list(range(6))})
    out = df.with_columns(
        pl.col("v").forward_fill().alias("ff"),
        pl.col("v").backward_fill().alias("bf"),
        pl.col("s").forward_fill().alias("sf"),
        pl.col("v").forward_fill(limit=1).alias("fl"),
        pl.col("v").diff().alias("d"),
        pl.col("v").pct_change().alias("p"))
    rows = out.to_a()
    assert [r["tag"] for r in rows] == list(range(6))
    assert [r["ff"] for r in rows] == [None, 1.0, 1.0, 1.0, 4.0, 4.0]
    assert [r["bf"] for r in rows] == [1.0, 1.0, 4.0, 4.0, 4.0, None]
    assert [r["sf"] for r in rows] == [None, "a", "a", "a", "d", "d"]
    assert [r["fl"] for r in rows] == [None, 1.0, 1.0, None, 4.0, 4.0]
    assert [r["d"] for r in rows] == [None, None, None, None, None, None]
    # non-null-adjacent diff
    d2 = pl.DataFrame({"v": [1.0, 3.0, 7.0]}).with_columns(
        pl.col("v").diff().alias("d"), pl.col("v").pct_change().alias("p"))
    assert [r["d"] for r in d2.to_a()] == [None, 2.0, 4.0]
    assert [round(r["p"], 6) if r["p"] is not None else None
            for r in d2.to_a()] == [None, 2.0, round(4.0 / 3, 6)]
    # interpolate (linear + nearest) rides one chunk exchange + two
    # O(chunks) struct-extreme carries; its old keyless form was O(n²)
    # (UnboundedFollowing re-scans the remainder per row)
    iv = [None, 1.0, None, None, 7.0, None, 4.0, None]
    idf = pl.DataFrame({"v": iv}).with_columns(
        pl.col("v").interpolate().alias("li"),
        pl.col("v").interpolate("nearest").alias("ni"))
    assert [r["li"] for r in idf.to_a()] == \
        [None, 1.0, 3.0, 5.0, 7.0, 5.5, 4.0, None]
    assert [r["ni"] for r in idf.to_a()] == \
        [None, 1.0, 1.0, 7.0, 7.0, 7.0, 4.0, None]
    iplan = idf.lazy()._sdf._jdf.queryExecution().optimizedPlan().toString()
    assert "windowspecdefinition(__row_idx__" not in iplan
    # plan: NO keyless ROW_IDX-ordered data window at all — late round-10
    # routed LIMITED fills through the same chunk-exchange attach with a
    # distance predicate on the struct carry ("ff:k"/"bf:k" kinds), so
    # the last keyless fill shape is gone too
    plan = out.lazy()._sdf._jdf.queryExecution().optimizedPlan().toString()
    import re
    keyless = [l for l in plan.splitlines()
               if re.search(
                   r"windowspecdefinition\(__row_idx__#\d+L (ASC|DESC)",
                   l)]
    assert len(keyless) == 0, keyless


def test_ungrouped_peaks_kernel_attach(spark):
    """Round-9: ungrouped peak_max/peak_min bound a keyless lag+lead
    window (one task); both neighbours now come from the kernel's
    single-row frames.  Values must match the grouped (windowed) route
    exactly, incl. null neighbours and boundary rows."""
    v = [1.0, 3.0, 2.0, 5.0, 5.0, 4.0, None, 7.0]
    df = pl.DataFrame({"v": v, "k": ["x"] * 8, "tag": list(range(8))})
    a = df.with_columns(pl.col("v").peak_max().alias("p"),
                        pl.col("v").peak_min().alias("q"))
    plan = a.lazy()._sdf._jdf.queryExecution().optimizedPlan().toString()
    assert "FlatMapGroupsInArrow" in plan
    assert "windowspecdefinition(__row_idx__" not in plan
    ar = a.to_a()
    assert [r["tag"] for r in ar] == list(range(8))
    br = df.with_columns(pl.col("v").peak_max().over("k").alias("p"),
                         pl.col("v").peak_min().over("k").alias("q")).to_a()
    assert [(r["p"], r["q"]) for r in ar] == \
        [(r["p"], r["q"]) for r in br]
    assert [r["p"] for r in ar] == \
        [False, True, False, False, False, False, None, True]

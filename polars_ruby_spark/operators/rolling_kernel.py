"""Sliding-window rolling aggregates as a per-chunk Arrow kernel.

Parity: ``/root/reference/lib/polars/lazy_frame.rb:1161`` (rolling /
group_by_rolling with min/max/sum/mean/count/len aggregates).

Why not the JVM range-frame window: Spark's ``SlidingWindowFunctionFrame``
has no retractable aggregates — it RE-EVALUATES the whole frame buffer for
every output row, so a rolling min/max/sum over windows holding ``w`` rows
costs O(n·w).  At 10× data density that is 100× wall (the q143-class
density wall VERDICT r7 measured).  Min/max also have no prefix-difference
form, so the calendar prefix path can't host them either.

This kernel makes every simple rolling aggregate ≲ linear:

1. JVM side computes per row the anchor's EXACT integer window bounds
   ``(lo_excl, hi_incl]`` in µs (calendar month arithmetic stays in
   Catalyst — ``make_interval`` — so the kernel never does date math) and
   a time-chunk id ~8× the period's upper bound, duplicating each row
   whose timestamp falls within one period below the next chunk's start
   into that chunk (≤1/8 duplication; the same trick the direct and
   collect-window paths use), so every anchor's look-back is complete
   inside its task.
2. One shuffle on ``(by…, chunk)`` → ``applyInArrow``: the kernel sorts
   the chunk by timestamp once, binary-searches every anchor's window
   span (``np.searchsorted``), then answers
   - sum/mean/count/len with prefix-sum differences (the same algebra the
     calendar prefix path already uses), NaN-exact via a separate NaN
     prefix, and
   - min/max with an O(n log w) SPARSE TABLE of argmin/argmax indices —
     value-exact for any dtype (int/float/decimal-free/timestamp/date)
     because it only ever COMPARES and then gathers the original Arrow
     values; Spark's NaN-ordering (NaN greatest) and null-skipping are
     reproduced from explicit masks, and
   - median/quantile (round-9) with a WAVELET TREE over value ranks:
     the k-th-smallest-in-range descent runs for every anchor at once
     (two prefix gathers per bit level), O((n + anchors) log n) per
     chunk instead of the collect-window path's O(n·w) membership
     arrays.  Rank order = lexsort(null-last, NaN greatest among
     non-null) — the exact total order Spark's array_sort gives the
     engine's validated collect-window reducer, so selected VALUES are
     identical; interpolation arithmetic mirrors exprs._arr_reduce
     ("median": (lo+hi)/2 as double) and Expr.quantile._from_sorted
     (pos = q·(n−1), 5 interpolation modes).

Per-task memory is O(rows · log₂(max window rows)) int32/int64 indices;
no per-anchor membership arrays are materialized (unlike the
collect-window path, which stays for non-decomposable aggs like
spearman/std/skew).
"""

from __future__ import annotations


def _prefix(a):
    import numpy as np

    out = np.empty(len(a) + 1, dtype=a.dtype if a.dtype.kind in "fi"
                   else "int64")
    out[0] = 0
    np.cumsum(a, out=out[1:])
    return out


def _argbest_table(v, invalid, max_len: int, want_min: bool):
    """Sparse table of arg-min/max indices under null-skipping order.

    ``invalid`` rows never win unless the whole range is invalid (the
    query layer turns those into null).  Comparisons only — exact for any
    comparable dtype; NaN handling happens in the caller via masks.
    """
    import numpy as np

    n = len(v)
    idx = np.arange(n, dtype="int32")
    tables = [idx]
    span = 1
    while span * 2 <= n and span < max_len:
        # slice against the PREVIOUS level's length, not the original n —
        # level k has n - 2^k + 1 entries (round-9 fix: the n-based slice
        # misaligned every level ≥ 2, shapes (m-span-1,) vs (m-span,))
        m = len(tables[-1])
        a = tables[-1][:m - span]
        b = tables[-1][span:]
        av, bv = v[a], v[b]
        ainv, binv = invalid[a], invalid[b]
        with np.errstate(invalid="ignore"):
            if want_min:
                b_better = (ainv & ~binv) | (~ainv & ~binv & (bv < av))
            else:
                b_better = (ainv & ~binv) | (~ainv & ~binv & (bv > av))
        tables.append(np.where(b_better, b, a))
        span *= 2
    return tables


def _range_argbest(tables, v, invalid, starts, ends, want_min: bool):
    """Vectorized two-probe sparse-table range queries → best index per
    ``[start, end)`` range; -1 marks empty ranges.

    The builder always doubles spans until span ≥ max window length (or
    span·2 > n, in which case the top span exceeds n/2 ≥ L/2), so two
    probes at level min(⌊log₂L⌋, top) cover every queried range.
    """
    import numpy as np

    L = ends - starts
    nz = L > 0
    if not nz.any():
        return np.full(len(starts), -1, dtype="int64")
    lev = np.zeros(len(starts), dtype="int64")
    lev[nz] = np.floor(np.log2(L[nz])).astype("int64")
    lev = np.minimum(lev, len(tables) - 1)
    p1 = np.where(nz, starts, 0)
    p2 = np.where(nz, np.maximum(ends - (1 << lev), starts), 0)
    c1 = np.zeros(len(starts), dtype="int64")
    c2 = np.zeros(len(starts), dtype="int64")
    for lv in range(len(tables)):
        m = nz & (lev == lv)
        if m.any():
            c1[m] = tables[lv][p1[m]]
            c2[m] = tables[lv][p2[m]]
    with np.errstate(invalid="ignore"):
        v1, v2 = v[c1], v[c2]
        i1inv, i2inv = invalid[c1], invalid[c2]
        if want_min:
            pick2 = (i1inv & ~i2inv) | (~i1inv & ~i2inv & (v2 < v1))
        else:
            pick2 = (i1inv & ~i2inv) | (~i1inv & ~i2inv & (v2 > v1))
    return np.where(nz, np.where(pick2, c2, c1), -1)


def _wavelet_build(ranks, nbits):
    """Wavelet tree over the rank sequence (time order): per bit level,
    a zero-count prefix array + the level's zero total.  Build is O(n log n)
    numpy (stable partition per level); queries descend all anchors at
    once.
    """
    import numpy as np

    seq = ranks
    levels = []
    for b in range(nbits - 1, -1, -1):
        bit = (seq >> b) & 1
        p0 = np.zeros(len(seq) + 1, dtype="int64")
        np.cumsum(bit == 0, out=p0[1:])
        levels.append((p0, int(p0[-1])))
        seq = np.concatenate((seq[bit == 0], seq[bit == 1]))
    return levels


def _wavelet_kth(levels, starts, ends, ks):
    """Vectorized k-th (0-indexed) smallest RANK within each ``[s, e)``
    range — the classic wavelet-tree range-quantile descent, run for every
    anchor simultaneously: per level two prefix gathers + arithmetic.
    Caller guarantees 0 <= k < e - s for live anchors; dead anchors
    (empty range) produce garbage the caller masks out.
    """
    import numpy as np

    s = starts.astype("int64").copy()
    e = ends.astype("int64").copy()
    k = ks.astype("int64").copy()
    ans = np.zeros(len(s), dtype="int64")
    for p0, z in levels:
        c0s = p0[s]
        c0e = p0[e]
        go_right = k >= (c0e - c0s)
        ans = (ans << 1) | go_right
        k = np.where(go_right, k - (c0e - c0s), k)
        s = np.where(go_right, z + (s - c0s), c0s)
        e = np.where(go_right, z + (e - c0e), c0e)
    return ans


def _avg_rank_rows(X):
    """Row-wise average ranks (rank('average') semantics) of a B×W block.

    NaN entries (window pads / null values) sort last and receive garbage
    ranks the caller masks out.  O(B·W log W): one stable argsort per row
    batch plus constant-count full-matrix passes — all C-speed.
    """
    import numpy as np

    B, W = X.shape
    order = np.argsort(X, axis=1, kind="stable")  # NaNs land at the tail
    Xs = np.take_along_axis(X, order, axis=1)
    pos = np.arange(1, W + 1, dtype="float64")
    newgrp = np.ones((B, W), dtype=bool)
    if W > 1:
        newgrp[:, 1:] = Xs[:, 1:] != Xs[:, :-1]
    first = np.where(newgrp, pos[None, :], 0.0)
    np.maximum.accumulate(first, axis=1, out=first)
    nxt = np.full((B, W), W + 1.0)
    if W > 1:
        nxt[:, :-1] = np.where(newgrp[:, 1:], pos[None, 1:], np.inf)
        nxt = np.minimum.accumulate(nxt[:, ::-1], axis=1)[:, ::-1]
    avg_sorted = (first + nxt - 1.0) / 2.0
    ranks = np.empty_like(X)
    np.put_along_axis(ranks, order, avg_sorted, axis=1)
    return ranks


def _spearman_windows(va, nulla, vb, nullb, starts, ends):
    """Per-window spearman corr over [starts, ends) ranges of the
    time-sorted group (round-11; VERDICT r10 #2 — replaces the O(n·w)
    band-join/collect-window walk for rolling spearman).

    Each column is ranked rank('average')-style over its own non-null
    window values; pearson runs over pairs where both sides are non-null
    (mirrors the rank-prestage + F.corr band path exactly).  NaN data is
    RANKED, not poisoned: the engine's rank (Spark ORDER BY), polars'
    rank, and DuckDB's rank all order NaN greatest with NaNs tying, so
    spearman of NaN-bearing windows is finite — unlike pearson (corr2),
    where NaN magnitude enters the products.  NaN canonicalizes to
    float64-max for the sort (data equal to float-max would collide —
    accepted cap, same family as the int64>2^53 float cast).

    The per-window cost is inherently O(w log w) (per-window pair ranks
    have no decomposable/sliding form — the r10 wavelet-tree co-rank idea
    dies on the CROSS-column term: sum over pairs of joint dominance
    counts needs a 2-D dynamic structure, not a 1-D rank query), but the
    whole computation is block-vectorized: windows gather into B×W
    matrices under a fixed cell budget, ranks come from batched argsort,
    and the corr reduces row-wise — no shuffle, no pair-row explosion.
    Returns (corr float64 array, dead mask) — dead = fewer than 2 pairs
    (F.corr -> NULL); zero rank variance -> NaN (F.corr's shape).
    """
    import numpy as np

    n_anch = len(starts)
    res = np.full(n_anch, np.nan, dtype="float64")
    dead = np.zeros(n_anch, dtype=bool)
    if n_anch == 0:
        return res, dead
    L = (ends - starts).astype("int64")
    fmax = np.finfo("float64").max

    def canon(v, nullm):
        x = np.asarray(v, dtype="float64").copy()
        x[np.isnan(x)] = fmax   # data NaN: sorts greatest, NaNs tie
        x[nullm] = np.nan       # nulls leave the rank base entirely
        return x

    xa = canon(va, nulla)
    xb = canon(vb, nullb)
    budget = 4_000_000  # cells per block matrix (~32 MB of f64 temps each)
    i0 = 0
    while i0 < n_anch:
        w = max(int(L[i0]), 1)
        i1 = i0 + 1
        while i1 < n_anch:
            w2 = max(w, int(L[i1]))
            if (i1 + 1 - i0) * w2 > budget:
                break
            w = w2
            i1 += 1
        js = np.arange(w, dtype="int64")
        idx = starts[i0:i1, None].astype("int64") + js[None, :]
        inwin = js[None, :] < L[i0:i1, None]
        np.clip(idx, 0, len(xa) - 1, out=idx)
        A = np.where(inwin, xa[idx], np.nan)
        Bv = np.where(inwin, xb[idx], np.nan)
        RA = _avg_rank_rows(A)
        RB = _avg_rank_rows(Bv)
        pm = ~np.isnan(A) & ~np.isnan(Bv)
        nn = pm.sum(axis=1).astype("float64")
        n1 = np.maximum(nn, 1.0)
        sx = np.where(pm, RA, 0.0).sum(axis=1)
        sy = np.where(pm, RB, 0.0).sum(axis=1)
        # center before products: rank sums grow like w² and the naive
        # E[xy]-E[x]E[y] form cancels catastrophically at q143 widths
        da = np.where(pm, RA - (sx / n1)[:, None], 0.0)
        db = np.where(pm, RB - (sy / n1)[:, None], 0.0)
        cxy = (da * db).sum(axis=1)
        den = np.sqrt(np.maximum((da * da).sum(axis=1), 0.0)
                      * np.maximum((db * db).sum(axis=1), 0.0))
        with np.errstate(invalid="ignore", divide="ignore"):
            res[i0:i1] = np.where(den > 0, cxy / den, np.nan)
        dead[i0:i1] = nn <= 1
        i0 = i1
    return res, dead


def make_sliding_kernel(plan, key_names, out_names, out_types):
    """Builder for the applyInArrow function.

    ``plan``: ``[(kind, val_col, is_float), ...]`` with kind in
    {sum,mean,count,len,min,max}; val_col None for len.
    ``out_names``/``out_types``: full output column order — key columns,
    ``__rk_t__``, then one result column per plan entry.
    """
    def kern(tbl):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        schema = pa.schema(list(zip(out_names, out_types)))
        if tbl.num_rows == 0:
            return schema.empty_table()
        t_raw = tbl.column("__rk_t__").to_numpy(zero_copy_only=False)
        order = np.argsort(t_raw, kind="stable").astype("int64")
        tbl = tbl.take(pa.array(order))
        t = t_raw[order]
        own = tbl.column("__rk_own__").to_numpy(zero_copy_only=False)
        anchors = np.flatnonzero(own)
        if len(anchors) == 0:
            return schema.empty_table()

        # per-FRAME window spans (round-11): heterogeneous batches carry
        # one (lo, hi) column pair per distinct frame — ``__rk_lo{f}__``;
        # homogeneous callers (group_by) keep the unsuffixed pair.  The
        # searchsorted pass runs once per frame, shared by its entries.
        se_cache = {}

        def _win(fidx):
            if fidx not in se_cache:
                suf = "" if fidx is None else str(fidx)
                lo = tbl.column(f"__rk_lo{suf}__").to_numpy(
                    zero_copy_only=False)[anchors]
                hi = tbl.column(f"__rk_hi{suf}__").to_numpy(
                    zero_copy_only=False)[anchors]
                starts = np.searchsorted(t, lo, side="right")
                ends = np.searchsorted(t, hi, side="right")
                L = ends - starts
                se_cache[fidx] = (starts, ends, L,
                                  int(L.max()) if len(L) else 1)
            return se_cache[fidx]

        cols = {}
        for kn in key_names:
            cols[kn] = tbl.column(kn).take(pa.array(anchors))
        cols["__rk_t__"] = pa.array(t[anchors], type=pa.int64())

        cache = {}
        for (kind, vc, is_float, *rest), name in zip(plan, out_names[
                len(key_names) + 1:]):
            starts, ends, L, max_len = _win(rest[0] if rest else None)
            if kind == "len":
                cols[name] = pa.array(L, type=pa.int64())
                continue
            if isinstance(kind, tuple) and kind[0] == "spear2":
                # rolling spearman (round-11): block-vectorized per-window
                # average ranks + pearson of ranks — see _spearman_windows
                def _loadr(vcx):
                    # distinct cache key: corr2/cov2 cache a NaN mask in the
                    # same slot, shaped by their is_float flag
                    if ("r", vcx) not in cache:
                        colx = tbl.column(vcx)
                        nux = pc.is_null(colx).to_numpy(zero_copy_only=False)
                        vx = colx.to_numpy(zero_copy_only=False)
                        cache[("r", vcx)] = (colx, vx, nux, None)
                    return cache[("r", vcx)]

                _, va, nulla, _x = _loadr(vc[0])
                _, vb, nullb, _y = _loadr(vc[1])
                # null slots may surface as NaN in the numpy view — keep the
                # masks authoritative
                resv, deadm = _spearman_windows(
                    va, nulla, vb, nullb, starts, ends)
                cols[name] = pa.array(resv, type=pa.float64(), mask=deadm)
                continue
            if isinstance(kind, tuple) and kind[0] in ("corr2", "cov2"):
                # PAIR kinds (round-9): pearson corr / covariance via
                # chunk-shifted prefix sums of a, b, ab (+ a², b² for
                # corr).  Pair-null masking mirrors F.corr/covar_*: a
                # pair with a null on EITHER side is skipped; a NaN on
                # either side poisons the window to NaN.  Zero variance
                # on either side → NaN (F.corr's shape; the engine's
                # queries normalize with fill_nan(None) where needed).
                def _loadp(vcx, isf):
                    if vcx not in cache:
                        colx = tbl.column(vcx)
                        nux = pc.is_null(colx).to_numpy(
                            zero_copy_only=False)
                        vx = colx.to_numpy(zero_copy_only=False)
                        nnx = (np.isnan(np.where(nux, 0.0, vx)) if isf
                               else np.zeros(len(nux), dtype=bool))
                        cache[vcx] = (colx, vx, nux, nnx)
                    return cache[vcx]

                _, va, nulla, nana = _loadp(vc[0], is_float[0])
                _, vb, nullb, nanb = _loadp(vc[1], is_float[1])
                pairv = (~nulla) & (~nullb)
                pnan = pairv & (nana | nanb)
                clean = pairv & ~pnan
                ncl = int(clean.sum())
                sha = (float(va[clean].astype("float64").sum()) / ncl
                       if ncl else 0.0)
                shb = (float(vb[clean].astype("float64").sum()) / ncl
                       if ncl else 0.0)
                da = np.where(clean, va.astype("float64") - sha,
                              0.0).astype(np.longdouble)
                db = np.where(clean, vb.astype("float64") - shb,
                              0.0).astype(np.longdouble)
                p_n = _prefix(pairv.astype("int64"))
                p_x = _prefix(pnan.astype("int64"))
                p_a, p_b = _prefix(da), _prefix(db)
                p_ab = _prefix(da * db)
                n = (p_n[ends] - p_n[starts]).astype("float64")
                has_nan = (p_x[ends] - p_x[starts]) > 0
                with np.errstate(invalid="ignore", divide="ignore"):
                    nn = np.maximum(n, 1.0)
                    mua = (p_a[ends] - p_a[starts]) / nn
                    mub = (p_b[ends] - p_b[starts]) / nn
                    cab = (p_ab[ends] - p_ab[starts]) / nn - mua * mub
                    if kind[0] == "cov2":
                        if kind[1] == 1:        # ddof=1 (covar_samp)
                            res = cab * n / np.maximum(n - 1.0, 1.0)
                            dead = n <= 1
                        else:                    # ddof=0 (covar_pop)
                            res = cab
                            dead = n == 0
                    else:
                        p_aa = _prefix(da * da)
                        p_bb = _prefix(db * db)
                        maa = (p_aa[ends] - p_aa[starts]) / nn
                        mbb = (p_bb[ends] - p_bb[starts]) / nn
                        m2a = np.maximum(maa - mua * mua, 0.0)
                        m2b = np.maximum(mbb - mub * mub, 0.0)
                        eps = 32 * np.finfo("float64").eps
                        m2a = np.where(m2a <= eps * maa, 0.0, m2a)
                        m2b = np.where(m2b <= eps * mbb, 0.0, m2b)
                        den = np.sqrt(m2a * m2b)
                        res = cab / den
                        res = np.where(den == 0, np.nan, res)
                        # F.corr: fewer than 2 pairs → NULL (measured —
                        # not the NaN the 0/0 algebra would give), even
                        # when the single pair carries a NaN
                        dead = n <= 1
                    res = np.where(has_nan, np.nan, res)
                    if kind[0] == "corr2":
                        mask = dead
                    else:
                        mask = dead & ~has_nan
                cols[name] = pa.array(
                    np.asarray(res, dtype="float64"), type=pa.float64(),
                    mask=mask)
                continue
            if vc not in cache:
                col = tbl.column(vc)
                nullm = pc.is_null(col).to_numpy(zero_copy_only=False)
                vnp = col.to_numpy(zero_copy_only=False)
                nanm = (np.isnan(np.where(nullm, 0.0, vnp))
                        if is_float else np.zeros(len(nullm), dtype=bool))
                cache[vc] = (col, vnp, nullm, nanm)
            col, vnp, nullm, nanm = cache[vc]
            valid = ~nullm
            pv = _prefix(valid.astype("int64"))
            cnt = pv[ends] - pv[starts]
            if kind == "count":
                cols[name] = pa.array(cnt, type=pa.int64())
                continue
            if kind in ("sum", "mean"):
                if is_float:
                    filled = np.where(valid & ~nanm, vnp,
                                      0.0).astype("float64")
                else:
                    # accumulate in int64 — prefix sums in the source's
                    # narrow dtype (int8/16/32) silently wrap; Arrow-side
                    # fill_null keeps int64 sources exact (a numpy round
                    # trip through float64 would round above 2^53)
                    filled = pc.fill_null(col, 0).cast(
                        pa.int64()).to_numpy(zero_copy_only=False)
                ps = _prefix(filled)
                sv = ps[ends] - ps[starts]
                if is_float:
                    pn = _prefix(nanm.astype("int64"))
                    has_nan = (pn[ends] - pn[starts]) > 0
                    sv = np.where(has_nan, np.nan, sv)
                if kind == "mean":
                    with np.errstate(invalid="ignore"):
                        res = sv.astype("float64") / np.maximum(cnt, 1)
                    cols[name] = pa.array(res, type=pa.float64(),
                                          mask=cnt == 0)
                else:
                    # sum over zero observations is 0, not null (polars
                    # semantics; matches the collect-window/prefix routes);
                    # sv is already 0 there by prefix-difference identity
                    out_t = pa.float64() if is_float else pa.int64()
                    cols[name] = pa.array(
                        sv.astype("float64" if is_float else "int64"),
                        type=out_t)
                continue
            if isinstance(kind, tuple) and kind[0] in ("std", "var",
                                                       "skew", "kurt"):
                # central-moment family (round-9) — mirrors the engine's
                # validated collect-window reducer arithmetic
                # (exprs._arr_reduce "stddev_samp"… naive raw-moment
                # formula in float64, "skewness"/"kurtosis" biased central
                # moments) but over CHUNK-SHIFTED values: central moments
                # are shift-invariant, and subtracting the chunk mean
                # keeps the raw-moment cancellation benign (window mean −
                # chunk mean is small), so prefix-difference sums stay
                # accurate where raw x² prefixes would cancel
                # catastrophically.  NaN contributions propagate to NaN
                # like the reducer's unfiltered fold.
                real = valid & ~nanm
                nreal = int(real.sum())
                shift = (float(vnp[real].astype("float64").sum()) / nreal
                         if nreal else 0.0)
                # longdouble (80-bit on x86) prefix accumulation: a chunk's
                # running float64 prefix drifts ~ eps·Σ|d²| ≈ 1e-9 absolute
                # on realistic chunks, which lands rolling var right on
                # round-to-5-decimals boundaries vs an exact oracle;
                # extended precision pushes the drift below 1e-12
                d = np.where(real, vnp.astype("float64") - shift,
                             0.0).astype(np.longdouble)
                s1 = _prefix(d)
                s2 = _prefix(d * d)
                pn = _prefix(nanm.astype("int64"))
                has_nan = (pn[ends] - pn[starts]) > 0
                n = cnt.astype("float64")
                with np.errstate(invalid="ignore", divide="ignore"):
                    mu = (s1[ends] - s1[starts]) / np.maximum(n, 1.0)
                    msq = (s2[ends] - s2[starts]) / np.maximum(n, 1.0)
                    m2 = np.maximum(msq - mu * mu, 0.0)
                    # an all-identical window has m2 EXACTLY 0 in the
                    # reducer's central-sum form (x - mu == 0), but the
                    # prefix-difference form leaves a ~ulp(msq) residue
                    # that would feed skew/kurt garbage — snap it to 0
                    m2 = np.where(m2 <= 32 * np.finfo("float64").eps * msq,
                                  0.0, m2)
                    if kind[0] in ("std", "var"):
                        if kind[1] == 1:            # ddof=1 (samp)
                            res = m2 * n / np.maximum(n - 1.0, 1.0)
                            dead = cnt <= 1
                        else:                        # ddof=0 (pop)
                            res = m2
                            dead = cnt == 0
                        if kind[0] == "std":
                            res = np.sqrt(res)
                        res = np.where(has_nan, np.nan, res)
                    else:
                        s3 = _prefix(d * d * d)
                        m3 = ((s3[ends] - s3[starts]) / np.maximum(n, 1.0)
                              - 3.0 * mu * (s2[ends] - s2[starts])
                              / np.maximum(n, 1.0) + 2.0 * mu ** 3)
                        if kind[0] == "skew":
                            res = m3 / np.power(m2, 1.5)
                        else:
                            s4 = _prefix(d * d * d * d)
                            m4 = ((s4[ends] - s4[starts])
                                  / np.maximum(n, 1.0)
                                  - 4.0 * mu * (s3[ends] - s3[starts])
                                  / np.maximum(n, 1.0)
                                  + 6.0 * mu * mu
                                  * (s2[ends] - s2[starts])
                                  / np.maximum(n, 1.0) - 3.0 * mu ** 4)
                            res = m4 / (m2 * m2) - 3.0
                        # reducer: F.when(m2 > 0, …) → null at zero
                        # variance; NaN windows stay NaN values
                        dead = (m2 <= 0) & ~has_nan
                        res = np.where(has_nan, np.nan, res)
                cols[name] = pa.array(np.asarray(res, dtype="float64"),
                                      type=pa.float64(), mask=dead)
                continue
            if kind == "median" or isinstance(kind, tuple):
                # median / quantile — order statistics via the wavelet
                # tree: ranks = lexsort(nulls last, NaN greatest among
                # non-null — the same total order Spark's array_sort
                # gives the collect-window reducer), then the k-th
                # smallest rank per window in O(log n) vectorized across
                # all anchors.  k < cnt never reaches a null slot.
                wkey = (vc, "wavelet")
                if wkey not in cache:
                    order = np.lexsort((vnp, nullm)).astype("int64")
                    ranks = np.empty(len(order), dtype="int64")
                    ranks[order] = np.arange(len(order), dtype="int64")
                    nbits = max(1, int(np.ceil(np.log2(max(len(order),
                                                           2)))))
                    cache[wkey] = (order, _wavelet_build(ranks, nbits))
                order, levels = cache[wkey]
                live = cnt > 0
                top = len(order) - 1

                def _gather(r):
                    # dead anchors (cnt==0) accumulate garbage descent
                    # bits that can exceed n-1 — clamp; callers mask them
                    return order[np.clip(r, 0, top)]
                if kind == "median":
                    # engine reducer (exprs._arr_reduce "median"): lo =
                    # floor((n+1)/2), hi = floor(n/2)+1 (1-indexed) over
                    # the sorted non-null array, (lo + hi) / 2 as double
                    k_lo = np.clip((cnt + 1) // 2 - 1, 0, None)
                    k_hi = np.clip(cnt // 2, 0, None)
                    r_lo = _wavelet_kth(levels, starts, ends, k_lo)
                    r_hi = _wavelet_kth(levels, starts, ends, k_hi)
                    lov = vnp[_gather(r_lo)].astype("float64")
                    hiv = vnp[_gather(r_hi)].astype("float64")
                    cols[name] = pa.array((lov + hiv) / 2.0,
                                          type=pa.float64(), mask=~live)
                    continue
                _, qq, interp = kind
                # engine reducer (exprs.Expr.quantile _from_sorted):
                # pos = q*(n-1) double, lo/hi = floor/ceil
                with np.errstate(invalid="ignore"):
                    pos = qq * (cnt.astype("float64") - 1.0)
                k_lo = np.clip(np.floor(pos), 0, None).astype("int64")
                k_hi = np.clip(np.ceil(pos), 0, None).astype("int64")
                if interp == "lower":
                    sel = k_lo
                elif interp == "higher":
                    sel = k_hi
                elif interp == "nearest":
                    # round half away from zero like polars
                    sel = np.where(pos - k_lo < 0.5, k_lo, k_hi)
                elif interp == "nearest_roll":
                    # polars-rs 0.41 ROLLING nearest: trunc(n*q) clamped
                    # (rolling/no_nulls/quantile.rs), unlike agg nearest
                    with np.errstate(invalid="ignore"):
                        sel = np.floor(
                            cnt.astype("float64") * qq).astype("int64")
                    sel = np.clip(np.minimum(sel, cnt - 1), 0, None)
                else:
                    sel = None
                if sel is not None:
                    r = _wavelet_kth(levels, starts, ends, sel)
                    ti = _gather(r)
                    # f64 like polars (quantile returns Float64 in every
                    # interpolation mode)
                    vals = vnp[ti].astype("float64")
                    cols[name] = pa.array(vals, type=pa.float64(),
                                          mask=~live)
                    continue
                r_lo = _wavelet_kth(levels, starts, ends, k_lo)
                r_hi = _wavelet_kth(levels, starts, ends, k_hi)
                lov = vnp[_gather(r_lo)].astype("float64")
                hiv = vnp[_gather(r_hi)].astype("float64")
                if interp == "midpoint":
                    res = (lov + hiv) / 2.0
                else:  # linear
                    frac = pos - k_lo.astype("float64")
                    res = lov + frac * (hiv - lov)
                cols[name] = pa.array(res, type=pa.float64(), mask=~live)
                continue
            # min / max — polars semantics (round-11): nulls AND NaN are
            # skipped (expr.rb max doctest ignores NaN; Expr._minmax_agg
            # and the collect-window reducer share this shape); an
            # all-NaN/empty window is null.  "minraw" is the lag-frame
            # (shift/diff/pct_change) single-row pick: it must PRESERVE
            # NaN values verbatim, so only nulls are invalid there.
            want_min = kind in ("min", "minraw")
            skip_nan = kind != "minraw"
            invalid = (nullm | nanm) if skip_nan else nullm
            tkey = (vc, kind, rest[0] if rest else None)
            if tkey not in cache:
                cache[tkey] = _argbest_table(vnp, invalid, max_len,
                                             want_min)
            tables = cache[tkey]
            best = _range_argbest(tables, vnp, invalid, starts, ends,
                                  want_min)
            if is_float and skip_nan:
                pn = _prefix(nanm.astype("int64"))
                nan_cnt = pn[ends] - pn[starts]
                real_cnt = cnt - nan_cnt
            else:
                real_cnt = cnt
            empty = real_cnt == 0
            sel_invalid = empty | (best < 0) | invalid[np.clip(best, 0,
                                                               None)]
            if is_float:
                res = np.where(sel_invalid, np.nan,
                               vnp[np.clip(best, 0, None)])
                cols[name] = pa.array(
                    res.astype(vnp.dtype),
                    type=col.type, mask=sel_invalid)
            else:
                idx_arr = pa.array(
                    np.where(sel_invalid, -1, best).astype("int64"),
                    mask=sel_invalid)
                cols[name] = pc.take(col, idx_arr)
        arrays = []
        for n_, t_ in zip(out_names, out_types):
            a = cols[n_]
            if isinstance(a, pa.ChunkedArray):
                a = a.combine_chunks()
            if a.type != t_:
                a = a.cast(t_)
            arrays.append(a)
        return pa.Table.from_arrays(arrays, schema=schema)
    return kern


def attach_rolling_by_multi(sdf, by_e, key_exprs, span_us: int,
                            closed: str, entries, row_frame=None,
                            entry_frames=None):
    """Frame-attachment for expr-level time-based rolling (rolling_min/
    max/median/quantile/std/var_by — expr.rb:3964-4848): compute the
    per-row look-back aggregates through ONE sliding-kernel pass and hand
    back the frame with every entry's helper column appended, per the
    ``_global_ordinal_fn`` / ``_grouped_remap_fn`` hook contract (all
    original columns preserved; row order scrambles — callers rely on the
    deferred order-dirty restore exactly like the other hook attachments).
    ``entries`` is ``[(inner_expr, kind, helper_name), ...]`` — SAME-FRAME
    bindings sharing (by, span, closed, keys) batch here so k rolling
    stats cost one shuffle, not k (the ewm/cum batching lesson, round-6).

    Replaces the JVM range-frame binding for the aggregates Spark cannot
    slide: min/max re-aggregate the whole buffer per row, median/
    percentile COLLECT AND SORT the buffer per row (O(w log w) each), and
    stddev/var re-fold — all O(n·w) at window density w, the measured
    q143-class wall.  The kernel pays O(n log w) per chunk total.

    Raises ValueError when any column dtype cannot cross the Arrow
    boundary or the index/value dtypes are unsupported — callers keep the
    validated window route.  A null index value is undefined here like in
    the reference (polars panics); rows with a null index produce null.

    ``row_frame=(before, after)`` switches to ROW-COUNT windows: ``by_e``
    must bind to DENSE int64 positions (the hidden row index), the window
    is positions ``[i-before, i+after]``, and rows near a chunk's LOWER
    edge additionally duplicate into the previous chunk when ``after > 0``
    (center windows look forward) — this is how ungrouped rolling_min/
    median/… escape Spark's keyless single-partition window.

    ``entry_frames`` (round-11) lets entries carry HETEROGENEOUS windows
    through the same single shuffle: a list parallel to ``entries`` of
    ``("row", before, after)`` / ``("span", span_us, closed)`` tuples (or
    None → the shared frame above).  All frames must agree with the shared
    frame's index units (row vs time).  Chunking and boundary duplication
    size to the WIDEST frame; the kernel binary-searches each distinct
    frame's bounds once per chunk.  This is what lets k rolling stats of
    DIFFERENT window widths (q164: median 501 / min 501 / sum 200 /
    centered std 301) cost ONE shuffle instead of k chained attaches with
    a lineage checkpoint between each.
    """
    import pyarrow as pa
    from pyspark.sql import functions as F
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_type

    from ..exprs import _next_gord_name

    num_t = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
             T.FloatType, T.DoubleType)
    ok_minmax_t = num_t + (T.TimestampType, T.TimestampNTZType, T.DateType)

    # every original column rides through the kernel — probe arrow
    # convertibility up front so unsupported frames fall back cleanly
    pass_names = list(sdf.columns)
    pass_types = []
    for f_ in sdf.schema.fields:
        try:
            pass_types.append(to_arrow_type(f_.dataType))
        except Exception as exc:                     # exotic dtype
            raise ValueError(f"rolling_by kernel: {exc}")

    if row_frame is not None:
        ts_us = by_e._fn(sdf, None).cast("long")
    else:
        ts_us = F.unix_micros(by_e._fn(sdf, None).cast("timestamp"))
    # normalize per-entry frames (round-11): default everyone to the
    # shared frame; dedupe identical frames so each distinct frame adds
    # exactly one (lo, hi) column pair and one searchsorted pass
    g_frame = (("row", int(row_frame[0]), int(row_frame[1]))
               if row_frame is not None
               else ("span", int(span_us), closed))
    if entry_frames is None:
        frames_norm = [g_frame] * len(entries)
    else:
        frames_norm = [f if f is not None else g_frame
                       for f in entry_frames]
        if any(f[0] != g_frame[0] for f in frames_norm):
            raise ValueError(
                "rolling_by kernel: mixed row/span frames in one batch")
    uniq_frames: list = []
    fidx_of = {}
    entry_fidx = []
    for f in frames_norm:
        if f not in fidx_of:
            fidx_of[f] = len(uniq_frames)
            uniq_frames.append(f)
        entry_fidx.append(fidx_of[f])
    kplan, val_aliases, helper_fields, helper_pas = [], {}, [], []
    for j, (inner, kind, helper) in enumerate(entries):
        val_c = inner._fn(sdf, None)
        vdt = sdf.select(val_c).schema[0].dataType
        is_q = isinstance(kind, tuple) and kind[0] == "quantile"
        if kind in ("min", "max", "minraw"):
            if not isinstance(vdt, ok_minmax_t):
                raise ValueError(
                    f"rolling_by kernel: unsupported dtype {vdt}")
        elif not isinstance(vdt, num_t):
            raise ValueError(f"rolling_by kernel: unsupported dtype {vdt}")
        is_float = isinstance(vdt, (T.FloatType, T.DoubleType))
        if kind in ("min", "max", "minraw"):
            helper_t, helper_pa = vdt, to_arrow_type(vdt)
        elif kind == "sum" and not is_float:
            helper_t, helper_pa = T.LongType(), pa.int64()
        elif kind in ("sum", "count", "len"):
            helper_t, helper_pa = (
                (T.DoubleType(), pa.float64()) if is_float
                else (T.LongType(), pa.int64()))
        else:
            # mean/median/moments AND quantile (every interpolation —
            # polars quantile returns Float64)
            helper_t, helper_pa = T.DoubleType(), pa.float64()
        vc = f"__rbv{j}__"
        val_aliases[vc] = val_c
        kplan.append((kind, vc, is_float, entry_fidx[j]))
        helper_fields.append(T.StructField(helper, helper_t))
        helper_pas.append(helper_pa)

    frame_bounds = []      # (lo_col, hi_col) per distinct frame
    back_ub, fwd_ub = 1, 0     # chunking/duplication size to the WIDEST
    for f in uniq_frames:
        if f[0] == "row":
            before, after = f[1], f[2]
            # negative before/after = a frame strictly ahead/behind the
            # anchor (shift/lead express as a single-row frame
            # [i-n, i-n]) — the duplication distances clamp at 0, the
            # bounds stay exact
            back_ub = max(back_ub, int(before), 1)
            fwd_ub = max(fwd_ub, int(after), 0)
            # window = positions [i-before, i+after] = (lo, hi] with
            # lo = i-before-1 (searchsorted-right exclusive lower bound)
            lo = ts_us - F.lit(int(before) + 1)
            hi = ts_us + F.lit(int(after))
        else:
            span_j, closed_j = f[1], f[2]
            back_ub = max(back_ub, int(span_j), 1)
            lo_base = ts_us - F.lit(max(int(span_j), 1))
            hi = (ts_us if closed_j in ("right", "both")
                  else ts_us - F.lit(1))
            lo = (lo_base if closed_j in ("right", "none")
                  else lo_base - F.lit(1))
        frame_bounds.append((lo, hi))
    chunk_w = (back_ub + fwd_ub) * 8
    if row_frame is not None:
        # index units = ROWS here: a small frame (shift's single-row
        # look-back) would otherwise make single-digit-row chunks —
        # thousands of tiny applyInArrow groups (measured 5× wall on a
        # 100k-row shift).  Floor the chunk so per-group overhead
        # amortizes; duplication stays ≤ (back+fwd)/chunk_w.
        chunk_w = max(chunk_w, 4096)
    c0 = F.floor(ts_us / F.lit(chunk_w)).cast("long")

    kn = [f"__rbk{i}__" for i, _ in enumerate(key_exprs)]
    key_cols = [ke._fn(sdf, None) for ke in key_exprs]
    for k in key_cols:      # grouping cols cross Arrow on the way in too
        try:
            to_arrow_type(sdf.select(k).schema[0].dataType)
        except Exception as exc:
            raise ValueError(f"rolling_by kernel: {exc}")
    work = sdf.select(
        "*", *[k.alias(n) for k, n in zip(key_cols, kn)],
        ts_us.alias("__rk_t__"),
        *[c for f, (lo_c, hi_c) in enumerate(frame_bounds)
          for c in (lo_c.alias(f"__rk_lo{f}__"),
                    hi_c.alias(f"__rk_hi{f}__"))],
        c0.alias("__rk_c0__"),
        *[c.alias(n) for n, c in val_aliases.items()])
    near_hi = (F.col("__rk_t__") >=
               (F.col("__rk_c0__") + F.lit(1)) * F.lit(chunk_w)
               - F.lit(back_ub))
    dups = F.when(near_hi, F.array(F.col("__rk_c0__"),
                                   F.col("__rk_c0__") + F.lit(1))) \
        .otherwise(F.array(F.col("__rk_c0__")))
    if fwd_ub > 0:
        # look-FORWARD windows (center row frames): rows near a chunk's
        # lower edge also serve the PREVIOUS chunk's anchors
        near_lo = (F.col("__rk_t__") <=
                   F.col("__rk_c0__") * F.lit(chunk_w) + F.lit(fwd_ub))
        dups = F.when(near_lo & near_hi, F.array(
                   F.col("__rk_c0__") - F.lit(1), F.col("__rk_c0__"),
                   F.col("__rk_c0__") + F.lit(1))) \
            .when(near_lo, F.array(F.col("__rk_c0__") - F.lit(1),
                                   F.col("__rk_c0__"))) \
            .otherwise(dups)
    work = (work
            .withColumn("__rk_ch__", F.explode(dups))
            .withColumn("__rk_own__",
                        F.col("__rk_ch__") == F.col("__rk_c0__")))
    helpers = [h for _i, _k, h in entries]
    out_names = pass_names + ["__rk_t__"] + helpers
    pa_types = pass_types + [pa.int64()] + helper_pas
    spark_out = T.StructType(
        list(sdf.schema.fields)
        + [T.StructField("__rk_t__", T.LongType())] + helper_fields)
    kern = make_sliding_kernel(kplan, pass_names, out_names, pa_types)
    grouped = work.groupBy(*kn, "__rk_ch__").applyInArrow(kern, spark_out)
    out = grouped.select(*pass_names, *helpers)
    out.schema  # force analysis while the caller's fallback is reachable
    return out

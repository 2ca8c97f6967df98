"""pandas-UDF factories.

Kept in a module WITHOUT ``from __future__ import annotations``: pandas_udf
resolves the ``pd.Series`` type hints at decoration time, and stringified
annotations (PEP 563) break that resolution.
"""

import pandas as pd
from pyspark.sql.functions import pandas_udf


def make_scalar_pandas_udf(function, return_type, skip_nulls=True):
    """Vectorized scalar UDF over Arrow batches (SURVEY §2.9 map_elements)."""

    @pandas_udf(return_type)
    def _udf(s: pd.Series) -> pd.Series:
        if skip_nulls:
            return s.map(lambda v: None if v is None else function(v))
        return s.map(function)

    return _udf


_SPEARMAN_UDF = None


def spearman_arrays_udf():
    """Vectorized spearman-ρ over per-row value-array PAIRS (the rolling
    collect-window path, round-6).

    Each input row carries one window's aligned x/y arrays; the kernel is
    vectorized ACROSS rows: flatten all windows, rank per segment with
    average ties via one lexsort (O(W log W) for W total values — the same
    complexity polars' native per-window rank pays), then the pearson sums
    per segment via bincount.  An all-JVM HOF formulation of the same math
    ran 9s at sf0.1 (interpreted expression eval, no codegen for HOFs);
    this kernel runs the identical numbers in ~0.1s of numpy plus Arrow
    transfer.  Ranks per column are over that column's non-NaN values;
    pairs with a NaN on either side are excluded from the correlation
    (F.corr semantics).  Non-finite results (zero variance, empty window)
    return null — the shape the JVM formula's divide-by-zero produced."""
    global _SPEARMAN_UDF
    if _SPEARMAN_UDF is not None:
        return _SPEARMAN_UDF

    import numpy as np
    from pyspark.sql.types import DoubleType

    def _seg_ranks(vals, seg, n_vals):
        """Average-tie ranks within segments; NaN values keep NaN ranks."""
        mask = ~np.isnan(vals)
        v, s = vals[mask], seg[mask]
        order = np.lexsort((v, s))
        sv, ss = v[order], s[order]
        m = sv.size
        out = np.full(n_vals, np.nan)
        if m == 0:
            return out
        seg_change = np.r_[True, ss[1:] != ss[:-1]]
        seg_start_pos = np.flatnonzero(seg_change)
        start_of = np.repeat(
            seg_start_pos, np.diff(np.r_[seg_start_pos, m]))
        ordinal = np.arange(m) - start_of           # 0-based in segment
        newrun = np.r_[True, (sv[1:] != sv[:-1]) | seg_change[1:]]
        run_id = np.cumsum(newrun) - 1
        run_first = ordinal[newrun][run_id]
        run_sizes = np.bincount(run_id)
        avg = run_first + (run_sizes[run_id] - 1) / 2.0 + 1.0
        out[np.flatnonzero(mask)[order]] = avg
        return out

    @pandas_udf(DoubleType())
    def _udf(xa: pd.Series, xb: pd.Series) -> pd.Series:
        n = len(xa)
        lens = np.fromiter(
            (0 if v is None else len(v) for v in xa),
            dtype=np.int64, count=n)
        total = int(lens.sum())
        if total == 0:
            return pd.Series([None] * n, dtype="float64")
        seg = np.repeat(np.arange(n), lens)

        def flat(col):
            parts = [np.asarray(v, dtype=np.float64)
                     for v in col if v is not None and len(v)]
            return (np.concatenate(parts) if parts
                    else np.empty(0, dtype=np.float64))

        fa, fb = flat(xa), flat(xb)
        ra = _seg_ranks(fa, seg, total)
        rb = _seg_ranks(fb, seg, total)
        valid = ~np.isnan(ra) & ~np.isnan(rb)
        vs, va, vb = seg[valid], ra[valid], rb[valid]
        cnt = np.bincount(vs, minlength=n).astype(np.float64)
        sa = np.bincount(vs, weights=va, minlength=n)
        sb = np.bincount(vs, weights=vb, minlength=n)
        sab = np.bincount(vs, weights=va * vb, minlength=n)
        saa = np.bincount(vs, weights=va * va, minlength=n)
        sbb = np.bincount(vs, weights=vb * vb, minlength=n)
        with np.errstate(invalid="ignore", divide="ignore"):
            safe = np.where(cnt > 0, cnt, np.nan)
            cov = sab - sa * sb / safe
            den = np.sqrt((saa - sa * sa / safe) * (sbb - sb * sb / safe))
            rho = cov / den
        res = pd.Series(rho, dtype="float64")
        return res.where(np.isfinite(rho), None)

    _SPEARMAN_UDF = _udf
    return _udf


_NP_EVAL_CACHE = {}


def np_eval_arrays_udf(prog, in_t: str, out_t: str):
    """Vectorized evaluator for POSITIONAL list.eval programs (round-7).

    ``prog`` is the small tuple AST ``Expr._np_prog`` tracks for
    numpy-expressible eval expressions — element(), numeric literals,
    +,-,*,/ (Spark coercions: ``/`` always double + null-on-zero-divisor,
    a double/float-literal operand promotes float32), neg/abs, and
    per-segment shift (vacated slots null or a literal fill).  The JVM HOF
    route computes the identical numbers but interpreted per element with
    no codegen/CSE (q150: ~10× a codegen projection); this kernel flattens
    all lists of an Arrow batch into one values array + null mask, runs
    the program as whole-array numpy ops (upcasting per node exactly where
    Spark's type coercion does, so float32 arithmetic stays float32-exact),
    and rebuilds the list column with explicit Arrow validity (an
    arrow_udf end to end: the pandas transfer path conflates null and NaN
    in BOTH directions; pyarrow keeps them distinct).
    """
    key = (repr(prog), in_t, out_t)
    cached = _NP_EVAL_CACHE.get(key)
    if cached is not None:
        return cached

    import numpy as np
    import pyarrow as pa

    np_in = np.float32 if in_t == "float" else np.float64
    pa_out = pa.float32() if out_t == "float" else pa.float64()
    np_out = {"float": np.float32, "double": np.float64}[out_t]

    def _run(prog, vals, nulls, pos, lens, starts, total):
        """Evaluate a node → (values, null-mask, type-tag); scalars allowed
        for literal subtrees, broadcast by consumers that need arrays."""

        def to_arr(v, m):
            if not isinstance(v, np.ndarray):
                v = np.full(total, v, dtype=np.float64)
            if not isinstance(m, np.ndarray):
                m = np.full(total, bool(m))
            return v, m

        op = prog[0]
        if op == "elem":
            return vals, nulls, in_t
        if op == "lit":
            v = prog[1]
            if v is None:
                return np.nan, True, "double"
            return v, False, ("int" if isinstance(v, int) else "double")
        if op == "un":
            v, m, t = _run(prog[2], vals, nulls, pos, lens, starts, total)
            out = np.abs(v) if prog[1] == "abs" else -v
            return out, m, t
        if op == "bin":
            o = prog[1]
            lv, ln, lt = _run(prog[2], vals, nulls, pos, lens, starts, total)
            rv, rn, rt = _run(prog[3], vals, nulls, pos, lens, starts, total)
            if o == "/":
                # polars divide: always double; /0 → ±inf, 0/0 → NaN
                # (numpy's native behavior; exprs._div_polars JVM-side)
                lv = _cast(lv, np.float64)
                rv = _cast(rv, np.float64)
                with np.errstate(divide="ignore", invalid="ignore"):
                    out = lv / rv
                return out, _mor(ln, rn), "double"
            t = "double" if "double" in (lt, rt) else "float"
            dt = np.float64 if t == "double" else np.float32
            lv, rv = _cast(lv, dt), _cast(rv, dt)
            with np.errstate(over="ignore", invalid="ignore"):
                if o == "+":
                    out = lv + rv
                elif o == "-":
                    out = lv - rv
                else:
                    out = lv * rv
            return out, _mor(ln, rn), t
        if op == "ffill":
            # forward-fill within segments (pct_change's pre-difference
            # fill — round-11): propagate the last valid index, reset at
            # each segment start
            bv, bnull, bt = _run(prog[1], vals, nulls, pos, lens, starts,
                                 total)
            bv, bnull = to_arr(bv, bnull)
            idx = np.arange(total)
            seg_start = idx - pos  # segment start from the position track
            last = np.where(~bnull, idx, -1)
            np.maximum.accumulate(last, out=last)
            ok = last >= seg_start
            src = np.clip(last, 0, max(total - 1, 0))
            dt = np.float64 if bt == "double" else np.float32
            v = _cast(bv, dt)
            out = np.where(ok, v[src], np.nan)
            return out, ~ok, bt
        if op == "shift":
            n_, fill, bp = prog[1], prog[2], prog[3]
            bv, bn, bt = _run(bp, vals, nulls, pos, lens, starts, total)
            bv, bn = to_arr(bv, bn)
            seglen = np.repeat(lens, lens)
            valid = (pos >= n_) if n_ >= 0 else (pos < seglen + n_)
            t = bt
            if isinstance(fill, float):  # float literal promotes (coalesce)
                t = "double"
            dt = np.float64 if t == "double" else np.float32
            bv = _cast(bv, dt)
            out = np.full(total, np.nan, dtype=dt)
            on = np.ones(total, dtype=bool)
            src = np.arange(total) - n_
            sv = src[valid]
            out[valid] = bv[sv]
            on[valid] = bn[sv]
            if fill is not None:
                out[~valid] = fill
                on[~valid] = False
            return out, on, t
        if op == "rank":
            # average value-rank within each list (round-11; the HOF route
            # is O(d²) interpreted filters per element — q127).  Spark
            # comparison semantics: nulls rank null and are excluded,
            # NaN == NaN and NaN sorts greatest in BOTH directions.
            desc = prog[1]
            bv, bn, _bt = _run(prog[2], vals, nulls, pos, lens, starts,
                               total)
            bv, bn = to_arr(bv, bn)
            v = _cast(bv, np.float64)  # float32→float64 is order-exact
            out = np.full(total, np.nan, dtype=np.float64)
            on = bn.copy()
            nn = ~on
            if nn.any():
                idx = np.flatnonzero(nn)
                seg_all = (np.cumsum(pos == 0) - 1 if total
                           else np.empty(0, dtype=np.int64))
                sv, sg = v[idx], seg_all[idx]
                isn = np.isnan(sv)
                if desc:
                    with np.errstate(invalid="ignore"):
                        order = np.lexsort((-sv, ~isn, sg))
                else:
                    order = np.lexsort((sv, isn, sg))
                osv, osg, oisn = sv[order], sg[order], isn[order]
                m = osv.size
                segch = np.r_[True, osg[1:] != osg[:-1]]
                valch = np.zeros(m, dtype=bool)
                if m > 1:
                    with np.errstate(invalid="ignore"):
                        valch[1:] = osv[1:] != osv[:-1]
                    # numpy NaN != NaN, but Spark ties NaN with NaN
                    valch[1:] &= ~(oisn[1:] & oisn[:-1])
                newrun = segch | valch
                segstart = np.flatnonzero(segch)
                startof = np.repeat(segstart,
                                    np.diff(np.r_[segstart, m]))
                ordinal = np.arange(m) - startof  # strictly-before count
                run_id = np.cumsum(newrun) - 1
                before = ordinal[np.flatnonzero(newrun)][run_id]
                ties = np.bincount(run_id)[run_id]
                # exactly the HOF's (2·before + ties + 1)/2 — all-integer
                # numerator, exact in double
                out[idx[order]] = (2.0 * before + ties + 1.0) / 2.0
            return out, on, "double"
        if op == "cagg":
            # whole-segment aggregate of the bare element series,
            # broadcast per element (plain list.eval context; the
            # cumulative runner owns the prefix semantics).  count =
            # non-null elements (F.size(filter(isNotNull))), len = all.
            label = prog[1]
            row_of = (np.repeat(np.arange(lens.size), lens) if total
                      else np.empty(0, dtype=np.int64))
            if label == "len":
                per = lens
            else:  # count
                per = (np.bincount(row_of[~nulls], minlength=lens.size)
                       if total else np.zeros(lens.size, dtype=np.int64))
            outv = np.repeat(per, lens).astype(np.float64)
            return outv, np.zeros(total, dtype=bool), "int"
        raise ValueError(f"unsupported np-eval node {op!r}")

    def _cast(v, dt):
        if isinstance(v, np.ndarray):
            return v.astype(dt, copy=False)
        return dt(v)

    def _mor(a, b):
        if isinstance(a, np.ndarray) or isinstance(b, np.ndarray):
            return np.logical_or(a, b)
        return bool(a) or bool(b)

    from pyspark.sql.functions import arrow_udf
    from pyspark.sql.types import ArrayType, DoubleType, FloatType

    spark_out = ArrayType(FloatType() if out_t == "float" else DoubleType())

    @arrow_udf(spark_out)
    def _udf(xa: pa.Array) -> pa.Array:
        if isinstance(xa, pa.ChunkedArray):
            xa = xa.combine_chunks()
        n = len(xa)
        offs = xa.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
        lo = offs[0]
        offs = offs - lo
        lens = np.diff(offs)
        total = int(offs[-1]) if n else 0
        child = xa.values[lo:lo + total]
        # Arrow keeps element validity separate from value bits: a null
        # slot is a NULL, a NaN slot stays NaN (the pandas transfer path
        # conflated them in both directions)
        vals = child.to_numpy(zero_copy_only=False).astype(np_in,
                                                           copy=False)
        nulls = child.is_null().to_numpy(zero_copy_only=False)
        starts = offs[:-1]
        pos = (np.arange(total) - np.repeat(starts, lens)
               if total else np.empty(0, dtype=np.int64))
        rv, rn, _t = _run(prog, vals, nulls, pos, lens, starts, total)
        if not isinstance(rv, np.ndarray):
            rv = np.full(total, rv, dtype=np.float64)
        if not isinstance(rn, np.ndarray):
            rn = np.full(total, bool(rn))
        rv = np.ascontiguousarray(rv.astype(np_out, copy=False))
        out_vals = pa.array(rv, type=pa_out, from_pandas=False,
                            mask=np.ascontiguousarray(rn))
        return pa.ListArray.from_arrays(
            pa.array(offs, type=pa.int32()), out_vals,
            mask=xa.is_null())

    _NP_EVAL_CACHE[key] = _udf
    return _udf


_NP_CUMEVAL_CACHE = {}

_NP_T = {"int": "int32", "bigint": "int64",
         "float": "float32", "double": "float64"}


def np_cumeval_arrays_udf(prog, elem_t: str, out_t: str, min_p: int):
    """Vectorized expanding-prefix evaluator for cumulative_eval (round-7).

    Input: ONE row per group carrying the ordered ``(i, v)`` pairs array
    the cumulative_eval plan already collects; output the matching
    ``(i, r)`` structs where ``r[k]`` = the sub-expression over the prefix
    of length k+1.  The JVM route re-folds every prefix inside an indexed
    HOF — O(g²) interpreted time per group; prefix aggregates are
    cumulative scans, so this kernel computes each group's whole result
    array in O(g) numpy (np.*.accumulate is strictly sequential, i.e.
    bit-identical to the HOF's left fold).

    ``prog`` nodes: ("cagg", label) prefix aggregates mirroring
    ``_arr_reduce`` exactly (sum folds in the ELEMENT dtype from 0 — an
    all-null prefix is 0, not null; mean/var divide a double cast, null on
    a zero count; min/max skip nulls via ±∞/int sentinels with Spark's
    NaN-greatest ordering; first/last = element_at ±1 with nulls kept),
    plus the same lit/bin/un algebra as the positional eval kernel
    (Catalyst coercions: "/" → double + null-on-zero-divisor).
    """
    key = (repr(prog), elem_t, out_t, min_p)
    cached = _NP_CUMEVAL_CACHE.get(key)
    if cached is not None:
        return cached

    import numpy as np
    import pyarrow as pa

    np_elem = np.dtype(_NP_T[elem_t])
    np_out = np.dtype(_NP_T[out_t])
    elem_t_np = _NP_T[elem_t]
    pa_out = {"int": pa.int32(), "bigint": pa.int64(),
              "float": pa.float32(), "double": pa.float64()}[out_t]
    is_int_elem = np_elem.kind == "i"

    def _cast(v, dt):
        if isinstance(v, np.ndarray):
            return v.astype(dt, copy=False)
        return np.dtype(dt).type(v)

    def _mor(a, b):
        if isinstance(a, np.ndarray) or isinstance(b, np.ndarray):
            return np.logical_or(a, b)
        return bool(a) or bool(b)

    def _np_bin_t(lt, rt, op):
        if op == "/":
            return "float64"
        order = ["int32", "int64", "float32", "float64"]
        lt2 = lt if lt != "intlit" else "int32"
        rt2 = rt if rt != "intlit" else "int32"
        if lt == "fltlit" or rt == "fltlit":
            return "float64"
        return order[max(order.index(lt2), order.index(rt2))]

    def _run_group(prog, v, nl, np_module=None):
        """Evaluate over ONE group's (values, nulls); returns
        (vals, nulls) arrays of the prefix results."""
        g = len(v)
        op = prog[0]
        if op == "lit":
            x = prog[1]
            if x is None:
                return (np.full(g, np.nan), np.ones(g, bool),
                        "fltlit")
            t = "intlit" if isinstance(x, int) else "fltlit"
            return x, False, t
        if op == "un":
            ov, on, t = _run_group(prog[2], v, nl)
            return (np.abs(ov) if prog[1] == "abs" else -ov), on, t
        if op == "bin":
            o = prog[1]
            lv, ln, lt = _run_group(prog[2], v, nl)
            rv, rn, rt = _run_group(prog[3], v, nl)
            if o == "/":
                # polars /0 semantics: ±inf / NaN (see exprs._div_polars)
                lv = _cast(lv, np.float64)
                rv = _cast(rv, np.float64)
                with np.errstate(divide="ignore", invalid="ignore"):
                    out = lv / rv
                return out, _mor(ln, rn), "float64"
            t = _np_bin_t(lt, rt, o)
            dt = np.dtype(t)
            lv, rv = _cast(lv, dt), _cast(rv, dt)
            with np.errstate(over="ignore", invalid="ignore"):
                if o == "+":
                    out = lv + rv
                elif o == "-":
                    out = lv - rv
                else:
                    out = lv * rv
            return out, _mor(ln, rn), t
        if op == "cagg":
            label = prog[1]
            nn = ~nl
            nncnt = np.cumsum(nn)
            if label == "count":
                return nncnt.astype(np.int32), np.zeros(g, bool), "int32"
            if label == "len":
                # mirrors len's CUSTOM reducer size().cast(long) — int64,
                # unlike _arr_reduce's int32 count
                return (np.arange(1, g + 1, dtype=np.int64),
                        np.zeros(g, bool), "int64")
            if label == "first":
                fv = v[0] if g else 0
                fn_ = nl[0] if g else True
                return (np.full(g, fv, dtype=np_elem),
                        np.full(g, bool(fn_)), elem_t_np)
            if label == "last":
                return v.copy(), nl.copy(), elem_t_np
            if label == "sum":
                x = np.where(nl, np.dtype(np_elem).type(0), v)
                return np.cumsum(x, dtype=np_elem), np.zeros(g, bool), \
                    elem_t_np
            if label == "mean":
                x = np.where(nl, np.dtype(np_elem).type(0), v)
                s = np.cumsum(x, dtype=np_elem).astype(np.float64)
                with np.errstate(invalid="ignore", divide="ignore"):
                    out = s / nncnt
                return out, nncnt == 0, "float64"
            if label in ("min", "max"):
                if is_int_elem:
                    sent = (np.iinfo(np_elem).max if label == "min"
                            else np.iinfo(np_elem).min)
                    x = np.where(nl, sent, v)
                    acc = (np.minimum if label == "min"
                           else np.maximum).accumulate(x)
                    return acc, nncnt == 0, elem_t_np
                # polars semantics (round-11): min AND max IGNORE NaN
                # (expr.rb max doctest); an all-NaN prefix is null —
                # matches Expr._minmax_agg and the sliding kernel
                sent = np.inf if label == "min" else -np.inf
                x = np.where(nl, np_elem.type(sent), v)
                acc = (np.fmin if label == "min"
                       else np.fmax).accumulate(x)
                finite_cnt = np.cumsum(nn & ~np.isnan(v))
                return acc, finite_cnt == 0, elem_t_np
            if label in ("stddev_samp", "stddev_pop",
                         "var_samp", "var_pop"):
                xd = np.where(nl, 0.0, v.astype(np.float64))
                s = np.cumsum(xd)
                s2 = np.cumsum(xd * xd)
                n = nncnt.astype(np.float64)
                with np.errstate(invalid="ignore", divide="ignore"):
                    varp = np.maximum(s2 / n - (s / n) * (s / n), 0.0)
                    if label.endswith("_samp"):
                        out = varp * n / (n - 1.0)
                        bad = nncnt <= 1
                    else:
                        out = varp
                        bad = nncnt == 0
                    if label.startswith("stddev"):
                        out = np.sqrt(out)
                return out, bad, "float64"
        raise ValueError(f"unsupported cum-eval node {prog!r}")

    from pyspark.sql.functions import arrow_udf
    from pyspark.sql import types as T

    spark_elem = {"int": T.IntegerType(), "bigint": T.LongType(),
                  "float": T.FloatType(), "double": T.DoubleType()}
    spark_out = T.ArrayType(T.StructType([
        T.StructField("i", T.LongType()),
        T.StructField("r", spark_elem[out_t])]))

    @arrow_udf(spark_out)
    def _udf(xa: pa.Array) -> pa.Array:
        if isinstance(xa, pa.ChunkedArray):
            xa = xa.combine_chunks()
        n = len(xa)
        offs = xa.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
        lo = offs[0]
        offs = offs - lo
        total = int(offs[-1]) if n else 0
        structs = xa.values[lo:lo + total]
        vv = structs.field("v")
        nulls = vv.is_null().to_numpy(zero_copy_only=False)
        if np_elem.kind == "i":
            vals = vv.fill_null(0).to_numpy(zero_copy_only=False) \
                .astype(np_elem, copy=False)
        else:
            vals = vv.to_numpy(zero_copy_only=False).astype(np_elem,
                                                            copy=False)
        rv = np.empty(total, dtype=np_out)
        rn = np.empty(total, dtype=bool)
        for r in range(n):
            a, b = int(offs[r]), int(offs[r + 1])
            if a == b:
                continue
            gv, gn = vals[a:b], nulls[a:b]
            ov, on, _t = _run_group(prog, gv, gn)
            if not isinstance(ov, np.ndarray):
                ov = np.full(b - a, ov)
            if not isinstance(on, np.ndarray):
                on = np.full(b - a, bool(on))
            if np_out.kind == "i":
                safe = np.where(on, 0, ov)
                rv[a:b] = safe.astype(np_out, copy=False)
            else:
                rv[a:b] = ov.astype(np_out, copy=False)
            rn[a:b] = on
            if min_p > 1:
                few = np.cumsum(~gn) < min_p
                rn[a:b] = rn[a:b] | few
        out_r = pa.array(np.ascontiguousarray(rv), type=pa_out,
                         from_pandas=False,
                         mask=np.ascontiguousarray(rn))
        out_structs = pa.StructArray.from_arrays(
            [structs.field("i").cast(pa.int64()), out_r],
            names=["i", "r"])
        return pa.ListArray.from_arrays(
            pa.array(offs, type=pa.int32()), out_structs,
            mask=xa.is_null())

    _NP_CUMEVAL_CACHE[key] = _udf
    return _udf


_EWM_FOLD_CACHE = {}


def ewm_kernel_fold_udf(specs: list):
    """Carry composition for the Arrow-kernel ungrouped ewm
    (``operators/ewm.py``): folds the pid-sorted O(partitions) summary
    array (one mapInArrow row per partition) into each partition's
    INCOMING per-series carry ``c{j}``, prior non-null count ``p{i}`` and,
    for a reset-form binding, the rows ``g{i}`` since its last
    observation.

    A standard-form series composes ``v -> lam^(p*len) * v + total``,
    taking ``q{j}`` while no observation precedes the partition and
    ``qa{j}`` after (they differ only for adjust=false, where the GLOBAL
    first non-null keeps weight 1).  A reset-form binding first takes its
    partition's first observation step over the true gap, then applies
    the partition's map ``v -> e^(-p*dl) * v + q{j}``.
    """
    key = tuple(tuple(sorted(spec.items())) for spec in specs)
    cached = _EWM_FOLD_CACHE.get(key)
    if cached is not None:
        return cached

    import math

    import pyarrow as pa
    from pyspark.sql.functions import arrow_udf
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql import types as T

    from .operators.ewm import (_is_reset_form, _item_series,
                                _reset_decrement_np, _reset_inputs_np)

    layout, ns = [], 0     # per binding: (spec, reset form, [(j, power)])
    for spec in specs:
        powers = [p for _sfx, p in _item_series(spec)]
        layout.append((spec, _is_reset_form(spec),
                       [(ns + k, p) for k, p in enumerate(powers)]))
        ns += len(powers)
    resets = [i for i, (_s, reset, _js) in enumerate(layout) if reset]
    out_struct = T.StructType(
        [T.StructField("pid", T.IntegerType())]
        + [T.StructField(f"c{j}", T.DoubleType()) for j in range(ns)]
        + [T.StructField(f"p{i}", T.LongType()) for i in range(len(specs))]
        + [T.StructField(f"g{i}", T.LongType()) for i in resets])
    pa_type = to_arrow_type(T.ArrayType(out_struct))

    @arrow_udf(T.ArrayType(out_struct))
    def _udf(xa: pa.Array) -> pa.Array:
        if isinstance(xa, pa.ChunkedArray):
            xa = xa.combine_chunks()
        out = []
        for row in xa.to_pylist():
            s, n, g = [0.0] * ns, [0] * len(specs), [1] * len(specs)
            rows = []
            for e in sorted(row, key=lambda e: e["pid"]):
                rows.append({"pid": e["pid"],
                             **{f"c{j}": v for j, v in enumerate(s)},
                             **{f"p{i}": v for i, v in enumerate(n)},
                             **{f"g{i}": g[i] for i in resets}})
                for i, (spec, reset, js) in enumerate(layout):
                    nn = e[f"nn{i}"]
                    if reset and nn:
                        d0, a0 = (_reset_decrement_np(
                            float(g[i] + e[f"f{i}"]), spec["lam"],
                            spec["alpha"]) if n[i] else (0.0, 1.0))
                        b0 = _reset_inputs_np(e[f"x{i}"], a0, spec)
                        for (j, p), b in zip(js, b0):
                            y0 = math.exp(-p * d0) * s[j] + b
                            s[j] = (math.exp(-p * e[f"dl{i}"]) * y0
                                    + e[f"q{j}"])
                        g[i] = e["nr"] - e[f"l{i}"]
                    elif reset:
                        g[i] += e["nr"]
                    else:
                        length = nn if spec["ignore_nulls"] else e["nr"]
                        for j, p in js:
                            q = e[f"q{j}"] if n[i] == 0 else e[f"qa{j}"]
                            s[j] = (spec["lam"] ** (p * length)) * s[j] \
                                + (q if q is not None else 0.0)
                    n[i] += nn
            out.append(rows)
        return pa.array(out, type=pa_type)

    _EWM_FOLD_CACHE[key] = _udf
    return _udf


def make_grouped_agg_udf(function, return_type):
    """GROUPED_AGG pandas UDF (SURVEY §2.4 'UDAF available as extension'):
    pd.Series per group -> scalar, Arrow-batched, usable under group_by.agg
    and over() windows."""

    @pandas_udf(return_type)
    def _udf(s: pd.Series) -> float:
        return function(s)

    return _udf

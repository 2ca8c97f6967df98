"""Scale-safe exponentially-weighted moving aggregates (ewm_mean/var/std).

Parity: ``/root/reference/lib/polars/expr.rb:6381-6482`` (ewm_mean/ewm_std/
ewm_var with ``adjust``, ``bias``, ``min_periods``, ``ignore_nulls``).

Every ewm quantity is a ratio of exponentially-decayed running sums

    S_t = sum_{i<=t} c_i * lam^{p*(j_t - j_i)}        (lam = 1 - alpha)

where ``j`` is the decay index (non-null count - 1 when ``ignore_nulls``,
row position otherwise), ``c_i`` a per-row coefficient and ``p`` the decay
power (1 for the weighted sums, 2 for the squared-weight sum used by the
``bias: false`` correction):

    mean = S1/S0            c0 = base,  c1 = base*x
    var  = S2/S0 - mean^2   c2 = base*x^2;  unbiased *= S0^2/(S0^2 - SQ)
    base = 1 (adjust) | alpha, except 1 at the first non-null (non-adjust)

The naive plan (collect the whole prefix per row) is O(n^2) per group —
round-2 VERDICT's one scale-killer.  This module computes S in O(n) via a
*block-segmented prescaled scan* in numpy, run inside Arrow kernels:

1. the scan axis is cut into *segments* (one group's rows, or one
   partition's), and each segment's decay index into blocks of ``B``
   positions, with ``B`` chosen so ``lam^(-2B) <= 1e200`` never overflows
   a double;
2. within a block, ``S_local = lam^(p*r) * running_sum(c * lam^(-p*r))``
   — one ordered running sum per series; one call scans every segment of
   an Arrow batch at once;
3. across blocks, the totals of block b-1 (and b-2) of the same segment
   are carried in at their decay — contributions from >= 3 blocks back
   carry weight ``lam^(3B) <= 1e-300`` and are dropped (documented
   truncation: below any representable effect unless the data spans ~600
   orders of magnitude; polars' own sequential f64 recurrence rounds far
   above it);
4. for the UNGROUPED frame, the scan runs per partition over contiguous
   ROW_IDX ranges, and the per-partition boundary states —
   O(num_partitions) rows — are composed by a lazy fold (the affine maps
   ``v -> lam^len * v + total`` compose associatively); see the kernel
   note below.  GROUPED ewm (``over(keys)``) hash-partitions on the keys
   and sorts by (keys, ROW_IDX) within partitions, so one streaming pass
   restarts the scan at every key change (see ``attach_ewm_grouped``).

Neither path collects to the driver, and neither builds a single-partition
window over data-sized input.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import ROW_IDX

_PID = "__ewm_pid__"

#: columns are prescaled by lam^(-p*r) with r < B; cap the magnitude at
#: 1e200 for the squared-decay series (p=2) => lam^(-B) <= 1e100.
_MAX_PRESCALE_LOG10 = 100.0


def _block_size(lam: float) -> int:
    """Largest block size whose prescale factors stay finite in a double."""
    if lam <= 0.0:
        return 1
    neg_log10 = -math.log10(lam)
    if neg_log10 <= 1e-12:
        return 1 << 30
    return max(1, min(1 << 30, int(_MAX_PRESCALE_LOG10 / neg_log10)))


def _combine(spec: dict, sfx: str):
    """Final expression over one binding's attached ``__ewm_*{sfx}__``
    sum columns.  The reset form's normalized weights sum to 1, so its
    s0 is the literal 1 (the mean IS s1)."""
    m = F.col(f"__ewm_m{sfx}__")
    s0 = F.lit(1.0) if _is_reset_form(spec) else F.col(f"__ewm_s0{sfx}__")
    mean = F.col(f"__ewm_s1{sfx}__") / s0
    ok = m >= max(spec["min_periods"], 1)
    if spec["kind"] == "mean":
        return F.when(ok, mean)
    s2, sq = F.col(f"__ewm_s2{sfx}__"), F.col(f"__ewm_sq{sfx}__")
    # a single observation's variance is exactly 0 (guard the catastrophic
    # cancellation in s2/s0 - mean^2, and polars' 0.0-at-first-row
    # convention for the unbiased form: expr.rb:6398 doctest)
    var = F.greatest(s2 / s0 - mean * mean, F.lit(0.0))
    if not spec["bias"]:
        denom = s0 * s0 - sq
        var = F.when(denom > 0, var * s0 * s0 / denom).otherwise(F.lit(0.0))
    var = F.when(m == 1, F.lit(0.0)).otherwise(var)
    return F.when(ok, F.sqrt(var) if spec["kind"] == "std" else var)


# -- reset form (adjust=false & ignore_nulls=false) --------------------------
#
# pandas/polars implement that combination with a RESET normalization
# (polars-arrow ewm kernels mirror pandas window_aggregations.pyx): at each
# observation separated by k periods from the previous one,
#
#     y_t = (lam^k * y_{t-1} + alpha * x_t) / (lam^k + alpha)
#
# i.e. an affine scan y -> m_t*y + a'_t*x_t with DATA-DEPENDENT multiplier
# m_t = lam^k/(lam^k + alpha) and a'_t = alpha/(lam^k + alpha); the
# normalized weights always sum to 1.  The same block-segmentation applies
# with the block id derived from the ACCUMULATED log-decay instead of the
# position: L_t = sum of d_i, with d = -ln(m) taken in log space as
# ln(lam^k + alpha) - k*ln(lam) (finite where lam^k underflows to 0 after
# a long null gap), blk = floor(L/T), so exp factors stay in [e^-T, 1]
# within a block and cross-block carries enter at e^-T / e^-2T (>= 3
# blocks back: < 1e-200, dropped).  exp/log round-trip costs ~1e-15
# relative precision — far inside the 9dp oracle bar.

#: log-decay span per block: e^T = 1e100 never overflows prescaled doubles
_LOG_BLOCK = 230.0

#: cap on one step's log-decrement.  e^-920 is 0 in a double, and a row
#: that far past its predecessor sits >= 4 block ids later, beyond the
#: two-block carry — so the cap drops nothing the scan would keep; it only
#: keeps L finite when lam = 0 (alpha = 1)
_D_CAP = 4 * _LOG_BLOCK


def _ln(lam: float) -> float:
    return math.log(lam) if lam > 0 else -math.inf


def _is_reset_form(spec: dict) -> bool:
    return not spec["adjust"] and not spec["ignore_nulls"]


# -- Arrow-kernel ungrouped path (round-8) -----------------------------------
#
# Once partitions are contiguous ROW_IDX ranges the ungrouped scan is
# strictly per-partition: ONE ``mapInArrow`` pass computes every binding's
# sums with vectorized numpy — zero shuffles, zero sorts, O(n/P) per task —
# after a tiny pass that emits one summary row per partition for the lazy
# O(partitions) carry fold.  Each partition is one scan segment.
#
# The reset form (adjust=false & ignore_nulls=false) has data-dependent
# block widths, so it scans the observation axis with blocks cut at
# floor(L/T).  Its summary row cannot take the partition's first step,
# whose gap reaches back across earlier partitions: it carries the map
# from the state just after the first observation to the state at the
# last, that observation's value and position, and the last observation's
# position, and the fold takes the first step with the true gap.  Gaps
# count rows, not ROW_IDX values, so an index left gapped by a filter
# still measures the frame's own rows.


def _item_series(spec: dict) -> list:
    """Flattened (suffix, decay-power) list for one binding (the reset
    form's normalized weights need no s0)."""
    out = [("s1", 1)] if _is_reset_form(spec) else [("s0", 1), ("s1", 1)]
    if spec["kind"] in ("var", "std"):
        out += [("s2", 1), ("sq", 2)]
    return out


def _scan_fields(spec: dict, sfx: str) -> list:
    """The kernel's output columns for one binding: the running non-null
    count ``__ewm_m{sfx}__`` and one decayed sum per series."""
    from pyspark.sql import types as T

    return [T.StructField(f"__ewm_m{sfx}__", T.LongType())] + [
        T.StructField(f"__ewm_{s}{sfx}__", T.DoubleType())
        for s, _p in _item_series(spec)]


def _runs(key):
    """Start index and length of each run of equal values in ``key``
    (non-empty)."""
    import numpy as np

    starts = np.flatnonzero(np.r_[True, key[1:] != key[:-1]])
    return starts, np.diff(np.append(starts, len(key)))


def _seg_count(v, seg):
    """Running integer sum of ``v`` restarting at every segment of the
    (non-decreasing) segment ids ``seg``."""
    import numpy as np

    c = np.cumsum(v)
    if seg[0] == seg[-1]:
        return c
    starts, lens = _runs(seg)
    return c - np.repeat((c - v)[starts], lens)


def _seg_cumsum(v, starts, lens):
    """Running sum of ``v`` restarting at every run (``starts``, ``lens``
    from ``_runs``), in the sequential order of ``np.cumsum``: runs of
    like length (rounded up to a power of two) are summed row-wise in one
    2-D array padded to the longest of them, so the padding at most
    doubles the work.  Not a global cumsum minus run offsets: the
    e^T-scaled totals of earlier blocks would swamp a block's first
    terms."""
    import numpy as np

    if len(starts) <= 1:
        return np.cumsum(v)
    cls = np.ceil(np.log2(lens)).astype("int64")
    out = np.empty(len(v))
    for c in np.unique(cls):
        st, ln = starts[cls == c], lens[cls == c]
        cols = np.arange(ln.max())
        idx = st[:, None] + cols
        if ln.min() == len(cols):           # runs of one length: no padding
            out[idx] = np.cumsum(v[idx], axis=1)
            continue
        inside = cols < ln[:, None]
        idx = np.where(inside, idx, 0)
        out[idx[inside]] = np.cumsum(np.where(inside, v[idx], 0.0),
                                     axis=1)[inside]
    return out


def _blocks(blk, seg):
    """Block layout of a scan axis: the runs of each block ``blk`` of each
    segment ``seg``, and per block the index of the block one and two ids
    earlier in the same segment (-1 where absent; older blocks are
    dropped).  Block ids are spread three apart per segment, so none
    carries into another."""
    import numpy as np

    key = blk + seg * (blk.max() + 3)
    starts, lens = _runs(key)
    ids = key[starts]
    prev = []
    for back in (1, 2):
        at = np.minimum(np.searchsorted(ids, ids - back), len(ids) - 1)
        prev.append(np.where(ids[at] == ids - back, at, -1))
    return starts, lens, prev


def _block_sums(pre, blocks):
    """Running sums of ``pre`` within each block of ``blocks``, and the
    totals of the previous one and two blocks (0 where absent)."""
    import numpy as np

    starts, lens, prev = blocks
    s = _seg_cumsum(pre, starts, lens)
    tot = np.append(s[starts + lens - 1], 0.0)     # index -1: no block
    return s, np.repeat(tot[prev[0]], lens), np.repeat(tot[prev[1]], lens)


def _block_scan_np(coefs, powers, lam: float, B: int, seg, carries):
    """Block-segmented prescaled scan of each series in ``coefs`` (decay
    power in ``powers``) restarting at every segment of ``seg`` (the decay
    index j is the position in the segment), with the series' incoming
    carry merged into segment 0 at decay ``lam^(p*(j+1))``."""
    import numpy as np

    if not len(seg):
        return coefs
    j = _seg_count(np.ones(len(seg), dtype="int64"), seg) - 1
    blk = j // B
    r = (j - blk * B).astype("float64")
    blocks = _blocks(blk, seg)
    decay = {p: (lam ** (-(r * p)), lam ** (r * p), lam ** ((r + 1) * p))
             for p in set(powers)}
    out = []
    for c, p, carry in zip(coefs, powers, carries):
        pre, here, nxt = decay[p]
        lc, t1, t2 = _block_sums(c * pre, blocks)
        s = here * lc + nxt * (
            lam ** ((B - 1) * p) * (t1 + lam ** (B * p) * t2))
        if carry:
            s = s + np.where(seg == 0, lam ** ((j + 1.0) * p) * carry, 0.0)
        out.append(s)
    return out


def _rows_np(s, valid, mloc, seg, carry: float):
    """Observation-axis scan values back on the rows: a null row shares
    the previous observation's value; rows before their segment's first
    observation hold the incoming ``carry`` undecayed in segment 0, and 0
    elsewhere."""
    import numpy as np

    sr = s[np.maximum(np.cumsum(valid) - 1, 0)] if len(s) else 0.0
    return np.where(mloc > 0, sr, np.where(seg == 0, float(carry), 0.0))


def _reset_decrement_np(k, lam: float, alpha: float):
    """One reset step over a gap of ``k`` rows: the log-decrement
    d = ln(lam^k + alpha) - k*ln(lam), capped at ``_D_CAP``, and the input
    weight a' = alpha/(lam^k + alpha).  Scalars or arrays."""
    import numpy as np

    lamk = lam ** k
    d = np.minimum(np.log(lamk + alpha) - k * _ln(lam), _D_CAP)
    return d, alpha / (lamk + alpha)


def _reset_inputs_np(xo, ap, spec: dict) -> list:
    """Per-observation scan inputs a'^p * c of the reset sums, in
    ``_item_series`` order (c = x, x^2, 1)."""
    out = [ap * xo]
    if spec["kind"] in ("var", "std"):
        out += [ap * xo * xo, ap * ap]
    return out


def _reset_obs_np(x, valid, spec: dict, gap: int):
    """Observation axis of one run of rows: positions, values and each
    step's (d, a'); the first step spans ``gap`` rows before row 0."""
    import numpy as np

    pos = np.flatnonzero(valid)
    k = np.diff(pos, prepend=-gap).astype("float64")
    d, ap = _reset_decrement_np(k, spec["lam"], spec["alpha"])
    return pos, x[pos], d, ap


def _reset_scan_np(d, b, seg, carry: float):
    """``v -> e^-d * v + b`` over the observation axis, restarting at
    every segment of ``seg``, with segment 0 continuing from ``carry``:
    blocks cut at floor(L/T) of each segment's accumulated decay L, a
    running sum within each block, and the previous two blocks' totals
    carried at e^-T / e^-2T (older blocks dropped)."""
    import numpy as np

    if not len(d):
        return d
    L = _seg_cumsum(d, *_runs(seg))
    blk = np.floor(L / _LOG_BLOCK)
    off = L - blk * _LOG_BLOCK
    s, t1, t2 = _block_sums(b * np.exp(off), _blocks(blk, seg))
    s = np.exp(-off) * (s + math.exp(-_LOG_BLOCK) * t1
                        + math.exp(-2 * _LOG_BLOCK) * t2)
    if carry:
        s = s + np.where(seg == 0, np.exp(-L) * carry, 0.0)
    return s


def _scan_np(x, valid, spec: dict, prior_nn: int, carries: list, gap: int,
             starts):
    """Per-row decayed sums for one binding over a batch of rows cut into
    segments at ``starts`` (ascending, first 0).  ``x``: float64 (nulls
    NaN-filled), ``valid``: null mask (NaN VALUES are valid, matching
    ``isNotNull``).  Segment 0 continues a state of ``prior_nn``
    observations with per-series ``carries`` (``_item_series`` order),
    whose last observation (reset form) lies ``gap`` rows before row 0;
    every later segment starts empty, and a segment's first observation
    with no state before it takes weight 1.  Returns (m_rows, [s_rows])."""
    import numpy as np

    mark = np.zeros(len(x), dtype="int64")
    mark[starts[1:]] = 1
    seg = np.cumsum(mark)
    mloc = _seg_count(valid.astype("int64"), seg)
    first = valid & (mloc == 1) & ((seg > 0) | (prior_nn == 0))
    series = _item_series(spec)
    if _is_reset_form(spec):
        pos, xo, d, ap = _reset_obs_np(x, valid, spec, gap)
        d[first[pos]], ap[first[pos]] = 0.0, 1.0
        out = [_rows_np(_reset_scan_np(d * p, b, seg[pos], carry), valid,
                        mloc, seg, carry)
               for (_sfx, p), b, carry in zip(
                   series, _reset_inputs_np(xo, ap, spec), carries)]
    else:
        ign = spec["ignore_nulls"]
        on = valid if ign else slice(None)   # the scan (decay) axis
        vm = valid[on]
        if spec["adjust"]:
            base = base_sq = vm.astype("float64")
        else:
            base = np.where(first[on], 1.0,
                            np.where(vm, float(spec["alpha"]), 0.0))
            base_sq = base * base
        x0 = np.where(vm, x[on], 0.0)       # coalesce(xd, 0); NaN stays
        coefs = [base, base * x0] + (
            [base * x0 * x0, base_sq] if len(series) > 2 else [])
        out = _block_scan_np(coefs, [p for _sfx, p in series], spec["lam"],
                             _block_size(spec["lam"]), seg[on], carries)
        if ign:
            # the non-null-axis scan back on the rows (same j, same block
            # at a null row)
            out = [_rows_np(s, valid, mloc, seg, carry)
                   for s, carry in zip(out, carries)]
    return mloc + np.where(seg == 0, int(prior_nn), 0), out


def _sorted_table(batches):
    """Concatenate a partition's Arrow batches and sort by ROW_IDX."""
    import numpy as np
    import pyarrow as pa

    bl = list(batches)
    if not bl:
        return None
    tbl = pa.Table.from_batches(bl).combine_chunks()
    ridx = tbl.column(ROW_IDX).to_numpy(zero_copy_only=False)
    order = np.argsort(ridx, kind="stable")
    if not np.array_equal(order, np.arange(len(order))):
        tbl = tbl.take(pa.array(order))
    return tbl


def _col_np(tbl, name):
    import pyarrow.compute as pc

    col = tbl.column(name)
    valid = ~pc.is_null(col).to_numpy(zero_copy_only=False)
    return col.to_numpy(zero_copy_only=False), valid


def _summary_schema(specs: list):
    """Schema of the one-row-per-partition summary.  Per standard-form
    series it holds the decayed total at the partition's last row under
    both prior-empty variants (``q``/``qa``: they differ only when
    adjust=false, where the global first non-null keeps weight 1).  Per
    reset-form binding it holds the map from the state after the first
    observation to the state at the last (total ``q`` per series, log
    decay ``dl``), the first observation's value ``x`` and position
    ``f``, and the last observation's position ``l``."""
    from pyspark.sql import types as T

    lng, dbl = T.LongType(), T.DoubleType()
    fields = [("pid", T.IntegerType()), ("nr", lng)]
    j = 0
    for i, spec in enumerate(specs):
        ns = len(_item_series(spec))
        fields.append((f"nn{i}", lng))
        fields += [(f"q{j + k}", dbl) for k in range(ns)]
        if _is_reset_form(spec):
            fields += [(f"dl{i}", dbl), (f"x{i}", dbl), (f"f{i}", lng),
                       (f"l{i}", lng)]
        else:
            fields += [(f"qa{j + k}", dbl) for k in range(ns)]
        j += ns
    return T.StructType([T.StructField(n, t) for n, t in fields])


def _make_summary_kernel(specs: list, xs: list, schema):
    """One ``_summary_schema`` row per partition."""
    def gen(batches):
        import numpy as np
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        tbl = _sorted_table(batches)
        if tbl is None or tbl.num_rows == 0:
            return
        row = {"pid": int(tbl.column(_PID)[0].as_py()),
               "nr": tbl.num_rows}
        one = np.zeros(1, dtype="int64")
        jglob = 0
        for i, spec in enumerate(specs):
            x, valid = _col_np(tbl, xs[i])
            row[f"nn{i}"] = int(valid.sum())
            series = _item_series(spec)
            if _is_reset_form(spec):
                pos, xo, d, ap = _reset_obs_np(x, valid, spec, 1)
                if len(pos):
                    row.update({f"x{i}": float(xo[0]), f"f{i}": int(pos[0]),
                                f"l{i}": int(pos[-1])})
                # the observations after the first, from a zero state
                row[f"dl{i}"] = float(d[1:].sum())
                for k, ((_sfx, p), b) in enumerate(
                        zip(series, _reset_inputs_np(xo, ap, spec))):
                    q = _reset_scan_np(d[1:] * p, b[1:],
                                       np.zeros(len(b[1:]), "int64"), 0.0)
                    row[f"q{jglob + k}"] = float(q[-1]) if len(q) else 0.0
            else:
                zero = [0.0] * len(series)
                _m, s_rows = _scan_np(x, valid, spec, 0, zero, 1, one)
                alts = s_rows if spec["adjust"] else \
                    _scan_np(x, valid, spec, 1, zero, 1, one)[1]
                for k in range(len(series)):
                    row[f"q{jglob + k}"] = float(s_rows[k][-1])
                    row[f"qa{jglob + k}"] = float(alts[k][-1])
            jglob += len(series)
        yield pa.RecordBatch.from_pylist([row],
                                         schema=to_arrow_schema(schema))
    return gen


def _make_scan_kernel(specs: list, xs: list, out_names: list):
    """Full per-partition pass: appends per-binding ``__ewm_m_{i}__`` and
    merged ``__ewm_{sfx}_{i}__`` columns; emits rows ROW_IDX-sorted."""
    def gen(batches):
        import numpy as np
        import pyarrow as pa

        tbl = _sorted_table(batches)
        if tbl is None or tbl.num_rows == 0:
            return
        cols = {n: tbl.column(n) for n in tbl.schema.names}

        def carried(name, default):
            v = cols[name][0].as_py() if name in cols else None
            return default if v is None else v

        jglob = 0
        for i, spec in enumerate(specs):
            series = _item_series(spec)
            x, valid = _col_np(tbl, xs[i])
            m_rows, s_rows = _scan_np(
                x, valid, spec, carried(f"__ewm_p{i}__", 0),
                [carried(f"__ewm_c{jglob + k}__", 0.0)
                 for k in range(len(series))],
                carried(f"__ewm_g{i}__", 1), np.zeros(1, dtype="int64"))
            cols[f"__ewm_m_{i}__"] = pa.array(m_rows, type=pa.int64())
            for k, (sfx, _p) in enumerate(series):
                cols[f"__ewm_{sfx}_{i}__"] = pa.array(
                    s_rows[k], type=pa.float64())
            jglob += len(series)
        yield from pa.table({n: cols[n] for n in out_names}).to_batches()
    return gen


_NAN = object()


def _nan_free(v):
    """A nested key value with every float NaN swapped for one sentinel,
    so Python ``!=`` groups NaN with NaN as the sort does."""
    if isinstance(v, float) and v != v:
        return _NAN
    if isinstance(v, (list, tuple)):
        return [_nan_free(u) for u in v]
    if isinstance(v, dict):
        return {k: _nan_free(u) for k, u in v.items()}
    return v


def _key_breaks(keys, last):
    """Per row of the key batch ``keys``: does its key differ from the
    previous row's?  ``last`` is the previous batch's final key row (None:
    row 0 breaks).  Nulls equal nulls and NaN equals NaN, also inside
    nested keys, as the sort groups them."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    def np_(a):
        return a.to_numpy(zero_copy_only=False)

    brk = np.zeros(keys.num_rows, dtype=bool)
    for i in range(keys.num_columns):
        col = keys.column(i)
        if last is not None:
            col = pa.concat_arrays([last.column(i), col])
        a, b = col.slice(1), col.slice(0, len(col) - 1)
        try:
            ne = np_(pc.fill_null(pc.not_equal(a, b), False))
        except pa.ArrowNotImplementedError:      # nested key types
            ne = np.array([_nan_free(u) != _nan_free(v) for u, v in
                           zip(a.to_pylist(), b.to_pylist())], dtype=bool)
        d = ne | (np_(pc.is_null(a)) != np_(pc.is_null(b)))
        if pa.types.is_floating(col.type):
            d &= ~np_(pc.fill_null(
                pc.and_(pc.is_nan(a), pc.is_nan(b)), False))
        brk[keys.num_rows - len(d):] |= d
    if last is None:
        brk[0] = True
    return brk


def _make_grouped_kernel(spec: dict, kn: list, out_names: list):
    """Streaming pass over one partition sorted by (keys, ROW_IDX): each
    Arrow batch is one scan call whose segments start at its key changes;
    the count, sums and gap at a batch's last row carry into the next
    batch when its first row continues the same key."""
    def gen(batches):
        import numpy as np
        import pyarrow as pa

        last, state = None, None
        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            keys = rb.select(kn)
            brk = _key_breaks(keys, last)
            if brk[0]:
                state = (0, [0.0] * len(_item_series(spec)), 1)
            starts = np.flatnonzero(np.r_[True, brk[1:]])
            x, valid = _col_np(rb, "__ewm_x__")
            m_rows, s_rows = _scan_np(x, valid, spec, *state, starts)
            obs = np.flatnonzero(valid[starts[-1]:])
            state = (int(m_rows[-1]), [float(s[-1]) for s in s_rows],
                     n - starts[-1] - obs[-1] if len(obs) else state[2] + n)
            last = keys.slice(n - 1)
            yield pa.RecordBatch.from_arrays(
                rb.columns + [pa.array(m_rows, type=pa.int64())]
                + [pa.array(s, type=pa.float64()) for s in s_rows],
                names=out_names)
    return gen


def attach_ewm_grouped(sdf: DataFrame, value_fn, key_fns, spec: dict,
                       out_name: str) -> DataFrame:
    """ewm under ``over(keys)``: ``repartition(keys)``, then
    ``sortWithinPartitions(keys, ROW_IDX)``, then one ``mapInArrow`` that
    streams each partition and restarts the numpy scan at every key
    change (null keys form one group; see ``_make_grouped_kernel``).  A
    key never spans partitions, so there is no summary pass or fold, and
    memory per task is one Arrow batch.

    Round-7: order left dirty (the keys exchange scatters it) — hook
    binds mark the frame scrambled and the deferred restore sorts at
    polars-semantics exports, same contract as attach_grouped_rank_zip.
    """
    from pyspark.sql import types as T

    assert ROW_IDX in sdf.columns
    keys = key_fns(sdf)
    kn = [f"__ewm_k{i}__" for i in range(len(keys))]
    base = sdf.select("*", *[k.alias(n) for k, n in zip(keys, kn)],
                      value_fn(sdf).cast("double").alias("__ewm_x__"))
    scan = _scan_fields(spec, "")
    out_schema = T.StructType(list(base.schema.fields) + scan)
    out = (base.repartition(*kn).sortWithinPartitions(*kn, ROW_IDX)
           .mapInArrow(_make_grouped_kernel(spec, kn, out_schema.names),
                       out_schema))
    return out.withColumn(out_name, _combine(spec, "")).drop(
        *kn, "__ewm_x__", *[f.name for f in scan])


def attach_ewm_global_multi(sdf: DataFrame, items: list) -> DataFrame:
    """Ungrouped ewm over global row order, batched (a lone binding is a
    one-item batch): every binding, standard or reset form, shares one
    summary pass, one lazy O(partitions) carry fold and one scan pass of
    the per-partition Arrow kernel (see the kernel note).  Nothing is
    collected to the driver.

    ``items``: ``[(value_fn, spec, out_name), ...]``; binding ``i``'s scan
    columns are suffixed ``_{i}``.
    """
    from pyspark.sql import types as T

    from .._udf_helpers import ewm_kernel_fold_udf

    assert ROW_IDX in sdf.columns
    if getattr(sdf, "_plsq_idx_pinned", False):
        # fresh pinned with_row_index output: partitions are ALREADY
        # contiguous ROW_IDX ranges on a pinned layout — no extra shuffle,
        # no second checkpoint (round-8)
        base = sdf.withColumn(_PID, F.spark_partition_id())
    else:
        base = (sdf.repartitionByRange(F.col(ROW_IDX).asc())
                .localCheckpoint(eager=False)
                .withColumn(_PID, F.spark_partition_id()))
    xs = [f"__ewm_x_{i}__" for i in range(len(items))]
    specs = [spec for _vf, spec, _o in items]
    base = base.withColumns(
        {xn: vf(base).cast("double")
         for xn, (vf, _s, _o) in zip(xs, items)})

    sum_schema = _summary_schema(specs)
    summary = base.select(_PID, ROW_IDX, *xs).mapInArrow(
        _make_summary_kernel(specs, xs, sum_schema), sum_schema)
    onerow = summary.agg(F.array_sort(F.collect_list(
        F.struct(*map(F.col, sum_schema.names)))).alias("__arr__"))
    fold = ewm_kernel_fold_udf(specs)
    carry_cols = fold.returnType.elementType.names[1:]
    carry_tab = (onerow.select(F.explode(fold(F.col("__arr__"))).alias("r"))
                 .select(F.col("r.pid").alias(_PID),
                         *[F.col(f"r.{c}").alias(f"__ewm_{c}__")
                           for c in carry_cols]))
    joined = base.join(F.broadcast(carry_tab), _PID, "left")

    scan = [f for i, spec in enumerate(specs)
            for f in _scan_fields(spec, f"_{i}")]
    out_schema = T.StructType(list(joined.schema.fields) + scan)
    out_frame = joined.mapInArrow(
        _make_scan_kernel(specs, xs, out_schema.names), out_schema)
    for i, (_vf, spec, out_name) in enumerate(items):
        out_frame = out_frame.withColumn(out_name, _combine(spec, f"_{i}"))
    return out_frame.drop(
        _PID, *xs, *[f"__ewm_{c}__" for c in carry_cols],
        *[f.name for f in scan])

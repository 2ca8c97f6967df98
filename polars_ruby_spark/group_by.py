"""Grouping contexts: GroupBy / LazyGroupBy / DynamicGroupBy / RollingGroupBy.

Parity: ``/root/reference/lib/polars/group_by.rb:203`` (``agg``),
``lazy_group_by.rb:109``, ``dynamic_group_by.rb:35``, ``rolling_group_by.rb:26``.

The agg-context compiler implements the reference's signature move — ANY
expression is legal under ``agg`` (``lazy_frame.rb:1317-1334`` doctest):
aggregate exprs compile directly; non-aggregate exprs implicitly ``implode``
into a row-order-preserving list (``array_sort`` over ``(row_idx, value)``
structs, then project the value back out).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .exprs import Expr, bind_context, col, wrap_expr
from .session import ROW_IDX

#: rolling sliding-kernel kinds for the central-moment aggregate family —
#: meta labels are the Spark aggregate names Expr.std/var/skew map to
#: (exprs.py std/var: samp for ddof=1 else pop)
_MOMENT_KINDS = {
    "stddev_samp": ("std", 1), "stddev_pop": ("std", 0),
    "var_samp": ("var", 1), "var_pop": ("var", 0),
    "skewness": ("skew",), "kurtosis": ("kurt",),
}

#: aggregate meta labels that must never be mistaken for an elementwise
#: wrapper above another aggregate (_sliding_wrapper_plan): the kernelable
#: set, every _arr_reduce label, and the label _op_label gives unnamed
#: aggregate closures
_AGG_OP_LABELS = frozenset(_MOMENT_KINDS) | {
    "sum", "mean", "count", "len", "len_", "min", "max", "median", "agg",
    "first", "last", "product", "mode", "implode", "n_unique", "corr",
    "cov", "entropy", "quantile", "unique", "any", "all", "arg_min",
    "arg_max", "nan_min", "nan_max", "null_count", "approx_n_unique",
    "value_counts", "unique_counts", "agg_groups",
}


def _agg_columns(sdf, exprs, named):
    """Compile agg-context expressions to Spark aggregate Columns."""
    out = []
    needs_order = False
    all_exprs: list[tuple[str | None, Expr]] = []
    for e in exprs:
        for ee in wrap_expr(e)._expand(sdf):
            all_exprs.append((None, ee))
    for name, e in named.items():
        all_exprs.append((name, wrap_expr(e)))
    for name, e in all_exprs:
        # scrambles-only deferral applies to NON-agg windowables (they
        # substitute into a ROW_IDX-imploded helper); aggregates with a
        # value-ordered window (spearman pre-stage) never read the index
        if (e._needs_order or (e._scrambles_order and not e._is_agg)) \
                and ROW_IDX not in sdf.columns:
            # order-dependent expr before the hidden index exists: defer —
            # agg() re-runs this compile on the row-indexed frame (eager
            # dtype probes inside the bind would otherwise fail analysis)
            needs_order = True
            out.append(F.lit(None))
            continue
        if e._is_agg:
            bind_context.grouped_agg += 1
            try:
                c = e._fn(sdf, None)
            finally:
                bind_context.grouped_agg -= 1
        elif e._agg_list_fn is not None:
            # order-dependent per-row op (shift/reverse/sort) → per-group
            # array transform of the ordered collected base values
            # (guide_test.rb: agg(col("cars").reverse) yields reversed lists)
            from .exprs import _ordered_collect

            needs_order = True
            c = e._agg_list_fn(_ordered_collect(e._agg_list_base, sdf))
        else:
            # implicit implode, preserving row order via the hidden index
            needs_order = True
            inner = e._fn(sdf, None)
            pairs = F.array_sort(
                F.collect_list(F.struct(F.col(ROW_IDX).alias("i"), inner.alias("v"))))
            c = F.transform(pairs, lambda p: p["v"])
        alias = name or e._name
        if alias:
            c = c.alias(alias)
        out.append(c)
        needs_order = needs_order or e._needs_order
    return out, needs_order


def _windowable_in_agg(ew) -> bool:
    """Non-agg order-dependent expr (rank/cum_*/diff/fill/rolling/ewm…)
    whose per-group agg semantics equal its ``over(keys)`` semantics: inside
    ``agg`` it binds as a windowed helper column over the SAME keys the
    groupBy hashes on (one logical exchange), then implicitly implodes —
    reference: any expression is legal under agg (lazy_frame.rb:1317)."""
    return (not ew._is_agg and ew._agg_list_fn is None
            and ew._frame_fn is None and ew._multi_fn is None
            and ew._agg_pre_fn is None
            and (ew._needs_order or ew._scrambles_order))


def _exclude_keys_from_multi(exprs, named, key_names):
    """polars: ``pl.all()`` (any selector) inside a group-by agg excludes
    the grouping keys from its expansion.  A list/tuple argument splats
    (``agg([a, b])`` == ``agg(a, b)``, group_by.rb)."""
    flat = []
    for e in exprs:
        if isinstance(e, (list, tuple)):
            flat.extend(e)
        else:
            flat.append(e)
    exprs = flat
    keys = {k for k in key_names if k}
    if not keys:
        return list(exprs), dict(named)

    def drop(e):
        ew = wrap_expr(e)
        if ew._multi_fn is None:
            return ew
        mf = ew._multi_fn
        return Expr(multi_fn=lambda df, _mf=mf: [
            x for x in _mf(df) if x._name not in keys])

    return [drop(e) for e in exprs], {k: drop(v) for k, v in named.items()}


def _has_agg_prestages(exprs, named) -> bool:
    # multi (selector) exprs may expand to windowables — the substitution
    # pass expands them first and decides per expanded expr
    return any(ew._agg_pre_fn is not None or _windowable_in_agg(ew)
               or ew._multi_fn is not None
               for e in list(exprs) + list(named.values())
               for ew in (wrap_expr(e),))


def _staged_reroutable(ew) -> bool:
    """Array-route expr with a provably-equivalent staged windowed binding
    (the giant-group gate's candidates)."""
    # _staged_agg_fn is only ever attached when the reduced inner carried
    # an array route, so it encodes the route condition by construction
    return ((ew._is_agg and ew._staged_agg_fn is not None)
            or (not ew._is_agg and ew._agg_list_fn is not None
                and ew._staged_win_fn is not None))


def _giant_group_gate(sdf, key_exprs, exprs, named) -> bool:
    """Staged-reroute decision (round-6).

    Composed array-route exprs (shift→is_unique→any, shift→n_unique)
    reroute to STAGED windowed pre-stages whenever a provably-equivalent
    staged binding exists — measured 5× FASTER at sf0.1 even on uniform
    keys (interpreted HOFs get no codegen or CSE: per-element element_at
    over a collected-array subtree re-evaluates it, O(g²) with a large
    constant), and O(g log g) task-parallel under a 50%-mass hot key
    where the array route funnels one quadratic task (the original
    motivation — a count-probe gate — became moot once the staged plan
    won at every scale).  ``SPARK_GRAFT_GIANT_GROUP_FORCE=0`` keeps the
    array route (the fuzzer alternates both)."""
    import os

    if not any(_staged_reroutable(ew)
               for e in list(exprs) + list(named.values())
               for ew in (wrap_expr(e),)):
        return False
    return os.environ.get("SPARK_GRAFT_GIANT_GROUP_FORCE", "1") != "0"


def _apply_agg_prestages_cols(sdf, exprs, named, key_cols, giant=False):
    """Substitute exprs carrying an ``_agg_pre_fn`` hook (spearman corr,
    cumulative_eval) against explicit grouping key Columns.

    The hook extends the frame with per-group helper columns (e.g. average
    ranks over a window partitioned by the SAME keys the groupBy hashes on —
    one logical exchange) and yields the aggregate Column to run on top.
    Returns ``(sdf2, exprs2, named2)`` with hooked exprs replaced by plain
    aggregates over the helpers.  ``giant=True`` additionally reroutes
    array-route exprs with staged windowed bindings (giant-group gate)."""
    if not _has_agg_prestages(exprs, named) and not giant:
        return sdf, exprs, named

    def sub(e, name):
        nonlocal sdf
        ew = wrap_expr(e)
        if giant and _staged_reroutable(ew):
            if ROW_IDX not in sdf.columns:
                return e  # deferred: agg() re-runs on the indexed frame
            if ew._is_agg:
                sdf, c = ew._staged_agg_fn(sdf, key_cols)
                return Expr(lambda df, part, _c=c: _c,
                            name=name or ew._name, is_agg=True,
                            needs_order=True)
            sdf, h = ew._staged_win_fn(sdf, key_cols)
            return Expr(lambda df, part, _h=h: F.col(_h),
                        name=name or ew._name, needs_order=True)
        if ew._agg_pre_fn is not None:
            if ew._needs_order and ROW_IDX not in sdf.columns:
                return e  # deferred: agg() re-runs on the indexed frame
            sdf, c = ew._agg_pre_fn(sdf, key_cols)
            out = Expr(lambda df, part, _c=c: _c, name=name or ew._name,
                       is_agg=True, needs_order=ew._needs_order)
            return out
        if _windowable_in_agg(ew):
            if ROW_IDX not in sdf.columns:
                return e  # deferred: agg() re-runs on the indexed frame
            from .exprs import _next_gord_name

            helper = _next_gord_name()
            try:
                sdf2 = sdf.withColumn(helper, ew._fn(sdf, list(key_cols)))
            except Exception:
                # the direct windowed binding failed — a grouped-remap
                # hook can still host it (round-9: rolling_median/quantile
                # are TypedImperativeAggregates Spark refuses in ANY
                # window frame; their sliding-kernel remap is the only
                # grouped route).  Otherwise leave on the original path,
                # which raises loudly rather than computing a global
                # window.
                if ew._grouped_remap_fn is not None:
                    try:
                        kes = [Expr(lambda df, part, _c=c: _c)
                               for c in key_cols]
                        sdf, h = ew._grouped_remap_fn(sdf, kes)
                        return Expr(lambda df, part, _h=h: F.col(_h),
                                    name=name or ew._name,
                                    needs_order=True)
                    except Exception:
                        return e
                return e
            sdf = sdf2
            return Expr(lambda df, part, _h=helper: F.col(_h),
                        name=name or ew._name, needs_order=True)
        return e

    # expand selector (multi) exprs BEFORE substitution so each expanded
    # single can take the windowable pre-stage, and before any helper
    # columns land on the frame (pl.all() must not pick helpers up)
    flat = []
    for e in exprs:
        ew = wrap_expr(e)
        if ew._multi_fn is not None:
            flat.extend(ew._expand(sdf))
        else:
            flat.append(ew)
    exprs2 = [sub(e, None) for e in flat]
    named2 = {k: sub(v, k) for k, v in named.items()}
    return sdf, exprs2, named2


def _apply_agg_prestages(sdf, exprs, named, key_exprs, giant=False):
    """`_apply_agg_prestages_cols` over (name, Expr) key pairs."""
    if not _has_agg_prestages(exprs, named) and not giant:
        return sdf, exprs, named
    return _apply_agg_prestages_cols(
        sdf, exprs, named, [ke._fn(sdf, None) for _, ke in key_exprs],
        giant=giant)


class LazyGroupBy:
    _grouping = "groupBy"  # cube/rollup subclasses override (Spark extension)

    def __init__(self, lf, keys, maintain_order: bool = False):
        self._lf = lf
        self._keys = keys  # list of (name|None, Expr)
        self._maintain_order = maintain_order

    def _key_cols(self, sdf):
        cols = []
        for name, e in self._keys:
            c = e._fn(sdf, None)
            cols.append(c.alias(name or e._name or "key"))
        return cols

    def _order_base(self, sdf, exprs, named):
        """Frame carrying ROW_IDX for order-dependent aggregates.

        Deferred-sorted frames (`LazyFrame._order_cols`) get a WITHIN-GROUP
        ordinal: row_number over (group keys × sort spec) — the groupBy's
        own hash exchange satisfies the window, so the plan is ONE exchange
        with no global range sort and no index materialization.  Every agg-
        context consumer (min_by/max_by first-last, ordered collect structs)
        only compares ROW_IDX within a group, so a group-local ordinal is
        equivalent — except agg_groups (global positions), which falls back.
        """
        lf = self._lf
        spec = getattr(lf, "_order_cols", None)
        raw = lf._sdf_raw
        if (spec and ROW_IDX not in raw.columns
                and self._grouping == "groupBy"
                and all(n in raw.columns for n, _, _ in spec)
                and not any(e._needs_order for _, e in self._keys)
                and not any(
                    getattr(ee, "_needs_global_index", False)
                    for e in list(exprs) + list(named.values())
                    for ee in wrap_expr(e)._expand(raw))):
            from pyspark.sql import Window

            keys = [e._fn(raw, None) for _, e in self._keys]
            w = Window.partitionBy(*keys).orderBy(*lf._spec_cols(spec))
            return raw.withColumn(ROW_IDX, F.row_number().over(w))
        return lf._ensure_row_index()._sdf

    def agg(self, *exprs, **named):
        from .frame import LazyFrame

        exprs, named = _exclude_keys_from_multi(
            exprs, named, [name or e._name for name, e in self._keys])
        lf = self._lf
        if any(wrap_expr(e)._needs_global_index
               for e in list(exprs) + list(named.values())):
            # agg_groups reads ROW_IDX values as frame positions — a kept
            # gapped index is stale (round-5): re-rank to dense first
            lf = self._lf = lf._ensure_dense_index()
        sdf = lf._sdf
        if self._grouping == "groupBy":
            giant = _giant_group_gate(sdf, self._keys, exprs, named)
            psdf, pexprs, pnamed = _apply_agg_prestages(
                sdf, exprs, named, self._keys, giant=giant)
        elif _has_agg_prestages(exprs, named):
            # cube/rollup with pre-stage aggs (spearman, cumulative_eval):
            # the single-shuffle plan cannot host per-SUBTOTAL-group
            # pre-stage windows, so expand to explicit grouping sets —
            # each a plain groupBy carrying its own pre-stage — and union
            # (round-5; 2^k / k+1 passes, cube key counts are small by
            # construction)
            return self._agg_grouping_sets(exprs, named)
        else:
            psdf, pexprs, pnamed = sdf, exprs, named
        aggs, needs_order = _agg_columns(psdf, pexprs, pnamed)
        key_needs_order = any(e._needs_order for _, e in self._keys)
        if (needs_order or key_needs_order or self._maintain_order) \
                and ROW_IDX not in sdf.columns:
            if self._maintain_order:
                # first-appearance order needs GLOBAL positions — the
                # group-local ordinal would make every group's min 1
                sdf = lf._ensure_row_index()._sdf
            else:
                sdf = self._order_base(sdf, exprs, named)
            if self._grouping == "groupBy":
                psdf, pexprs, pnamed = _apply_agg_prestages(
                    sdf, exprs, named, self._keys, giant=giant)
            else:
                psdf, pexprs, pnamed = sdf, exprs, named
            aggs, _ = _agg_columns(psdf, pexprs, pnamed)
        sdf = psdf
        keys = self._key_cols(sdf)
        grouped = getattr(sdf, self._grouping)(*keys)
        if self._maintain_order and ROW_IDX in sdf.columns:
            # polars contract: groups come out in first-appearance order —
            # aggregate the min row position and sort the (small) result
            out = grouped.agg(*aggs, F.min(ROW_IDX).alias("__mo__"))
            return LazyFrame(out.orderBy("__mo__").drop("__mo__"))
        return LazyFrame(grouped.agg(*aggs))

    def _agg_grouping_sets(self, exprs, named):
        """cube/rollup expansion for pre-stage aggregates: one plain
        groupBy per grouping set, subtotal keys null-filled with the full
        set's dtypes, unioned by name."""
        from .frame import LazyFrame

        keys = self._keys
        n = len(keys)
        key_names = [name or e._name or "key" for name, e in keys]
        if self._grouping == "rollup":
            sets = [list(range(i)) for i in range(n, -1, -1)]
        else:  # cube: all subsets, full set first
            sets = sorted((tuple(j for j in range(n) if mask >> j & 1)
                           for mask in range(1 << n)),
                          key=lambda t: -len(t))
            sets = [list(t) for t in sets]
        parts = []
        key_types = None
        for idx_set in sets:
            gb = LazyGroupBy(self._lf, [keys[i] for i in idx_set])
            out = gb.agg(*exprs, **named)._sdf
            if key_types is None:
                # full set first: capture every key's output dtype
                key_types = {kn: out.schema[kn].dataType
                             for kn in key_names}
            present = {key_names[i] for i in idx_set}
            fills = [F.lit(None).cast(key_types[kn]).alias(kn)
                     for kn in key_names if kn not in present]
            agg_cols = [c for c in out.columns if c not in present]
            ordered = ([F.col(kn) if kn in present
                        else fills.pop(0) for kn in key_names]
                       + [F.col(c) for c in agg_cols])
            parts.append(out.select(*ordered))
        merged = parts[0]
        for p in parts[1:]:
            merged = merged.unionByName(p)
        return LazyFrame(merged)

    def head(self, n: int = 5):
        return self._per_group_slice(n, from_tail=False)

    def tail(self, n: int = 5):
        return self._per_group_slice(n, from_tail=True)

    def _per_group_slice(self, n: int, from_tail: bool):
        from pyspark.sql import Window

        from .frame import LazyFrame

        spec = getattr(self._lf, "_order_cols", None)
        if (spec and ROW_IDX not in self._lf._sdf_raw.columns
                and self._grouping == "groupBy"
                and all(c in self._lf._sdf_raw.columns
                        for c, _, _ in spec)
                and not any(e._needs_order for _, e in self._keys)):
            # deferred-sorted frame: slice against the sort keys directly —
            # one exchange, no row-index materialization
            sdf = self._lf._sdf_raw
            keys = [e._fn(sdf, None) for _, e in self._keys]
            order = self._lf._spec_cols(spec)
            if from_tail:
                flipped = []
                for (c_, d, nl) in spec:
                    c = F.col(c_)
                    if d:
                        flipped.append(c.asc_nulls_first() if nl
                                       else c.asc_nulls_last())
                    else:
                        flipped.append(c.desc_nulls_first() if nl
                                       else c.desc_nulls_last())
                order = flipped
            w = Window.partitionBy(*keys).orderBy(*order)
            out = (sdf.withColumn("__rn__", F.row_number().over(w))
                   .filter(F.col("__rn__") <= n).drop("__rn__"))
            res = LazyFrame(out)
            res._order_cols = spec
            res._order_dirty = True
            return res
        lf = self._lf._ensure_row_index()
        sdf = lf._sdf
        keys = [e._fn(sdf, None) for _, e in self._keys]
        order = F.col(ROW_IDX).desc() if from_tail else F.col(ROW_IDX).asc()
        w = Window.partitionBy(*keys).orderBy(order)
        out = (
            sdf.withColumn("__rn__", F.row_number().over(w))
            .filter(F.col("__rn__") <= n)
            .drop("__rn__")
        )
        # keep the hidden index: group slices come back in ORIGINAL row
        # order (group_by.rb tail doctest), and a later sort uses it as
        # the stability tiebreak
        res = LazyFrame(out)
        res._order_dirty = True
        return res

    # GroupBy aggregation shortcuts (group_by.rb:337-598)
    def _all_agg(self, method):
        sdf = self._lf._sdf
        key_names = {name or e._name for name, e in self._keys}
        exprs = [getattr(col(c), method)() for c in sdf.columns
                 if c not in key_names and c != ROW_IDX]
        return self.agg(*exprs)

    def sum(self):
        return self._all_agg("sum")

    def mean(self):
        return self._all_agg("mean")

    def min(self):
        return self._all_agg("min")

    def max(self):
        return self._all_agg("max")

    def median(self):
        return self._all_agg("median")

    def first(self):
        return self._all_agg("first")

    def last(self):
        return self._all_agg("last")

    def n_unique(self):
        return self._all_agg("n_unique")

    def count(self):
        return self.agg(_len_expr("count"))

    def len(self, name: str = "len"):
        return self.agg(_len_expr(name))

    def quantile(self, q: float, interpolation: str = "nearest"):
        sdf = self._lf._sdf
        key_names = {name or e._name for name, e in self._keys}
        exprs = [col(c).quantile(q, interpolation) for c in sdf.columns
                 if c not in key_names and c != ROW_IDX]
        return self.agg(*exprs)


def _len_expr(name: str = "count"):
    e = Expr(lambda df, part: F.count(F.lit(1)), name=name, is_agg=True)
    return e._set_meta("len", ())


class GroupBy(LazyGroupBy):
    """Eager group-by — same compiler, collected result (group_by.rb:203)."""

    def agg(self, *exprs, **named):
        from .frame import DataFrame

        return DataFrame._from_lazy(super().agg(*exprs, **named))

    def _wrap(self, lf):
        from .frame import DataFrame

        return DataFrame._from_lazy(lf)

    def head(self, n: int = 5):
        return self._wrap(super().head(n))

    def tail(self, n: int = 5):
        return self._wrap(super().tail(n))

    def __iter__(self):
        return self.each()

    def each(self):
        """group_by.rb:35 — iterate ``(group_name, sub-frame)`` pairs.

        Driver-side by nature (an iterator of frames); the partitioning
        itself is ``partition_by``'s one distinct-keys collect — each
        sub-frame stays a distributed filter, not a collected table."""
        key_names = [n or e._name for n, e in self._keys]
        parts = self._wrap(self._lf).partition_by(key_names, as_dict=True)
        yield from parts.items()

    def plot(self, *args, **kwargs):
        """group_by.rb:605 — grouped Vega-Lite spec via DataFrame.plot."""
        key_names = [n or e._name for n, e in self._keys]
        if len(key_names) > 1:
            raise ValueError("Multiple groups not supported")
        if "group" in kwargs:
            raise TypeError("unknown keyword: group")
        return self._wrap(self._lf).plot(*args, group=key_names[0], **kwargs)



class _TemporalGroupByMixin:
    """Eager-in/eager-out for the temporal group-bys (the reference's
    DataFrame#group_by_dynamic/#rolling return eager frames)."""

    def _wrap_out(self, lf):
        from .frame import DataFrame

        if isinstance(self._lf, DataFrame):
            return DataFrame._from_lazy(lf)
        return lf

    def _dyn_emit(self, grouped, winkey, nby, extra, label_col, renames=None):
        """Shared dynamic-window output assembly: polars emits by keys
        FIRST, then the boundary columns, then the label, with rows
        ordered by (by keys, window) — recorded as a DEFERRED order spec
        (export-time only) so the aggregation plan keeps its single
        hash-agg shuffle (test_plan_dynamic_closed_both_single_shuffle)."""
        from .frame import LazyFrame

        cols = grouped.columns
        by_names = cols[1:1 + nby]
        aggs = [c for c in cols[1 + nby:] if c != "__dp__"]
        by_sel = (renames if renames is not None
                  else [F.col(n) for n in by_names])
        out = grouped.select(*by_sel, *extra, label_col,
                             *[F.col(c) for c in aggs])
        lf = LazyFrame(out)
        sort_key = "_lower_boundary" if extra else self._index
        lf._order_cols = tuple(
            (n, False, False) for n in list(out.columns[:nby]) + [sort_key])
        lf._order_dirty = True
        return lf

    def _dyn_pre(self, exprs, named):
        """Prologue shared by every dynamic-window agg path: returns
        ``(sdf, aggs, hooked)``.  When any aggregate carries an
        ``_agg_pre_fn`` hook (spearman corr, cumulative_eval), binding is
        DEFERRED — those exprs must bind against the window-keyed frame,
        which only exists after window assignment; ``_dyn_bind`` finishes
        the job there (round-5, lazy_frame.rb:1416 any expression)."""
        sdf = self._lf._sdf
        if _has_agg_prestages(exprs, named):
            alls = [wrap_expr(e) for e in list(exprs) + list(named.values())]
            if any(e._needs_order
                   or (e._scrambles_order and not e._is_agg)
                   for e in alls) and ROW_IDX not in sdf.columns:
                sdf = self._lf._ensure_row_index()._sdf
            return sdf, None, True
        aggs, needs_order = _agg_columns(sdf, exprs, named)
        if needs_order:
            sdf = self._lf._ensure_row_index()._sdf
            aggs, _ = _agg_columns(sdf, exprs, named)
        return sdf, aggs, False

    def _dyn_bind(self, frame, exprs, named, key_cols):
        """Apply deferred ``_agg_pre_fn`` hooks against the window-assigned
        pre-groupBy frame (keys = window start + group keys — the SAME
        attributes the groupBy hashes, so the pre-stage windows share its
        exchange) and compile the final aggregate columns."""
        frame, exprs2, named2 = _apply_agg_prestages_cols(
            frame, exprs, named, key_cols)
        aggs, _ = _agg_columns(frame, exprs2, named2)
        return frame, aggs


class DynamicGroupBy(_TemporalGroupByMixin):
    """group_by_dynamic (lazy_frame.rb:1416): event-time tumbling/hopping
    windows → native ``F.window`` (SURVEY §2.10).

    Spark's window is [start, end) epoch-aligned — polars ``closed: "left"``
    and ``start_by: "window"`` defaults.  A row may land in multiple windows
    when period > every (Spark handles via window duplication).
    """

    #: epoch 1970-01-01 was a Thursday; startTime day-shift that makes
    #: weekly windows begin on the requested weekday (lazy_frame.rb start_by)
    _WEEKDAY_SHIFT = {"thursday": 0, "friday": 1, "saturday": 2, "sunday": 3,
                      "monday": 4, "tuesday": 5, "wednesday": 6}

    def __init__(self, lf, index_column, every, period=None, offset=None,
                 closed="left", label="left", include_boundaries=False, by=None,
                 start_by="window"):
        self._lf = lf
        self._index = index_column
        self._every = every
        self._period = period or every
        self._offset = offset
        self._closed = closed
        self._label = label
        self._include_boundaries = include_boundaries
        self._by = [by] if isinstance(by, (str, Expr)) else (by or [])
        self._start_by = start_by

    def agg(self, *exprs, **named):
        from .functions.duration import parse_duration
        from .frame import LazyFrame

        exprs, named = _exclude_keys_from_multi(
            exprs, named,
            [self._index] + [b if isinstance(b, str) else b._name
                             for b in self._by])
        if str(self._every).strip().endswith("i"):
            # INTEGER index windows ("2i" = 2 index units —
            # lazy_frame.rb:1416 idx doctest)
            return self._agg_int(exprs, named)
        every = parse_duration(self._every)
        period = parse_duration(self._period)
        if every.is_calendar or period.is_calendar:
            return self._agg_calendar(every, period, exprs, named)
        sdf, aggs, hooked = self._dyn_pre(exprs, named)
        every_s = f"{every.total_seconds()} seconds"
        period_s = f"{period.total_seconds()} seconds"
        start = None
        if self._offset is not None:
            off = parse_duration(self._offset)
            start = f"{off.total_seconds()} seconds"
        if self._start_by in self._WEEKDAY_SHIFT:
            # weekday start: shift F.window's epoch anchor (composes with
            # nothing else; polars restricts it to weekly windows too)
            start = f"{self._WEEKDAY_SHIFT[self._start_by]} days"
        elif self._start_by == "datapoint":
            return self._agg_datapoint(every, period, exprs, named)
        elif self._start_by != "window":
            raise ValueError(f"invalid start_by: {self._start_by!r}")
        if self._closed in ("both", "none"):
            # boundary rows belong to two windows ('both') or zero ('none') —
            # not a single-window assignment, so enumerate candidate windows
            return self._agg_enumerated(every, period, exprs, named)
        ts = F.col(self._index)
        if self._closed == "right":
            # (start, end] ⇔ [start, end) membership of ts - ε: shift the
            # assignment key one µs back; boundaries stay the true window
            ts = ts - F.expr("INTERVAL 1 MICROSECOND")
        elif self._closed != "left":
            raise ValueError(f"invalid closed: {self._closed!r}")
        win = F.window(ts, period_s, every_s, start)
        by_cols = [wrap_expr(b)._fn(sdf, None) if isinstance(b, Expr) else F.col(b)
                   for b in self._by]
        extra_aggs = []
        if self._label == "datapoint":
            extra_aggs.append(F.min(F.col(self._index)).alias("__dp__"))
        win_key = win.alias("__w__")
        if hooked:
            # pre-stage hooks (spearman/cumulative_eval) bind per window:
            # materialize the window struct as a column first
            sdf = sdf.withColumn("__w__", win)
            win_key = F.col("__w__")
            sdf, aggs = self._dyn_bind(sdf, exprs, named,
                                       [F.col("__w__"), *by_cols])
        grouped = sdf.groupBy(win_key, *by_cols).agg(*aggs, *extra_aggs)
        if self._label == "datapoint":
            label_col = F.col("__dp__").alias(self._index)
        else:
            label_col = (F.col("__w__.start") if self._label == "left"
                         else F.col("__w__.end")).alias(self._index)
        extra = []
        if self._include_boundaries:
            extra = [F.col("__w__.start").alias("_lower_boundary"),
                     F.col("__w__.end").alias("_upper_boundary")]
        return self._wrap_out(self._dyn_emit(
            grouped, "__w__", len(by_cols), extra, label_col))

    def _agg_datapoint(self, every, period, exprs, named):
        """start_by='datapoint': each group's FIRST data point anchors its
        window grid (lazy_frame.rb start_by).  Per-group min-ts via one hash
        agg broadcast back, then arithmetic bucket assignment — no F.window
        (its epoch anchor is global).  Tumbling closed left/right is a
        single-assignment fast path; period != every and closed both/none
        (round-3) enumerate candidate starts on the anchored grid and filter
        by the closed-interval test (same shape as _agg_enumerated)."""
        from .frame import LazyFrame

        hopping = every.total_seconds() != period.total_seconds()
        if hopping or self._closed in ("both", "none"):
            return self._agg_datapoint_enumerated(every, period, exprs, named)
        if self._closed not in ("left", "right"):
            raise ValueError(f"invalid closed: {self._closed!r}")
        every_us = int(every.total_seconds() * 1_000_000)
        sdf, aggs, hooked = self._dyn_pre(exprs, named)
        by_cols = [wrap_expr(b)._fn(sdf, None) if isinstance(b, Expr) else F.col(b)
                   for b in self._by]
        by_names = [f"__sbk{i}__" for i in range(len(by_cols))]
        base = sdf.select("*", *[c.alias(n) for c, n in zip(by_cols, by_names)])
        t = F.unix_micros(F.col(self._index).cast("timestamp"))
        anchors = (base.groupBy(*by_names)
                   .agg(F.min(t).alias("__sb_min__")))
        if by_names:
            joined = base.join(F.broadcast(anchors.withColumnsRenamed(
                {n: n + "r" for n in by_names})),
                on=[base[n].eqNullSafe(F.col(n + "r")) for n in by_names])
        else:
            joined = base.crossJoin(F.broadcast(anchors))
        tt = t - (F.lit(1) if self._closed == "right" else F.lit(0))
        k = F.floor((tt - F.col("__sb_min__")) / F.lit(every_us)).cast("long")
        start_us = F.col("__sb_min__") + k * F.lit(every_us)
        # forward-only grid: with closed='right' the anchor datapoint sits
        # on the open left edge of window 0 (k = -1 here) — polars drops it
        # rather than emitting a window before the first datapoint
        pre = joined.withColumn("__s__", start_us).filter(k >= 0)
        if hooked:
            pre, aggs = self._dyn_bind(
                pre, exprs, named,
                [F.col("__s__"), *[F.col(n) for n in by_names]])
        grouped = (pre
                   .groupBy(F.col("__s__"), *[F.col(n) for n in by_names])
                   .agg(*aggs,
                        *([F.min(F.col(self._index)).alias("__dp__")]
                          if self._label == "datapoint" else [])))
        if self._label == "datapoint":
            label_col = F.col("__dp__").alias(self._index)
        elif self._label == "right":
            label_col = F.timestamp_micros(F.col("__s__") + F.lit(every_us)).alias(self._index)
        else:
            label_col = F.timestamp_micros(F.col("__s__")).alias(self._index)
        extra = []
        if self._include_boundaries:
            extra = [F.timestamp_micros(F.col("__s__")).alias("_lower_boundary"),
                     F.timestamp_micros(F.col("__s__") + F.lit(every_us)).alias("_upper_boundary")]
        renames = [F.col(n).alias(str(b)) if isinstance(b, str) else F.col(n)
                   for n, b in zip(by_names, self._by)]
        return self._wrap_out(self._dyn_emit(
            grouped, "__s__", len(by_names), extra, label_col,
            renames=renames))

    def _agg_datapoint_enumerated(self, every, period, exprs, named):
        """start_by='datapoint' with period != every or closed both/none
        (round-3; lazy_frame.rb:1416 allows all combinations): per-group
        min-ts anchor broadcast back, then candidate-start enumeration on
        the anchored grid + ONE closed-interval membership test — the same
        single hash-agg shuffle as every other dynamic path."""
        from .frame import LazyFrame

        if every.months or period.months:
            # defensive: agg() dispatches calendar durations to
            # _agg_datapoint_calendar before reaching here
            return self._agg_datapoint_calendar(every, period, exprs, named)
        every_us = int(every.total_seconds() * 1_000_000)
        period_us = int(period.total_seconds() * 1_000_000)
        sdf, aggs, hooked = self._dyn_pre(exprs, named)
        by_cols = [wrap_expr(b)._fn(sdf, None) if isinstance(b, Expr) else F.col(b)
                   for b in self._by]
        by_names = [f"__sbk{i}__" for i in range(len(by_cols))]
        base = sdf.select("*", *[c.alias(n) for c, n in zip(by_cols, by_names)])
        t = F.unix_micros(F.col(self._index).cast("timestamp"))
        anchors = (base.groupBy(*by_names)
                   .agg(F.min(t).alias("__sb_min__")))
        if by_names:
            joined = base.join(F.broadcast(anchors.withColumnsRenamed(
                {n: n + "r" for n in by_names})),
                on=[base[n].eqNullSafe(F.col(n + "r")) for n in by_names])
        else:
            joined = base.crossJoin(F.broadcast(anchors))

        def floordiv(a, b):
            return ((a - F.pmod(a, F.lit(b))) / F.lit(b)).cast("long")

        rel = t - F.col("__sb_min__")
        k_hi = floordiv(rel, every_us)
        # the datapoint grid only extends FORWARD from the group's first
        # datapoint (lazy_frame.rb:1448): clamp so rows within `period` of
        # the anchor don't spawn windows starting before it
        k_lo = F.greatest(floordiv(rel - F.lit(period_us), every_us),
                          F.lit(0))
        exploded = joined.withColumn(
            "__k__", F.explode(F.sequence(k_lo, k_hi)))
        s = F.col("__sb_min__") + F.col("__k__") * F.lit(every_us)
        e = s + F.lit(period_us)
        member = {
            "left": (s <= t) & (t < e),
            "right": (s < t) & (t <= e),
            "both": (s <= t) & (t <= e),
            "none": (s < t) & (t < e),
        }.get(self._closed)
        if member is None:
            raise ValueError(f"invalid closed: {self._closed!r}")
        filtered = exploded.withColumn("__s__", s).filter(member)
        if hooked:
            filtered, aggs = self._dyn_bind(
                filtered, exprs, named,
                [F.col("__s__"), *[F.col(n) for n in by_names]])
        grouped = (filtered
                   .groupBy(F.col("__s__"), *[F.col(n) for n in by_names])
                   .agg(*aggs,
                        *([F.min(F.col(self._index)).alias("__dp__")]
                          if self._label == "datapoint" else [])))
        if self._label == "datapoint":
            label_col = F.col("__dp__").alias(self._index)
        elif self._label == "right":
            label_col = F.timestamp_micros(
                F.col("__s__") + F.lit(period_us)).alias(self._index)
        else:
            label_col = F.timestamp_micros(F.col("__s__")).alias(self._index)
        extra = []
        if self._include_boundaries:
            extra = [F.timestamp_micros(F.col("__s__")).alias("_lower_boundary"),
                     F.timestamp_micros(F.col("__s__") + F.lit(period_us))
                     .alias("_upper_boundary")]
        renames = [F.col(n).alias(str(b)) if isinstance(b, str) else F.col(n)
                   for n, b in zip(by_names, self._by)]
        return self._wrap_out(self._dyn_emit(
            grouped, "__s__", len(by_names), extra, label_col,
            renames=renames))

    def _agg_int(self, exprs, named):
        """Integer-index dynamic windows (every="Ni" — lazy_frame.rb:1416
        idx doctest): grid starts k*every+offset over the raw i64 index,
        candidate-start enumeration + closed-interval filter, one hash-agg
        shuffle on (start, by) — the same shape as the time paths."""
        from .frame import LazyFrame

        def iv(x):
            return int(str(x).strip().rstrip("i"))

        every_i = iv(self._every)
        period_i = iv(self._period) if self._period is not None else every_i
        off_i = iv(self._offset) if self._offset is not None else 0
        sdf, aggs, hooked = self._dyn_pre(exprs, named)
        t = F.col(self._index).cast("long")

        def floordiv(a, b):
            return ((a - F.pmod(a, F.lit(b))) / F.lit(b)).cast("long")

        k_lo = floordiv(t - F.lit(off_i) - F.lit(period_i), every_i)
        k_hi = floordiv(t - F.lit(off_i), every_i) + F.lit(1).cast("long")
        exploded = sdf.withColumn("__s__", F.explode(F.transform(
            F.sequence(k_lo, k_hi),
            lambda k: k * F.lit(every_i) + F.lit(off_i))))
        s = F.col("__s__")
        hi = s + F.lit(period_i)
        member = {"left": (s <= t) & (t < hi),
                  "right": (s < t) & (t <= hi),
                  "both": (s <= t) & (t <= hi),
                  "none": (s < t) & (t < hi)}[self._closed]
        filtered = exploded.filter(member)
        by_cols = [wrap_expr(b)._fn(sdf, None) if isinstance(b, Expr)
                   else F.col(b) for b in self._by]
        if hooked:
            filtered, aggs = self._dyn_bind(
                filtered, exprs, named, [F.col("__s__"), *by_cols])
        extra_aggs = [F.min(F.col(self._index)).alias("__dp__")] \
            if self._label == "datapoint" else []
        grouped = filtered.groupBy(F.col("__s__"), *by_cols).agg(
            *aggs, *extra_aggs)
        if self._label == "datapoint":
            label_col = F.col("__dp__").alias(self._index)
        elif self._label == "right":
            label_col = (F.col("__s__") + F.lit(every_i)).alias(self._index)
        else:
            label_col = F.col("__s__").alias(self._index)
        extra = []
        if self._include_boundaries:
            extra = [F.col("__s__").alias("_lower_boundary"),
                     (F.col("__s__") + F.lit(period_i))
                     .alias("_upper_boundary")]
        return self._wrap_out(self._dyn_emit(
            grouped, "__s__", len(by_cols), extra, label_col))

    def _agg_enumerated(self, every, period, exprs, named):
        """closed='both'/'none': enumerate each row's candidate window starts
        (explode a ≤ period/every + 1 element sequence) and filter by the
        closed-interval test.  Stays whole-stage codegen; one hash-agg
        shuffle on (window_start, by) — same shuffle shape as ``F.window``,
        so it scales identically (lazy_frame.rb:1416 closed semantics).
        """
        from .functions.duration import parse_duration
        from .frame import LazyFrame

        every_us = int(every.total_seconds() * 1_000_000)
        period_us = int(period.total_seconds() * 1_000_000)
        off_us = (int(parse_duration(self._offset).total_seconds() * 1_000_000)
                  if self._offset is not None else 0)
        sdf, aggs, hooked = self._dyn_pre(exprs, named)

        t = F.unix_micros(F.col(self._index).cast("timestamp"))

        def floordiv(a, b):
            # exact integer floor division (pmod is non-negative)
            return ((a - F.pmod(a, F.lit(b))) / F.lit(b)).cast("long")

        k_hi = floordiv(t - F.lit(off_us), every_us)
        k_lo = floordiv(t - F.lit(off_us) - F.lit(period_us), every_us)
        exploded = sdf.withColumn("__s__", F.explode(F.transform(
            F.sequence(k_lo, k_hi),
            lambda k: k * F.lit(every_us) + F.lit(off_us))))
        s = F.col("__s__")
        if self._closed == "both":
            member = (s <= t) & (t <= s + F.lit(period_us))
        else:  # none
            member = (s < t) & (t < s + F.lit(period_us))
        filtered = exploded.filter(member)

        by_cols = [wrap_expr(b)._fn(sdf, None) if isinstance(b, Expr) else F.col(b)
                   for b in self._by]
        if hooked:
            filtered, aggs = self._dyn_bind(
                filtered, exprs, named, [F.col("__s__"), *by_cols])
        extra_aggs = [F.min(F.col(self._index)).alias("__dp__")] \
            if self._label == "datapoint" else []
        grouped = filtered.groupBy(F.col("__s__"), *by_cols).agg(*aggs, *extra_aggs)
        if self._label == "datapoint":
            label_col = F.col("__dp__").alias(self._index)
        elif self._label == "right":
            label_col = F.timestamp_micros(
                F.col("__s__") + F.lit(period_us)).alias(self._index)
        else:
            label_col = F.timestamp_micros(F.col("__s__")).alias(self._index)
        extra = []
        if self._include_boundaries:
            extra = [F.timestamp_micros(F.col("__s__")).alias("_lower_boundary"),
                     F.timestamp_micros(F.col("__s__") + F.lit(period_us))
                     .alias("_upper_boundary")]
        return self._wrap_out(self._dyn_emit(
            grouped, "__s__", len(by_cols), extra, label_col))

    def _agg_calendar(self, every, period, exprs, named):
        """Calendar-unit (1mo/1q/1y) TUMBLING windows with offset and all
        four closed modes (round-2; ``lazy_frame.rb:1416-1458``).

        Variable-length months can't go through fixed-duration F.window;
        instead: shift by -offset, ``date_trunc``, shift back (interval
        arithmetic, so sub-day offsets keep the time component).  Boundary
        rows (timestamp exactly on a window start) re-assign to the previous
        window (closed='right'), duplicate into both neighbours (a ≤2-element
        explode, closed='both') or drop (closed='none').  Still ONE hash-agg
        shuffle.
        """
        from .functions.duration import parse_duration
        from .frame import LazyFrame

        if self._start_by == "datapoint":
            # round-5: each group's first datapoint anchors the calendar
            # grid — epoch-anchored date_trunc does not apply
            return self._agg_datapoint_calendar(every, period, exprs, named)
        if self._start_by in self._WEEKDAY_SHIFT:
            # polars restricts weekday anchors to weekly (fixed-duration)
            # windows; refuse loudly instead of silently using the epoch grid
            raise ValueError(
                f"start_by={self._start_by!r} requires a weekly every "
                f"(got calendar {self._every!r})")
        mixed = bool(every.months) and bool(int(every.microseconds))
        hopping = (every.months, every.microseconds) != (period.months,
                                                         period.microseconds)
        unit = {1: "month", 3: "quarter", 12: "year"}.get(every.months)
        if hopping or unit is None or mixed:
            # calendar HOPPING (period != every, round-3) and non-
            # truncatable pure-month steps (2mo, 6mo): enumerate each row's
            # candidate window starts on the every-grid and filter by the
            # closed-interval test — same explode shape as _agg_enumerated,
            # month-shift arithmetic via make_interval
            return self._agg_calendar_enumerated(every, period, exprs, named)
        step = every.months
        off = parse_duration(self._offset) if self._offset is not None else None
        sdf, aggs, hooked = self._dyn_pre(exprs, named)

        def shift(c, months, us):
            if months > 0:
                c = c + F.expr(f"INTERVAL {months} MONTH")
            elif months < 0:
                c = c - F.expr(f"INTERVAL {-months} MONTH")
            if us > 0:
                c = c + F.expr(f"INTERVAL {us} MICROSECOND")
            elif us < 0:
                c = c - F.expr(f"INTERVAL {-us} MICROSECOND")
            return c

        t = F.col(self._index)
        om = off.months if off else 0
        ou = int(off.microseconds) if off else 0
        start = F.date_trunc(unit, shift(t, -om, -ou))
        if off:
            start = shift(start, om, ou)
        base = sdf
        if self._closed == "left":
            base = base.withColumn("__w__", start)
        elif self._closed == "right":
            base = base.withColumn(
                "__w__", F.when(t == start, shift(start, -step, 0)).otherwise(start))
        elif self._closed == "none":
            base = base.filter(t != start).withColumn("__w__", start)
        elif self._closed == "both":
            base = base.withColumn("__w__", F.explode(
                F.when(t == start, F.array(start, shift(start, -step, 0)))
                .otherwise(F.array(start))))
        else:
            raise ValueError(f"invalid closed: {self._closed!r}")
        by_cols = [wrap_expr(b)._fn(sdf, None) if isinstance(b, Expr) else F.col(b)
                   for b in self._by]
        if hooked:
            base, aggs = self._dyn_bind(
                base, exprs, named, [F.col("__w__"), *by_cols])
        extra_aggs = [F.min(F.col(self._index)).alias("__dp__")] \
            if self._label == "datapoint" else []
        grouped = base.groupBy(F.col("__w__"), *by_cols).agg(*aggs, *extra_aggs)
        if self._label == "datapoint":
            label_col = F.col("__dp__").alias(self._index)
        elif self._label == "right":
            label_col = shift(F.col("__w__"), step, 0).alias(self._index)
        else:
            label_col = F.col("__w__").alias(self._index)
        extra = []
        if self._include_boundaries:
            extra = [F.col("__w__").alias("_lower_boundary"),
                     shift(F.col("__w__"), step, 0).alias("_upper_boundary")]
        return self._wrap_out(self._dyn_emit(
            grouped, "__w__", len(by_cols), extra, label_col))

    def _agg_calendar_enumerated(self, every, period, exprs, named):
        """Calendar hopping/sliding dynamic windows (round-3;
        ``lazy_frame.rb:1416-1458`` any every/period combination).

        Grid: window starts at every multiple of ``every`` from the epoch
        (plus offset) — a pure-month grid (every = Nmo) indexed by the row's
        epoch-month, or a fixed-duration grid (every in h/m/s/d) indexed by
        epoch-microseconds.  Each row enumerates its ≤⌈period/every⌉+2
        candidate starts (explode), membership is ONE closed-interval test
        (all four closed modes, no boundary special cases), then the same
        single hash-agg shuffle on (start, by) as every other dynamic path.
        ``period`` may mix months and sub-month parts; month shifts use
        ``make_interval`` so variable month lengths are exact.
        """
        from .functions.duration import parse_duration
        from .frame import LazyFrame

        off = (parse_duration(self._offset) if self._offset is not None
               else parse_duration("0s"))
        sdf, aggs, hooked = self._dyn_pre(exprs, named)
        t = F.col(self._index).cast("timestamp")
        pm, pus = period.months, int(period.microseconds)
        om, ous = off.months, int(off.microseconds)
        epoch = F.to_timestamp(F.lit("1970-01-01 00:00:00"))
        _28D_US = 28 * 86400 * 1_000_000
        _31D_US = 31 * 86400 * 1_000_000

        def win_start(k):
            # epoch + (k*em + om) months + (k*eus + ous) µs, exact per month
            s = epoch
            if every.months or om:
                s = s + F.make_interval(
                    F.lit(0), (k * F.lit(every.months) + F.lit(om)))
            us = k * F.lit(int(every.microseconds)) + F.lit(ous)
            return F.timestamp_micros(F.unix_micros(s) + us)

        def win_end(s):
            e = s
            if pm:
                e = e + F.make_interval(F.lit(0), F.lit(pm))
            if pus:
                e = F.timestamp_micros(F.unix_micros(e) + F.lit(pus))
            return e

        def floordiv(a, b):
            # exact integer floor division (pmod is non-negative)
            return ((a - F.pmod(a, F.lit(b))) / F.lit(b)).cast("long")

        em, eus = every.months, int(every.microseconds)
        if em and eus:
            # MIXED every (1mo10d, round-5): no closed-form row->k mapping
            # exists (month lengths vary), but k is tightly BRACKETED by the
            # 28/31-day month bounds — enumerate the bracket, the exact
            # closed-interval filter below keeps only true members
            tshift = t
            if om:
                tshift = tshift - F.make_interval(F.lit(0), F.lit(om))
            if ous:
                tshift = F.timestamp_micros(F.unix_micros(tshift) - F.lit(ous))
            rel = F.unix_micros(tshift)
            step28 = em * _28D_US + eus
            step31 = em * _31D_US + eus
            span_max = pm * _31D_US + pus
            k_hi = F.greatest(floordiv(rel, step28),
                              floordiv(rel, step31)) + F.lit(1)
            k_lo = F.least(floordiv(rel - F.lit(span_max), step28),
                           floordiv(rel - F.lit(span_max), step31)) - F.lit(1)
        elif em:
            # month-grid: k_hi from the shifted row's epoch-month index
            tshift = t
            if om:
                tshift = tshift - F.make_interval(F.lit(0), F.lit(om))
            if ous:
                tshift = F.timestamp_micros(F.unix_micros(tshift) - F.lit(ous))
            mi = (F.year(tshift) - F.lit(1970)) * F.lit(12) + F.month(tshift) - F.lit(1)
            k_hi = F.floor(mi.cast("double") / F.lit(float(em))).cast("long")
            span_months = pm + -(-pus // _28D_US)     # ceil
            k_lo = k_hi - F.lit(int(-(-span_months // em) + 1))
        else:
            t_us = F.unix_micros(t)
            rel = t_us - F.lit(ous)
            k_hi = floordiv(rel, eus)
            max_period_us = pm * _31D_US + pus
            k_lo = k_hi - F.lit(int(-(-max_period_us // eus) + 1))
        exploded = sdf.withColumn(
            "__k__", F.explode(F.sequence(k_lo, k_hi)))
        s = win_start(F.col("__k__"))
        e = win_end(s)
        member = {
            "left": (s <= t) & (t < e),
            "right": (s < t) & (t <= e),
            "both": (s <= t) & (t <= e),
            "none": (s < t) & (t < e),
        }.get(self._closed)
        if member is None:
            raise ValueError(f"invalid closed: {self._closed!r}")
        filtered = (exploded.withColumn("__w__", s).filter(member)
                    .drop("__k__"))
        by_cols = [wrap_expr(b)._fn(sdf, None) if isinstance(b, Expr)
                   else F.col(b) for b in self._by]
        if hooked:
            filtered, aggs = self._dyn_bind(
                filtered, exprs, named, [F.col("__w__"), *by_cols])
        extra_aggs = [F.min(F.col(self._index)).alias("__dp__")] \
            if self._label == "datapoint" else []
        grouped = filtered.groupBy(F.col("__w__"), *by_cols).agg(
            *aggs, *extra_aggs)
        if self._label == "datapoint":
            label_col = F.col("__dp__").alias(self._index)
        elif self._label == "right":
            label_col = win_end(F.col("__w__")).alias(self._index)
        else:
            label_col = F.col("__w__").alias(self._index)
        extra = []
        if self._include_boundaries:
            extra = [F.col("__w__").alias("_lower_boundary"),
                     win_end(F.col("__w__")).alias("_upper_boundary")]
        return self._wrap_out(self._dyn_emit(
            grouped, "__w__", len(by_cols), extra, label_col))

    def _agg_datapoint_calendar(self, every, period, exprs, named):
        """start_by='datapoint' with calendar/mixed durations (round-5;
        lazy_frame.rb:1416-1458 allows every combination).  Per-group min-ts
        anchors the grid; window k starts at anchor + k*every with exact
        month arithmetic (make_interval), so no closed-form row->k mapping
        exists — k is BRACKETED by the 28/31-day month-length bounds,
        enumerated (a small explode), and resolved by ONE exact
        closed-interval membership test.  Same single hash-agg shuffle on
        (start, by) as every other dynamic path; the anchor agg is a
        broadcast-joined pre-pass, exactly like the fixed-duration
        datapoint path."""
        from .frame import LazyFrame

        em, eus = every.months, int(every.microseconds)
        pm, pus = period.months, int(period.microseconds)
        _28D_US = 28 * 86400 * 1_000_000
        _31D_US = 31 * 86400 * 1_000_000
        sdf, aggs, hooked = self._dyn_pre(exprs, named)
        by_cols = [wrap_expr(b)._fn(sdf, None) if isinstance(b, Expr)
                   else F.col(b) for b in self._by]
        by_names = [f"__sbk{i}__" for i in range(len(by_cols))]
        base = sdf.select("*", *[c.alias(n) for c, n in zip(by_cols, by_names)])
        t = F.col(self._index).cast("timestamp")
        t_us = F.unix_micros(t)
        anchors = (base.groupBy(*by_names)
                   .agg(F.min(t_us).alias("__sb_min__")))
        if by_names:
            joined = base.join(F.broadcast(anchors.withColumnsRenamed(
                {n: n + "r" for n in by_names})),
                on=[base[n].eqNullSafe(F.col(n + "r")) for n in by_names])
        else:
            joined = base.crossJoin(F.broadcast(anchors))

        def floordiv(a, b):
            return ((a - F.pmod(a, F.lit(b))) / F.lit(b)).cast("long")

        rel = t_us - F.col("__sb_min__")   # >= 0: anchor is the group min
        step_lo = em * _28D_US + eus
        step_hi = em * _31D_US + eus
        span_max = pm * _31D_US + pus
        k_hi = F.greatest(floordiv(rel, step_lo),
                          floordiv(rel, step_hi)) + F.lit(1)
        # forward-only grid (lazy_frame.rb:1448): no window starts before
        # the group's first datapoint
        k_lo = F.greatest(
            F.least(floordiv(rel - F.lit(span_max), step_lo),
                    floordiv(rel - F.lit(span_max), step_hi)) - F.lit(1),
            F.lit(0))
        exploded = joined.withColumn(
            "__k__", F.explode(F.sequence(k_lo, k_hi)))
        s = F.timestamp_micros(F.col("__sb_min__"))
        if em:
            s = s + F.make_interval(F.lit(0), F.col("__k__") * F.lit(em))
        if eus:
            s = F.timestamp_micros(
                F.unix_micros(s) + F.col("__k__") * F.lit(eus))

        def win_end(start):
            e = start
            if pm:
                e = e + F.make_interval(F.lit(0), F.lit(pm))
            if pus:
                e = F.timestamp_micros(F.unix_micros(e) + F.lit(pus))
            return e

        e = win_end(s)
        member = {
            "left": (s <= t) & (t < e),
            "right": (s < t) & (t <= e),
            "both": (s <= t) & (t <= e),
            "none": (s < t) & (t < e),
        }.get(self._closed)
        if member is None:
            raise ValueError(f"invalid closed: {self._closed!r}")
        filtered = exploded.withColumn("__s__", s).filter(member)
        if hooked:
            filtered, aggs = self._dyn_bind(
                filtered, exprs, named,
                [F.col("__s__"), *[F.col(n) for n in by_names]])
        grouped = (filtered
                   .groupBy(F.col("__s__"), *[F.col(n) for n in by_names])
                   .agg(*aggs,
                        *([F.min(F.col(self._index)).alias("__dp__")]
                          if self._label == "datapoint" else [])))
        if self._label == "datapoint":
            label_col = F.col("__dp__").alias(self._index)
        elif self._label == "right":
            label_col = win_end(F.col("__s__")).alias(self._index)
        else:
            label_col = F.col("__s__").alias(self._index)
        extra = []
        if self._include_boundaries:
            extra = [F.col("__s__").alias("_lower_boundary"),
                     win_end(F.col("__s__")).alias("_upper_boundary")]
        renames = [F.col(n).alias(str(b)) if isinstance(b, str) else F.col(n)
                   for n, b in zip(by_names, self._by)]
        return self._wrap_out(self._dyn_emit(
            grouped, "__s__", len(by_names), extra, label_col,
            renames=renames))


class RollingGroupBy(_TemporalGroupByMixin):
    """rolling / group_by_rolling (lazy_frame.rb:1161): per-row look-back
    window → range-frame window functions (no extra shuffle beyond the
    partitionBy on ``by``)."""

    def __init__(self, lf, index_column, period, offset=None, closed="right", by=None):
        self._lf = lf
        self._index = index_column
        self._period = period
        self._closed = closed
        self._by = [by] if isinstance(by, (str, Expr)) else (by or [])

    def agg(self, *exprs, **named):
        from pyspark.sql import Window

        from .functions.duration import parse_duration
        from .frame import LazyFrame

        exprs, named = _exclude_keys_from_multi(
            exprs, named,
            [self._index] + [b if isinstance(b, str) else b._name
                             for b in self._by])
        dur = parse_duration(self._period)
        if _has_agg_prestages(exprs, named):
            # round-11: spearman-corr batches go to the sliding Arrow
            # kernel first ("spear2" pair kind — block-vectorized
            # per-window ranks, no membership materialization, no pair
            # expansion); the density warning stays (the per-window work
            # is still O(w log w), just C-speed and shuffle-free)
            self._warn_dense_per_window(dur)
            all_pre = [wrap_expr(e) for e in exprs] + [
                wrap_expr(e).alias(k) for k, e in named.items()]

            def _has_spear(entries):
                return any(isinstance(k, tuple) and k[0] == "spear2"
                           for k, _c in entries)

            plan_s = self._sliding_plan(all_pre)
            if plan_s is not None and _has_spear(plan_s):
                try:
                    return self._agg_sliding_kernel(dur, all_pre, plan_s)
                except Exception:
                    pass
            elif plan_s is None:
                wleaves = self._sliding_wrapper_plan(all_pre)
                if wleaves is not None and _has_spear(
                        [lk for _n, lk in wleaves]):
                    try:
                        return self._agg_sliding_kernel_wrapped(
                            dur, all_pre, wleaves)
                    except Exception:
                        pass
            # per-window pre-stage aggs (windowed inners, cumulative_eval,
            # spearman shapes the kernel classifiers cannot prove) need
            # materialized window membership: the collect-window path
            # builds it task-locally (one shuffle, no pair expansion); the
            # band join remains the fallback for exprs the eval-array
            # binder cannot reach (cumulative_eval's probe machinery)
            try:
                return self._agg_collect_win(dur, exprs, named)
            except Exception:
                return self._agg_band(dur, exprs, named)
        all_pre = [wrap_expr(e) for e in exprs] + [
            wrap_expr(e).alias(k) for k, e in named.items()]
        plan_k = self._sliding_plan(all_pre)
        if plan_k is not None and any(
                k in ("min", "max", "median") or isinstance(k, tuple)
                for k, _c in plan_k):
            # round-8/9: simple-agg batches containing min/max (sparse
            # argbest tables) or median/quantile (wavelet-tree range
            # order statistics, round-9) take the sliding Arrow kernel —
            # the JVM range frame re-evaluates every window (O(n·w), the
            # q143-class density wall), the calendar paths have no
            # min/max/median prefix form, and the collect-window path
            # materializes O(n·w) membership; the kernel is ≲linear for
            # all of them.  Batches of ONLY sum/mean/count/len keep the
            # cheaper prefix/range-frame forms.
            try:
                return self._agg_sliding_kernel(dur, all_pre, plan_k)
            except Exception:
                # unsupported dtype/index (ValueError) OR any plan-time
                # analysis failure → the pre-r8 validated routes.  Broad
                # on purpose (VERDICT r8): a routing change that pre-empts
                # green paths must never turn a fallback into a throw.
                pass
        elif plan_k is None:
            # round-9: post-transformed kernelable batches — elementwise
            # wrappers over kernelable leaves (median(x).round(2),
            # max(x)-min(x)) run the kernel once for the leaves, then bind
            # the wrappers over its output; previously any post transform
            # above a median/quantile forced the O(n·w) collect-window
            # membership walk (the q156 density pin: 80 s at sf1.0 where
            # the kernel answers the same windows in ~2.6 s)
            wleaves = self._sliding_wrapper_plan(all_pre)
            if wleaves is not None and any(
                    k in ("min", "max", "median") or isinstance(k, tuple)
                    for _n, (k, _c) in wleaves):
                try:
                    return self._agg_sliding_kernel_wrapped(
                        dur, all_pre, wleaves)
                except Exception:
                    pass
        if dur.is_calendar:
            return self._agg_calendar(dur, exprs, named)
        span_us = int(dur.total_seconds() * 1_000_000)
        sdf = self._lf._sdf
        by_cols = [F.col(b) for b in self._by]
        ts_us = F.unix_micros(F.col(self._index).cast("timestamp"))
        lo, hi = -span_us, 0
        if self._closed == "right":
            lo = -span_us + 1
        elif self._closed == "left":
            lo, hi = -span_us, -1
        elif self._closed == "none":
            lo, hi = -span_us + 1, -1
        work, own = sdf, None
        if not self._by:
            # UNGROUPED rolling: a keyless window funnels everything into
            # one task — partition by a TIME CHUNK instead, duplicating
            # rows near a chunk's upper edge into the next chunk so every
            # anchor's look-back frame is complete in-partition (round-6;
            # the same trick the collect-window path uses).  The range
            # frame is exact, so no element filtering is needed.
            span_ub = max(span_us, 1)
            chunk_w = span_ub * 8
            c0 = F.floor(ts_us / F.lit(chunk_w)).cast("long")
            near_hi = ts_us >= (c0 + 1) * F.lit(chunk_w) - F.lit(span_ub)
            work = (sdf
                    .withColumn("__rw_c0__", c0)
                    .withColumn("__rw_ch__", F.explode(
                        F.when(near_hi, F.array(c0, c0 + F.lit(1)))
                        .otherwise(F.array(c0)))))
            by_cols = [F.col("__rw_ch__")]
            own = F.col("__rw_ch__") == F.col("__rw_c0__")
        w = Window.partitionBy(*by_cols).orderBy(ts_us).rangeBetween(lo, hi)

        all_exprs = [wrap_expr(e) for e in exprs] + [
            wrap_expr(e).alias(k) for k, e in named.items()]
        # reducers Spark cannot window (median/mode/quantile buffers) go
        # straight to the collect-window path — the analysis-failure
        # fallback below still catches anything this pre-check misses,
        # but skipping the doomed attempt avoids the loud JVM error log
        # Spark 4 emits even for caught AnalysisExceptions (round-7)
        def _has_unwindowable(e, depth=0):
            if depth > 20 or not getattr(e, "_meta", None):
                return False
            op, children, _p = e._meta
            if op in ("median", "mode", "quantile"):
                return True
            return any(_has_unwindowable(c, depth + 1) for c in children
                       if c is not None)

        if any(_has_unwindowable(e) for e in all_exprs):
            try:
                return self._agg_collect_win(dur, exprs, named)
            except Exception:
                return self._agg_band(dur, exprs, named)
        cols = []
        # aggregates wrap THEMSELVES in the injected rolling window (post-
        # carrying aggs like sum's empty-group coalesce must window the
        # aggregate, not the post transform); exprs the context doesn't
        # reach raise at analysis → collect-window fallback handles any agg
        from .exprs import _next_gord_name

        bind_context.rolling_window = w
        try:
            # bind EVERY aggregate against the pre-loop frame and land each
            # in a unique temp column: an un-aliased agg keeps its source
            # column's name (polars semantics), and materializing that name
            # in-place would make later aggregates silently read the earlier
            # rolling result instead of the source column
            work0 = work
            pairs = []  # (temp col, user-facing name)
            for i, e in enumerate(all_exprs):
                if not e._is_agg:
                    raise ValueError(
                        "rolling().agg takes aggregate expressions")
                c = e._fn(work0, None)
                nm = e._name
                if not nm:
                    try:
                        nm = work0.select(c).columns[0]
                    except Exception:
                        nm = f"col_{i}"
                # materialize BEFORE the own-chunk filter: the duplicated
                # boundary rows must still be in the window's frame when
                # the aggregate evaluates
                tmp = _next_gord_name()
                work = work.withColumn(tmp, c)
                pairs.append((tmp, nm))
            keep = ([F.col(b) for b in self._by] + [F.col(self._index)]
                    + [F.col(t).alias(n) for t, n in pairs])
            out = work if own is None else work.filter(own)
            out = out.select(*keep)
            out.schema  # force analysis while the fallback is reachable
        except ValueError:
            raise
        except Exception:
            try:
                return self._agg_collect_win(dur, exprs, named)
            except Exception:
                return self._agg_band(dur, exprs, named)
        finally:
            bind_context.rolling_window = None
        return self._wrap_out(LazyFrame(out))

    def _warn_dense_per_window(self, dur):
        """Loud runtime warning on EXTREME-density per-window aggregates
        (round-10; VERDICT r9 #6).  Rolling spearman is the one remaining
        O(n·w) family — per-window pair ranks have no decomposable form
        (the reference's engine evaluates per window too,
        rolling.rs parity) — so when the estimated total collected
        elements ``rows × occupancy`` crosses a threshold, warn with the
        documented alternatives instead of silently grinding.  The
        estimate is one narrow 3-column aggregate over the index column
        (count/min/max); occupancy ignores ``by``-key partitioning, a
        deliberate overestimate bounded by the key count.  It is a
        ``RuntimeWarning``, so ``warnings.filterwarnings("ignore",
        category=RuntimeWarning)`` silences it."""
        import warnings

        try:
            sdf = self._lf._sdf
            ts_us = F.unix_micros(F.col(self._index).cast("timestamp"))
            n, lo, hi = sdf.agg(
                F.count(F.col(self._index)), F.min(ts_us),
                F.max(ts_us)).first()
            if not n or lo is None or hi is None or hi <= lo:
                return
            span_ub = max(
                dur.months * 31 * 86400 * 1_000_000
                + int(dur.microseconds), 1)
            occ = n * span_ub / (hi - lo)
            if n * occ > 1e8:
                warnings.warn(
                    f"rolling().agg with a per-window aggregate (e.g. "
                    f"spearman corr) over ~{n:,} rows at ~{occ:,.0f} rows "
                    f"per window: per-window rank evaluation is O(rows × "
                    f"occupancy) ≈ {n * occ:,.0f} collected elements and "
                    f"has no decomposable form.  Consider algebraic "
                    f"aggregates (pearson corr/cov/std ride the ≲linear "
                    f"sliding kernel), a narrower period, or coarser "
                    f"time bucketing.",
                    RuntimeWarning, stacklevel=3)
        except Exception:
            pass  # a failed estimate must never block the aggregate

    def _agg_collect_win(self, dur, exprs, named):
        """Rolling agg via a COLLECTED range-frame window — the scale-safe
        replacement for the band join (round-6; SCALE.md pair-expansion
        hazard).

        One window ``partitionBy(by…, time-chunk).orderBy(ts).rangeBetween(
        -upper_bound, 0)`` collects each anchor's window membership as a
        struct array TASK-LOCALLY: shuffle volume is O(n) rows (each row
        moves once, plus ≤1/8 boundary duplication), not the band join's
        anchors × window-rows pair expansion.  Calendar periods use a
        31-days-per-month over-approximate frame; the exact interval
        predicate then filters the collected elements per anchor.  Rows
        near a chunk's upper boundary duplicate into the next chunk so
        every anchor's look-back is complete within its own partition —
        task size stays bounded under key skew AND with no ``by`` keys at
        all (the old paths degraded to a single global window there).

        Aggregates are bound against the per-anchor array through the
        list.eval machinery (``_EVAL_ARRAY_STACK`` + struct-field column
        resolution): plain aggregates reduce via ``_arr_reduce``, spearman/
        pearson corr via the array sum-formula, order-dependent inners
        (diff/shift/rank compositions) via their ordered-array routes.
        Per-anchor compute is O(w)–O(w²) in the window occupancy w —
        bounded by window size, task-parallel, zero extra exchanges.
        Parity: ``lazy_frame.rb:1161-1181`` (rolling accepts any agg expr).
        """
        from pyspark.sql import Window

        from .exprs import (_EVAL_ARRAY_STACK, _EVAL_MATERIALIZE_STACK,
                            _EVAL_STRUCT_COLS, _next_gord_name)
        from .frame import LazyFrame

        all_exprs = [wrap_expr(e) for e in exprs] + [
            wrap_expr(e).alias(k) for k, e in named.items()]
        for e in all_exprs:
            if not e._is_agg:
                raise ValueError("rolling().agg takes aggregate expressions")
            if e._multi_fn is not None or e._frame_fn is not None:
                raise NotImplementedError("multi/frame expr in collect-win")

        # source columns the exprs actually read (struct stays narrow);
        # untracked meta nodes → carry every visible column
        try:
            needed: set[str] = set()
            for e in all_exprs:
                needed.update(e.meta.root_names())
        except NotImplementedError:
            from .exprs import _visible_cols

            needed = set(_visible_cols(self._lf._sdf))
        # the index column STAYS in the struct when an aggregate reads it:
        # its per-element value differs from the anchor's scalar (__t__ only
        # carries the µs projection used by the interval filter); by-keys
        # are constant within a window partition, so the outer column is
        # the correct resolution for those
        needed -= {b for b in self._by if isinstance(b, str)}
        if not needed:  # pl.len()-only aggs still need a field to collect
            needed = {self._index}

        pm, pus = dur.months, int(dur.microseconds)
        lf = self._lf._ensure_row_index()
        sdf = lf._sdf
        t = F.col(self._index).cast("timestamp")
        ts_us = F.unix_micros(t)
        # upper bound on the look-back span: 31 days covers any month
        span_ub = max(pm * 31 * 86400 * 1_000_000 + pus, 1)
        # exact per-anchor lower bound (true calendar arithmetic)
        lo = t
        if pm:
            lo = lo - F.make_interval(F.lit(0), F.lit(pm))
        lo_us = F.unix_micros(lo) - F.lit(pus)
        chunk_w = span_ub * 8
        c0 = F.floor(ts_us / F.lit(chunk_w)).cast("long")
        near_hi = ts_us >= (c0 + 1) * F.lit(chunk_w) - F.lit(span_ub)
        work = (sdf
                .withColumn("__rw_ts__", ts_us)
                .withColumn("__rw_lo__", lo_us)
                .withColumn("__rw_c0__", c0)
                .withColumn("__rw_ch__", F.explode(
                    F.when(near_hi, F.array(c0, c0 + F.lit(1)))
                    .otherwise(F.array(c0)))))
        # EXPLICIT task count for the window stage (round-7): AQE
        # coalesces the exchange by shuffle BYTES, but the downstream
        # per-anchor work (membership filter, rank kernel) is CPU-bound —
        # measured 3 tasks on 32 cores, 2.4 s → 1.1 s at the configured
        # width.  An explicit repartition on the window's own keys is
        # exempt from AQE coalescing and satisfies its clustering, so the
        # window adds only the sort.
        try:
            n_tasks = int(sdf.sparkSession.conf.get(
                "spark.sql.shuffle.partitions", "200"))
        except Exception:
            n_tasks = 200
        work = work.repartition(n_tasks, *[F.col(b) for b in self._by],
                                F.col("__rw_ch__"))
        # FIXED durations (round-7): the exact closed-mode bounds go into
        # the range frame ITSELF (µs resolution, like the direct path) —
        # the per-element interval filter becomes the identity and is
        # SKIPPED: one whole interpreted pass over the n·w collected
        # elements gone, and no second membership array allocated per
        # anchor (q143 at sf1.0 sat at the watchdog edge on exactly this).
        # Calendar periods keep the over-approximate frame + exact filter.
        fixed = pm == 0
        if fixed:
            f_lo, f_hi = -span_ub, 0
            if self._closed == "right":
                f_lo = -span_ub + 1
            elif self._closed == "left":
                f_lo, f_hi = -span_ub, -1
            elif self._closed == "none":
                f_lo, f_hi = -span_ub + 1, -1
            elif self._closed != "both":
                raise ValueError(f"invalid closed: {self._closed!r}")
        else:
            f_lo, f_hi = -span_ub, 0
        w = (Window.partitionBy(*[F.col(b) for b in self._by],
                                F.col("__rw_ch__"))
             .orderBy(F.col("__rw_ts__"))
             .rangeBetween(f_lo, f_hi))
        # order-insensitive aggs (corr/sum/min/len…) skip the per-anchor
        # identity sort — the comparator lambda is interpreted per compare
        # and was ~30% of q143's wall-clock; the frame is already ts-ASC,
        # only equal-ts tie order needs the hidden index
        needs_sort = any(e._needs_order or e._agg_list_fn is not None
                         for e in all_exprs)
        elem = F.struct(
            *([F.col(ROW_IDX).alias("__i__")] if needs_sort else []),
            F.col("__rw_ts__").alias("__t__"),
            *[F.col(c) for c in sorted(needed)])
        collected = F.collect_list(elem).over(w)
        ats, alo = F.col("__rw_ts__"), F.col("__rw_lo__")
        pred = {
            "right": lambda et: (et > alo) & (et <= ats),
            "left": lambda et: (et >= alo) & (et < ats),
            "both": lambda et: (et >= alo) & (et <= ats),
            "none": lambda et: (et > alo) & (et < ats),
        }.get(self._closed)
        if pred is None:
            raise ValueError(f"invalid closed: {self._closed!r}")
        if fixed:
            win = collected
            if self._closed in ("left", "none"):
                # the exact frame EXCLUDES the anchor: an empty frame's
                # collect_list is NULL, but polars sees an empty window
                # (len 0, null aggregates) — coalesce to a typed empty
                # array (slice of a one-element array keeps the struct
                # type without naming it)
                win = F.coalesce(collected, F.slice(F.array(elem), 1, 0))
        else:
            win = F.filter(collected, lambda s: pred(s["__t__"]))
        if needs_sort:
            win = F.array_sort(
                win,
                lambda l, r: F.when(l["__i__"] < r["__i__"], -1)
                .when(l["__i__"] > r["__i__"], 1).otherwise(0).cast("int"))
        work = (work.withColumn("__rw_win__", win)
                .filter(F.col("__rw_ch__") == F.col("__rw_c0__")))

        def materialize(c):
            # pin multi-referenced intermediate arrays as attributes —
            # interpreted HOFs have no CSE, so inline subtrees re-evaluate
            # multiplicatively (spearman's ranks/pairs)
            nonlocal work
            tmp = _next_gord_name()
            work = work.withColumn(tmp, c)
            return F.col(tmp)

        _EVAL_ARRAY_STACK.append(F.col("__rw_win__"))
        _EVAL_STRUCT_COLS.append(needed)
        _EVAL_MATERIALIZE_STACK.append(materialize)
        try:
            # unique temp columns per aggregate (same collision hazard as
            # the direct path: an un-aliased agg keeps its source column's
            # name, which must not shadow a by/index column that a later
            # binding or the final keep-list still reads)
            pairs = []  # (temp col, user-facing name)
            for i, e in enumerate(all_exprs):
                c = e._fn(work, None)
                nm = e._name
                if not nm:  # Spark's auto-derived name (analysis only)
                    try:
                        nm = work.select(c).columns[0]
                    except Exception:
                        nm = f"col_{i}"
                # evaluate BEFORE the order-restoring range sort so the
                # fat helper arrays prune away instead of riding the
                # exchange (they dominated the shuffle bytes otherwise)
                tmp = _next_gord_name()
                work = work.withColumn(tmp, c)
                pairs.append((tmp, nm))
        finally:
            _EVAL_ARRAY_STACK.pop()
            _EVAL_STRUCT_COLS.pop()
            _EVAL_MATERIALIZE_STACK.pop()
        keep = ([F.col(b) for b in self._by] + [F.col(self._index)]
                + [F.col(t).alias(n) for t, n in pairs])
        # DEFERRED anchor-order restore (round-7): an eager orderBy here
        # made the range exchange SAMPLE the whole collect-window subtree
        # — executing the expensive plan twice (q143 ~2×).  ROW_IDX stays
        # on the raw frame; polars exports restore via _order_dirty,
        # driver/bench handoffs legitimately skip it.
        out = work.select(F.col(ROW_IDX), *keep)
        lf = LazyFrame(out)
        lf._order_dirty = True
        return self._wrap_out(lf)

    def _agg_band(self, dur, exprs, named):
        """Rolling agg via an explicit window-membership band join — the
        path for aggregates carrying an ``_agg_pre_fn`` hook (spearman's
        rank pre-stage, cumulative_eval's prefix reduction), whose
        pre-stage must bind per look-back window (round-5; overlapping
        range frames cannot host a rank window).

        Each anchor row equi-joins its window's member rows on a coarse
        time bucket (bucket width = the period for fixed durations, the
        calendar month for month-bearing ones; a member spans ≤2 / ≤months+2
        buckets) plus the exact interval predicate.  Contributor rows keep
        their own hidden index, so order-sensitive pre-stages see true row
        order; anchors re-key by ``__ra_id__``.  One hash agg per anchor —
        pair count is anchors × window rows, the same documented density
        hazard as the calendar band join."""
        from .frame import LazyFrame

        pm, pus = dur.months, int(dur.microseconds)
        _28D_US = 28 * 86400 * 1_000_000
        lf = self._lf._ensure_row_index()
        sdf = lf._sdf
        t = F.col(self._index).cast("timestamp")
        t_us = F.unix_micros(t)
        if pm:
            n_back = pm + -(-pus // _28D_US) + 1
            bucket = (F.year(t) - F.lit(1970)) * F.lit(12) + F.month(t) - F.lit(1)
        else:
            span = max(pus, 1)
            n_back = 1
            bucket = F.floor(t_us / F.lit(span)).cast("long")
        kn = [f"__ra_k{i}__" for i in range(len(self._by))]
        anchors = sdf.select(
            F.col(ROW_IDX).alias("__ra_id__"),
            t.alias("__ra_ts__"),
            bucket.alias("__ra_b__"),
            *[F.col(b).alias(n) for b, n in zip(self._by, kn)])
        contrib = (sdf.withColumn("__rc_r__", F.explode(
                       F.sequence(F.lit(0), F.lit(int(n_back)))))
                   .withColumn("__rc_b__", bucket + F.col("__rc_r__"))
                   .drop("__rc_r__"))
        ats = F.col("__ra_ts__")
        lo = ats
        if pm:
            lo = lo - F.make_interval(F.lit(0), F.lit(pm))
        if pus:
            lo = F.timestamp_micros(F.unix_micros(lo) - F.lit(pus))
        rng = {
            "right": (t > lo) & (t <= ats),
            "left": (t >= lo) & (t < ats),
            "both": (t >= lo) & (t <= ats),
            "none": (t > lo) & (t < ats),
        }.get(self._closed)
        if rng is None:
            raise ValueError(f"invalid closed: {self._closed!r}")
        cond = F.col("__ra_b__") == F.col("__rc_b__")
        for b, n in zip(self._by, kn):
            cond = cond & F.col(n).eqNullSafe(contrib[b])
        joined = anchors.join(contrib, cond & rng, "left")
        joined, exprs2, named2 = _apply_agg_prestages_cols(
            joined, exprs, named, [F.col("__ra_id__")])
        aggs, _ = _agg_columns(joined, exprs2, named2)
        grouped = joined.groupBy(
            F.col("__ra_id__"), F.col("__ra_ts__"),
            *[F.col(n) for n in kn]).agg(*aggs)
        keep = [c for c in grouped.columns
                if c not in ("__ra_id__", "__ra_ts__") and c not in kn]
        out = grouped.orderBy("__ra_id__").select(
            *[F.col(n).alias(b) for b, n in zip(self._by, kn)],
            F.col("__ra_ts__").alias(self._index),
            *keep)
        return self._wrap_out(LazyFrame(out))

    @staticmethod
    def _sliding_plan(all_exprs):
        """Classify rolling aggregates for the sliding Arrow kernel
        (operators/rolling_kernel.py): every aggregate must be
        min/max/sum/mean/count/len/median/quantile over a plain row-level
        expression.  Returns ``[(kind, value_expr|None), ...]`` or None;
        ``kind`` is the label string, or ``("quantile", q, interpolation)``
        (the q/interp parameters ride an ``_rolling_kernel_spec``
        breadcrumb — quantile's meta label is its closure name)."""
        plan = []
        for e in all_exprs:
            while e._meta and e._meta[0] == "alias" and e._meta[1]:
                e = e._meta[1][0]
            lk = RollingGroupBy._leaf_kind(e)
            if lk is None:
                return None
            plan.append(lk)
        return plan

    @staticmethod
    def _leaf_kind(e):
        """``(kind, child|None)`` when ``e`` is a single kernelable
        aggregate node — min/max/sum/mean/count/len/median/quantile or the
        central-moment family (std/var by ddof, biased skew/kurtosis) —
        over a plain row-level child; else None."""
        label = e._meta[0] if e._meta else None
        spec = getattr(e, "_rolling_kernel_spec", None)
        if label == "len":
            return ("len", None)
        if label == "len_" and e._meta[1] \
                and not getattr(e._meta[1][0], "_is_agg", False):
            # Expr.len() counts ALL window rows incl. nulls; any row-level
            # child keeps the row count
            return ("len", None)
        if label in ("corr", "cov") and e._meta[1] and len(e._meta[1]) == 2:
            # PAIR kinds (round-9): pearson corr / cov over two plain
            # children — prefix sums of a, b, ab with pair-null masking
            # (F.corr/covar_* skip pairs with a null on either side).
            # Spearman corr (round-11) is the third pair kind: it carries an
            # _agg_pre_fn (rank pre-stage) in every other context, but the
            # kernel hosts its per-window average ranks directly via
            # block-vectorized argsort (rolling_kernel.py "spear2") — the
            # O(n·w) collect-window/band walk is now the fallback, not the
            # primary route.
            is_spear = getattr(e, "_agg_pre_fn", None) is not None
            if is_spear and label == "cov":
                return None
            ca, cb = e._meta[1]
            for c in (ca, cb):
                if getattr(c, "_is_agg", False) or \
                        getattr(c, "_needs_order", False):
                    return None
            if label == "corr":
                return (("spear2",) if is_spear else ("corr2",), (ca, cb))
            return (("cov2", 1 if e._meta[2] == 1 else 0), (ca, cb))
        if label in ("sum", "mean", "count", "min", "max", "median"):
            kind = label
        elif label in _MOMENT_KINDS:
            # std/var (ddof 1=samp / 0=pop) and biased skew/kurtosis — the
            # kernel mirrors _arr_reduce's float64 arithmetic over
            # chunk-shifted prefix moments (round-9)
            kind = _MOMENT_KINDS[label]
        elif spec is not None:
            kind = spec
        else:
            return None
        if not e._meta or not e._meta[1]:
            return None
        child = e._meta[1][0]
        if getattr(child, "_is_agg", False) or \
                getattr(child, "_needs_order", False):
            return None
        return (kind, child)

    def _sliding_wrapper_plan(self, all_exprs):
        """Round-9: classify POST-TRANSFORMED kernelable batches — each
        aggregate expr is an elementwise composition (round/cast/
        arithmetic/comparison …) of kernelable aggregate leaves and
        literals (``median(x).round(2)``, ``max(x) - min(x)``).  Returns
        the leaf list ``[(node, (kind, child)), ...]`` or None.

        Safety over reach: any node that cannot be PROVEN to be either a
        kernelable leaf, a literal, or a pure elementwise wrapper whose
        agg-ness is inherited from its children sends the whole batch to
        the validated collect-window/direct routes (and the caller's broad
        fallback still catches anything that binds with an error)."""
        leaves = []

        def walk(e, depth=0):
            if depth > 40 or not isinstance(e, Expr):
                return False
            if getattr(e, "_is_agg", False):
                lk = self._leaf_kind(e)
                if lk is not None:
                    leaves.append((e, lk))
                    return True
            m = getattr(e, "_meta", None)
            if m is None:
                return False
            op, children, _p = m
            if op == "lit":
                return True
            kids = [c for c in children if isinstance(c, Expr)]
            if not kids:
                return False
            if not e._is_agg:
                # a non-agg, non-literal subtree would need per-window
                # list semantics the kernel does not provide
                return False
            if not any(getattr(c, "_is_agg", False) for c in kids):
                # an aggregate op we did not recognize as a kernel leaf
                # (n_unique, corr, product, first …) — not a wrapper
                return False
            if op in _AGG_OP_LABELS:
                # a known aggregate op OVER another aggregate (agg-of-agg:
                # median().sum()) — not an elementwise wrapper
                return False
            if (e._needs_order or e._scrambles_order
                    or e._agg_list_fn is not None
                    or e._frame_fn is not None or e._multi_fn is not None):
                return False
            # NB: a propagated _agg_pre_fn on the WRAPPER is fine — the
            # round-10 composition lifts copy the hook up from the leaf
            # (fill_nan(corr_spearman) carries it), but the kernel-wrapped
            # route never invokes it: the leaf either classifies on its own
            # (spear2 hosts the rank pre-stage in-kernel) or walk() fails at
            # the leaf (cumulative_eval etc.) and the prestage routes run.
            return all(walk(c, depth + 1) for c in kids)

        wrapped = False
        for e in all_exprs:
            base = e
            while base._meta and base._meta[0] == "alias" and base._meta[1]:
                base = base._meta[1][0]
            if self._leaf_kind(base) is None:
                wrapped = True
            if not walk(e):
                return None
        if not wrapped or not leaves:
            return None  # bare batches already classify via _sliding_plan
        return leaves

    def _agg_sliding_kernel(self, dur, all_exprs, plan):
        """Rolling simple/moment/order-statistic aggregates via the sliding
        Arrow kernel — the ≲linear replacement for both the JVM range-frame
        path (whose SlidingWindowFunctionFrame re-evaluates every frame:
        O(n·w)) and the collect-window path (O(n·w) membership arrays).
        See operators/rolling_kernel.py for the plan shape.  Raises
        ValueError for unsupported index/value dtypes (callers fall back).
        """
        from .frame import LazyFrame

        out = self._sliding_kernel_sdf(dur, all_exprs, plan)
        res = LazyFrame(out)
        res._order_dirty = True
        return self._wrap_out(res)

    def _agg_sliding_kernel_wrapped(self, dur, all_exprs, leaves):
        """Round-9: POST-TRANSFORMED kernelable batches (median(x).round(2),
        max(x) - min(x)) — run the kernel once over the deduplicated
        aggregate LEAVES, then bind each full expression over the kernel
        output with every leaf's ``_fn`` temporarily swapped for a
        reference to its computed column (wrapper closures late-bind
        ``child._fn``, so the elementwise post-transform applies to the
        per-anchor aggregate values — the same semantics the direct path
        gets by self-wrapping aggregates in the injected WindowSpec while
        post transforms stay outside)."""
        from .frame import LazyFrame

        uniq = {}
        for node, lk in leaves:
            uniq.setdefault(id(node), (node, lk))
        items = list(uniq.values())
        pseudo = [n.alias(f"__rkw{j}__") for j, (n, _lk) in
                  enumerate(items)]
        ksdf = self._sliding_kernel_sdf(
            dur, pseudo, [lk for _n, lk in items])
        saved = []
        try:
            for j, (n, _lk) in enumerate(items):
                saved.append((n, n._fn))
                n._fn = (lambda df, part, _t=f"__rkw{j}__": F.col(_t))
            outs = []
            for i, e in enumerate(all_exprs):
                c = e._fn(ksdf, None)
                nm = e._name
                if not nm:
                    try:
                        nm = ksdf.select(c).columns[0]
                    except Exception:
                        nm = f"col_{i}"
                outs.append(c.alias(nm))
            keep = ([F.col(ROW_IDX)] + [F.col(b) for b in self._by]
                    + [F.col(self._index)] + outs)
            out = ksdf.select(*keep)
            out.schema  # force analysis while the fallback is reachable
        finally:
            for n, fn in saved:
                n._fn = fn
        res = LazyFrame(out)
        res._order_dirty = True
        return self._wrap_out(res)

    def _sliding_kernel_sdf(self, dur, all_exprs, plan):
        """Build the kernel's Spark plan; returns the output DataFrame
        carrying the hidden ROW_IDX, the by-keys, the index column, and one
        result column per ``plan`` entry (named from ``all_exprs``)."""
        from pyspark.sql import types as T

        from .frame import LazyFrame
        from .operators.rolling_kernel import make_sliding_kernel

        if any(not isinstance(b, str) for b in self._by):
            raise ValueError("sliding kernel needs string by-keys")
        lf0 = self._lf._ensure_row_index()
        sdf = lf0._sdf
        idx_t = sdf.schema[self._index].dataType
        if not isinstance(idx_t, (T.TimestampType, T.TimestampNTZType,
                                  T.DateType)):
            raise ValueError("sliding kernel needs a temporal index")
        t = F.col(self._index).cast("timestamp")
        ts_us = F.unix_micros(t)
        # exact integer window bounds (lo_excl, hi_incl] in µs — calendar
        # month arithmetic stays in Catalyst, same exprs as the prefix path
        if dur.is_calendar:
            pm, pus = dur.months, int(dur.microseconds)
            lo_base = F.unix_micros(
                t - F.make_interval(F.lit(0), F.lit(pm))) - F.lit(pus)
            span_ub = pm * 31 * 86400 * 1_000_000 + pus
        else:
            span_us = int(dur.total_seconds() * 1_000_000)
            lo_base = ts_us - F.lit(span_us)
            span_ub = span_us
        hi = ts_us if self._closed in ("right", "both") else ts_us - F.lit(1)
        lo = lo_base if self._closed in ("right", "none") \
            else lo_base - F.lit(1)

        # value columns: bind each child once; sums over float accumulate
        # in double like Spark's sum(float) -> double
        val_cols, kplan, out_types, out_stypes, names = {}, [], [], [], []
        fields = {f.name: f.dataType for f in sdf.schema.fields}
        num_t = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                 T.FloatType, T.DoubleType)
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_type

        for i, ((kind, child), e) in enumerate(zip(plan, all_exprs)):
            nm = e._name
            if kind == "len":
                kplan.append(("len", None, False))
                out_types.append(pa.int64())
                out_stypes.append(T.LongType())
                names.append(nm or "len")
                continue
            if isinstance(kind, tuple) and kind[0] in ("corr2", "cov2",
                                                       "spear2"):
                # pair kinds bind TWO value columns
                pair_vc, pair_f = [], []
                for side, ce in zip("ab", child):
                    cc = ce._fn(sdf, None)
                    dt = sdf.select(cc).schema[0].dataType
                    if not isinstance(dt, num_t):
                        raise ValueError(
                            f"sliding kernel: unsupported dtype {dt}")
                    vc = f"__rkv{i}{side}__"
                    val_cols[vc] = cc
                    pair_vc.append(vc)
                    pair_f.append(isinstance(dt, (T.FloatType,
                                                  T.DoubleType)))
                kplan.append((kind, tuple(pair_vc), tuple(pair_f)))
                out_types.append(pa.float64())
                out_stypes.append(T.DoubleType())
                names.append(nm or ("cov" if kind[0] == "cov2" else "corr"))
                continue
            c = child._fn(sdf, None)
            probe = sdf.select(c)
            dt = probe.schema[0].dataType
            if not nm:
                nm = probe.columns[0]
            ok_minmax = isinstance(dt, num_t + (T.TimestampType,
                                                T.TimestampNTZType,
                                                T.DateType))
            is_q = isinstance(kind, tuple) and kind[0] == "quantile"
            is_mom = isinstance(kind, tuple) and kind[0] in (
                "std", "var", "skew", "kurt")
            if (kind in ("min", "max") and not ok_minmax) or \
                    ((kind in ("sum", "mean", "median") or is_q or is_mom)
                     and not isinstance(dt, num_t)):
                raise ValueError(f"sliding kernel: unsupported dtype {dt}")
            vc = f"__rkv{i}__"
            val_cols[vc] = c
            is_float = isinstance(dt, (T.FloatType, T.DoubleType))
            kplan.append((kind, vc, is_float))
            if kind == "count":
                out_types.append(pa.int64())
                out_stypes.append(T.LongType())
            elif kind in ("mean", "median") or is_mom or is_q:
                # quantile is f64 for EVERY interpolation (polars returns
                # Float64 even for the element-gather modes)
                out_types.append(pa.float64())
                out_stypes.append(T.DoubleType())
            elif kind == "sum":
                out_types.append(pa.float64() if is_float else pa.int64())
                out_stypes.append(T.DoubleType() if is_float
                                  else T.LongType())
            else:
                # min/max and quantile lower/higher/nearest return the
                # element dtype (exact Arrow gather, no float round trip)
                out_types.append(to_arrow_type(dt))
                out_stypes.append(dt)
            names.append(nm)

        kn = list(self._by)
        chunk_w = max(span_ub, 1) * 8
        c0 = F.floor(ts_us / F.lit(chunk_w)).cast("long")
        work = sdf.select(
            F.col(ROW_IDX), *kn, ts_us.alias("__rk_t__"),
            lo.alias("__rk_lo__"), hi.alias("__rk_hi__"),
            c0.alias("__rk_c0__"),
            *[c.alias(n) for n, c in val_cols.items()])
        # near_hi over the PROJECTED columns — the select above dropped the
        # original index column, so the pre-projection ts_us/c0 expressions
        # are unresolvable here (round-9 fix: r8 shipped exactly that
        # AnalysisException on every kernel invocation)
        near_hi = (F.col("__rk_t__") >=
                   (F.col("__rk_c0__") + F.lit(1)) * F.lit(chunk_w)
                   - F.lit(span_ub))
        work = (work
                .withColumn("__rk_ch__", F.explode(
                    F.when(near_hi, F.array(F.col("__rk_c0__"),
                                            F.col("__rk_c0__") + F.lit(1)))
                    .otherwise(F.array(F.col("__rk_c0__")))))
                .withColumn("__rk_own__",
                            F.col("__rk_ch__") == F.col("__rk_c0__")))
        # ROW_IDX rides through the kernel as an anchor-gathered
        # pass-through (one int64 per row) so exports restore polars'
        # anchor order via the same deferred _order_dirty contract the
        # collect-window path uses (group_by.py _agg_collect_win)
        pass_names = [ROW_IDX] + kn
        out_names = pass_names + ["__rk_t__"] + names
        pa_types = ([pa.int64()]
                    + [to_arrow_type(fields[k]) for k in kn]
                    + [pa.int64()] + out_types)
        spark_out = T.StructType(
            [T.StructField(ROW_IDX, T.LongType())]
            + [T.StructField(k, fields[k]) for k in kn]
            + [T.StructField("__rk_t__", T.LongType())]
            + [T.StructField(n, st) for n, st in zip(names, out_stypes)])
        kern = make_sliding_kernel(kplan, pass_names, out_names, pa_types)
        grouped = work.groupBy(*kn, "__rk_ch__").applyInArrow(
            kern, spark_out)
        return grouped.select(
            F.col(ROW_IDX), *kn,
            F.timestamp_micros(F.col("__rk_t__")).cast(idx_t)
            .alias(self._index),
            *names)

    @staticmethod
    def _prefix_plan(all_exprs):
        """Classify rolling aggregates as prefix-sum-expressible.

        Returns ``[(kind, value_expr|None), ...]`` when EVERY aggregate is
        sum/mean/count/len over a row-level expression, else None (the
        general band-join path handles min/max/median &c)."""
        plan = []
        for e in all_exprs:
            # unwrap alias nodes — naming doesn't change the aggregate
            while e._meta and e._meta[0] == "alias" and e._meta[1]:
                e = e._meta[1][0]
            label = e._meta[0] if e._meta else None
            if label == "len":
                plan.append(("len", None))
            elif label in ("sum", "mean", "count") and e._meta[1]:
                child = e._meta[1][0]
                if getattr(child, "_is_agg", False) or \
                        getattr(child, "_needs_order", False):
                    return None
                plan.append((label, child))
            else:
                return None
        return plan

    def _agg_calendar_prefix(self, dur, all_exprs, plan):
        """Calendar rolling sum/mean/count/len in O(n log n), NO expansion.

        The band join (general path) enumerates every (anchor, contributor)
        pair — quadratic per month bucket on dense series (killed at sf0.1).
        Algebraic aggregates instead difference PREFIX sums at the exact
        window bounds: per-(by, ts) partial sums -> one running-sum window
        over the keys -> each anchor looks up the cumulative value at its
        upper bound (its own ts) and at ``ts - period`` via a union-merge
        as-of lookup (the asof_join trick: probes interleave with data rows
        in ONE ordered window, last_value ignorenulls carries the cum
        forward).  Two lookups per row, each one exchange on the keys."""
        from pyspark.sql import Window

        from .frame import LazyFrame

        pm, pus = dur.months, int(dur.microseconds)
        lf = self._lf._ensure_row_index()
        sdf = lf._sdf
        t = F.col(self._index).cast("timestamp")
        t_us = F.unix_micros(t)
        kn = list(self._by)
        vals = {}
        for i, (kind, child) in enumerate(plan):
            if kind == "len":
                vals[f"__rv{i}__"] = F.lit(1)
            else:
                vals[f"__rv{i}__"] = child._fn(sdf, None)
        base = sdf.select(F.col(ROW_IDX), *kn, F.col(self._index),
                          t_us.alias("__rts__"),
                          *[c.alias(n) for n, c in vals.items()])
        # per-(by, ts) partials -> running cums over keys
        paggs = []
        for i, (kind, _child) in enumerate(plan):
            v = F.col(f"__rv{i}__")
            if kind in ("sum", "mean"):
                paggs.append(F.sum(v).alias(f"__s{i}__"))
            if kind in ("mean", "count", "len"):
                paggs.append(F.count(v).alias(f"__n{i}__"))
        ptab = base.groupBy(*kn, "__rts__").agg(*paggs)
        wcum = (Window.partitionBy(*kn).orderBy(F.col("__rts__").asc())
                .rowsBetween(Window.unboundedPreceding, 0))
        cum_cols = [c for c in ptab.columns
                    if c.startswith("__s") or c.startswith("__n")]
        ptab = ptab.withColumns(
            {c: F.sum(F.col(c)).over(wcum) for c in cum_cols})

        # window (lo, hi] bounds in µs, per closed mode; lookups are
        # "cum at largest data-ts <= bound"
        lo_ts = t - F.make_interval(F.lit(0), F.lit(pm))
        lo_us = F.unix_micros(lo_ts) - F.lit(pus)
        hi = t_us if self._closed in ("right", "both") else t_us - F.lit(1)
        lo = lo_us if self._closed in ("right", "none") else lo_us - F.lit(1)
        anchors = sdf.select(F.col(ROW_IDX), *kn, F.col(self._index),
                             hi.alias("__hi__"), lo.alias("__lo__"))

        # ONE merged as-of pass for BOTH bounds (round-11; was two —
        # each union+window+join re-computed ptab): every anchor emits an
        # upper- and a lower-bound probe into the SAME ordered stream,
        # the carry window runs once, and a per-anchor hash aggregate
        # pivots the two probe rows back into (hi, lo) cum columns —
        # no join back onto the anchors (the probes carry the anchor's
        # key, index value and ROW_IDX), no second ptab compute.
        hi_probes = anchors.select(
            *kn, F.col("__hi__").alias("__rts__"),
            F.col(ROW_IDX).alias("__pid__"), F.lit(True).alias("__ish__"),
            F.col(self._index).alias("__aidx__"))
        lo_probes = anchors.select(
            *kn, F.col("__lo__").alias("__rts__"),
            F.col(ROW_IDX).alias("__pid__"), F.lit(False).alias("__ish__"),
            F.col(self._index).alias("__aidx__"))
        merged = ptab.withColumn("__tag__", F.lit(0)).unionByName(
            hi_probes.withColumn("__tag__", F.lit(1)),
            allowMissingColumns=True).unionByName(
            lo_probes.withColumn("__tag__", F.lit(1)),
            allowMissingColumns=True)
        wm = (Window.partitionBy(*kn)
              .orderBy(F.col("__rts__").asc(), F.col("__tag__").asc())
              .rowsBetween(Window.unboundedPreceding, 0))
        carried = merged.withColumns(
            {c: F.last(F.col(c), ignorenulls=True).over(wm)
             for c in cum_cols})
        probes = carried.filter(F.col("__pid__").isNotNull())
        pivot_aggs = [F.max(F.col("__aidx__")).alias("__aidx__")]
        for c in cum_cols:
            pivot_aggs.append(F.max(F.when(F.col("__ish__"), F.col(c)))
                              .alias(f"{c}h"))
            pivot_aggs.append(F.max(F.when(~F.col("__ish__"), F.col(c)))
                              .alias(f"{c}l"))
        per_pid = probes.groupBy(F.col("__pid__"), *[F.col(k) for k in kn]) \
            .agg(*pivot_aggs)
        out_cols = []
        for i, ((kind, _child), e) in enumerate(zip(plan, all_exprs)):
            def diff(prefix):
                return (F.coalesce(F.col(f"__{prefix}{i}__h"), F.lit(0))
                        - F.coalesce(F.col(f"__{prefix}{i}__l"), F.lit(0)))
            if kind == "sum":
                c = diff("s")
            elif kind in ("count", "len"):
                c = diff("n").cast("long")
            else:  # mean: null over an empty window, like polars
                n = diff("n")
                c = F.when(n > 0, diff("s") / n)
            out_cols.append(c.alias(e._name) if e._name else c)
        # anchor order restores through the deferred order-dirty contract
        # (the hidden ROW_IDX rides along) — the former eager
        # orderBy(ROW_IDX) paid a full range sort inside the operator
        out = per_pid.select(
            F.col("__pid__").alias(ROW_IDX), *kn,
            F.col("__aidx__").alias(self._index), *out_cols)
        res = LazyFrame(out)
        res._order_dirty = True
        return self._wrap_out(res)

    def _agg_calendar(self, dur, exprs, named):
        """Calendar-unit rolling windows (round-3; ``lazy_frame.rb:1161``
        accepts 1mo/1q/1y periods).

        Algebraic aggregates (sum/mean/count/len) take the O(n) prefix-sum
        difference path (``_agg_calendar_prefix``).  General aggregates
        (min/max/median/...) fall back to the month-bucket BAND JOIN:
        contributor rows replicate to the ≤ months(period)+2 bucket months
        whose anchors they can serve, the join is an EQUI-join on (by,
        bucket-month) plus the exact interval predicate, then one hash agg
        per anchor row.  The band join's pair count is anchors × window
        rows — fine for sparse-per-month series, quadratic for dense ones
        (the documented hazard; prefer algebraic aggs at scale).
        Anchors LEFT-join so empty windows still emit their row.
        """
        from .frame import LazyFrame

        all_pre = [wrap_expr(e) for e in exprs] + [
            wrap_expr(e).alias(k) for k, e in named.items()]
        plan = self._prefix_plan(all_pre)
        if plan is not None and self._by:
            # the prefix path's running-cum + union-merge lookups window
            # over the by keys; WITHOUT keys they are global single-task
            # windows — the chunked collect-window path below stays
            # multi-task (round-6)
            return self._agg_calendar_prefix(dur, all_pre, plan)
        # non-algebraic calendar aggs (min/max/median/quantile…): the
        # collect-window path avoids the month-bucket pair expansion
        # entirely (round-6); band join stays as the binder fallback
        try:
            return self._agg_collect_win(dur, exprs, named)
        except Exception:
            pass

        pm, pus = dur.months, int(dur.microseconds)
        _28D_US = 28 * 86400 * 1_000_000
        n_back = pm + -(-pus // _28D_US) + 1
        lf = self._lf._ensure_row_index()
        sdf = lf._sdf
        t = F.col(self._index).cast("timestamp")
        mi = (F.year(t) - F.lit(1970)) * F.lit(12) + F.month(t) - F.lit(1)

        kn = [f"__ra_k{i}__" for i in range(len(self._by))]
        anchors = sdf.select(
            F.col(ROW_IDX),
            t.alias("__ra_ts__"),
            mi.alias("__ra_m__"),
            *[F.col(b).alias(n) for b, n in zip(self._by, kn)])
        contrib = (sdf.drop(ROW_IDX)
                   .withColumn("__rc_r__", F.explode(
                       F.sequence(F.lit(0), F.lit(int(n_back)))))
                   .withColumn("__rc_b__", mi + F.col("__rc_r__"))
                   .drop("__rc_r__"))
        ats = F.col("__ra_ts__")
        lo = ats - F.make_interval(F.lit(0), F.lit(pm))
        if pus:
            lo = F.timestamp_micros(F.unix_micros(lo) - F.lit(pus))
        cts = t  # contributor timestamp (original column name side)
        rng = {
            "right": (cts > lo) & (cts <= ats),
            "left": (cts >= lo) & (cts < ats),
            "both": (cts >= lo) & (cts <= ats),
            "none": (cts > lo) & (cts < ats),
        }.get(self._closed)
        if rng is None:
            raise ValueError(f"invalid closed: {self._closed!r}")
        cond = F.col("__ra_m__") == F.col("__rc_b__")
        for b, n in zip(self._by, kn):
            cond = cond & F.col(n).eqNullSafe(contrib[b])
        joined = anchors.join(contrib, cond & rng, "left")
        all_exprs = [wrap_expr(e) for e in exprs] + [
            wrap_expr(e).alias(k) for k, e in named.items()]
        aggs = []
        for e in all_exprs:
            if not e._is_agg:
                raise ValueError("rolling().agg takes aggregate expressions")
            c = e._fn(joined, None)
            aggs.append(c.alias(e._name) if e._name else c)
        grouped = joined.groupBy(
            F.col(ROW_IDX), F.col("__ra_ts__"), *[F.col(n) for n in kn]
        ).agg(*aggs)
        # anchor order restores through the deferred order-dirty contract
        # (the hidden ROW_IDX rides along) — the former eager
        # orderBy(ROW_IDX) paid a full range sort inside the operator
        out = grouped.select(
            F.col(ROW_IDX),
            *[F.col(n).alias(b) for b, n in zip(self._by, kn)],
            F.col("__ra_ts__").alias(self._index),
            *[F.col(e._name) if e._name else F.col(str(i))
              for i, e in enumerate(all_exprs)])
        res = LazyFrame(out)
        res._order_dirty = True
        return self._wrap_out(res)

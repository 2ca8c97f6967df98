"""The expression layer: polars ``Expr`` semantics compiled to Spark Columns.

This is the engine's single IR, mirroring the reference's design where every
API surface is sugar over one expression layer (SURVEY §1.1;
``/root/reference/lib/polars/expr.rb``, 7,219 LoC).  An :class:`Expr` is a
*recipe*: ``_fn(sdf, part) -> Column`` where

- ``sdf``  is the Spark DataFrame the expression is bound against (needed for
  schema-dependent expansion: ``col("*")``, regex projection, dtype casts);
- ``part`` is the window-partitioning context threaded through the whole
  tree: ``None`` → plain aggregate context (inside ``group_by().agg``),
  ``[]`` → global window (a scalar aggregate broadcast in ``select`` /
  ``with_columns``), ``[cols]`` → keys from ``expr.over(keys)``.

Threading ``part`` through compositions is what makes
``(a.sum() / b.sum()).over("g")`` compile correctly: each aggregate leaf
individually becomes ``F.sum(x).over(Window.partitionBy(g))`` and the
division stays row-level — exactly the reference's "grouped aggregate
broadcast back to rows" semantics (``expr.rb:2278`` ``over``).

Order-dependent expressions (``shift/diff/cum_*/rolling_*`` — polars defines
them against implicit row order) order by the hidden row index
(operators/row_index.py) and set ``_needs_order`` so frames materialize it
only when actually required.
"""

from __future__ import annotations

import math
from typing import Any, Callable

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from .datatypes import to_spark_type
from .exceptions import InvalidOperationError
from .session import ROW_IDX

__all__ = ["Expr", "col", "lit", "all_", "when", "element", "int_range_expr"]


class _BindContext:
    """Distinguishes grouped-agg binding (``group_by.agg`` passes
    ``part=None`` to ``Expr._fn`` just like the ungrouped sole-select path)
    so scalar-lifting expressions (spearman corr) can refuse grouped use
    instead of silently returning the global value for every group."""

    def __init__(self):
        self.grouped_agg = 0
        #: WindowSpec the rolling direct path injects so post-wrapped
        #: aggregates (sum's empty-group coalesce) wrap the window around
        #: the AGGREGATE, not around the post transform (round-6 —
        #: coalesce(sum(v)).over(w) is an analysis error)
        self.rolling_window = None


bind_context = _BindContext()


#: "argument omitted" sentinel (reference Expr::NO_DEFAULT, expr.rb:7071) —
#: distinguishes replace_strict() strict-raise from explicit default=None.
_NO_DEFAULT = object()


def _op_label(f, default: str = "function") -> str:
    """Best-effort op name for meta breadcrumbs (lambdas → the default)."""
    n = getattr(f, "__name__", "")
    return default if (not n or n == "<lambda>") else n


#: Dtype-probe record/replay (cumulative_eval's indexed-transform plan).
#: Probe sites analyze the constructed Column via a standalone select; an
#: expression embedding a HOF lambda variable cannot be analyzed that way,
#: so cumulative_eval first binds the sub-expression over the LAMBDA-FREE
#: full values array (identical element dtypes to any prefix slice) with
#: ``_PROBE_RECORD`` capturing every probed type, then re-binds inside the
#: per-position lambda with ``_PROBE_REPLAY`` serving the captured types.
#: Expression construction is synchronous driver-side code — plain globals.
_PROBE_RECORD: list | None = None
_PROBE_REPLAY: list | None = None


def _probe_type(df, c):
    """Schema-probe a constructed Column (record/replay aware)."""
    global _PROBE_REPLAY
    if _PROBE_REPLAY is not None:
        if not _PROBE_REPLAY:
            raise RuntimeError(
                "dtype-probe replay underrun: the lambda-free record pass "
                "probed fewer types than the real pass needs")
        return _PROBE_REPLAY.pop(0)
    t = df.select(c.alias("__t__")).schema[0].dataType
    if _PROBE_RECORD is not None:
        _PROBE_RECORD.append(t)
    return t


def _part_window(part) -> WindowSpec:
    return Window.partitionBy(*part)


def _ordered_collect(base: "Expr", df) -> Column:
    """Row-order-preserving per-group array of base values (agg context)."""
    from .session import ROW_IDX

    inner = base._fn(df, None)
    pairs = F.array_sort(F.collect_list(
        F.struct(F.col(ROW_IDX).alias("i"), inner.alias("v"))))
    return F.transform(pairs, lambda p: p["v"])


#: _arr_reduce labels the cumulative_eval Arrow kernel can run as O(g)
#: cumulative scans with bit-identical fold semantics (round-7)
_CAGG_KERNEL_LABELS = {
    "count", "len", "min", "max", "first", "last", "sum", "mean",
    "stddev_samp", "stddev_pop", "var_samp", "var_pop",
}


def _arr_reduce(label: str, arr: Column, df) -> Column:
    """Aggregate an order-transformed per-group array (guide_test.rb:
    shift_and_fill(1, 0).sum() under agg)."""
    if label in ("count",):
        return F.size(F.filter(arr, lambda x: x.isNotNull()))
    if label == "len":
        return F.size(arr)
    if label == "min":
        return F.array_min(arr)
    if label == "max":
        return F.array_max(arr)
    if label == "first":
        return F.element_at(arr, 1)
    if label == "last":
        return F.element_at(arr, -1)
    if label in ("sum", "mean"):
        t = _probe_type(df, arr).elementType
        nn = F.filter(arr, lambda x: x.isNotNull())
        s = F.aggregate(nn, F.lit(0).cast(t), lambda a, x: a + x)
        if label == "sum":
            return s
        return s.cast("double") / F.size(nn)
    if label == "median":
        # materialize the sorted array when a binder frame is active
        # (rolling collect-window): interpreted HOFs have no CSE, so the
        # three references below would re-sort per anchor otherwise
        nn = _eval_materialize(
            F.array_sort(F.filter(arr, lambda x: x.isNotNull())))
        n = F.size(nn)
        lo = F.element_at(nn, F.floor((n + 1) / 2).cast("int") + F.lit(0))
        hi = F.element_at(nn, F.floor(n / 2).cast("int") + F.lit(1))
        return F.when(n > 0,
                      (lo.cast("double") + hi.cast("double")) / 2)
    if label in ("stddev_samp", "stddev_pop", "var_samp", "var_pop"):
        nn = _eval_materialize(F.filter(arr, lambda x: x.isNotNull()))
        n = F.size(nn).cast("double")
        s = F.aggregate(nn, F.lit(0.0),
                        lambda a, x: a + x.cast("double"))
        s2 = F.aggregate(nn, F.lit(0.0),
                         lambda a, x: a + x.cast("double") * x.cast("double"))
        varp = F.greatest(s2 / n - (s / n) * (s / n), F.lit(0.0))
        if label.endswith("_samp"):
            var = F.when(n > 1, varp * n / (n - F.lit(1.0)))
        else:
            var = F.when(n > 0, varp)
        return F.sqrt(var) if label.startswith("stddev") else var
    if label in ("skewness", "kurtosis"):
        # biased central moments, matching Spark's skewness/kurtosis (the
        # aggregates the direct agg path uses; polars' bias=True defaults).
        # round-11: the mean and the moments bind as LAMBDA VARIABLES
        # (transform-over-singleton, like _bind_once) — a captured subtree
        # inside an interpreted HOF lambda re-evaluates per element, so the
        # old form (mu captured in cm's lambda, m2 referenced 2-3×) was
        # O(d²) per row: list.eval skew over 400-wide lists measured 21 s
        # for 2000 rows, quadrupling per width doubling; linear after.
        nn = _eval_materialize(F.filter(arr, lambda x: x.isNotNull()))
        n = F.size(nn).cast("double")
        mu0 = F.aggregate(nn, F.lit(0.0),
                          lambda a, x: a + x.cast("double")) / n

        def with_mu(mu):
            def cm(p):
                return F.aggregate(
                    nn, F.lit(0.0),
                    lambda a, x: a + F.pow(x.cast("double") - mu, p)) / n

            hi = cm(F.lit(3.0)) if label == "skewness" else cm(F.lit(4.0))
            pair = F.struct(cm(F.lit(2.0)).alias("m2"), hi.alias("hi"))

            def fin(ms):
                m2 = ms["m2"]
                if label == "skewness":
                    return F.when(m2 > 0, ms["hi"] / F.pow(m2, 1.5))
                return F.when(m2 > 0, ms["hi"] / (m2 * m2) - F.lit(3.0))

            return F.element_at(F.transform(F.array(pair), fin), 1)

        return F.element_at(F.transform(F.array(mu0), with_mu), 1)
    raise NotImplementedError(
        f"aggregate {label!r} over an order-transformed expression "
        "inside group_by().agg")


def _arr_avg_ranks(vs: Column, materialize=None) -> Column:
    """Average-tie ranks among the array's non-null values (polars
    rank('average'); nulls keep null ranks).

    Sort once, then each element's average rank is derived from its FIRST
    and LAST occurrence positions in the sorted array — located with the
    NATIVE ``array_position`` scan (no per-comparison lambda: interpreted
    HOF lambdas made filter-count 4× and aggregate-count 10× slower).
    avg rank = (first_pos + last_pos) / 2 reproduces tie-run averages.
    O(w²) native comparisons per array, bounded by window occupancy w and
    task-local; ``materialize`` pins the sorted arrays as attributes so
    they compute once per row, not once per element."""
    mat = materialize or (lambda c: c)
    sv = mat(F.array_sort(F.filter(vs, lambda u: u.isNotNull())))
    rsv = mat(F.reverse(sv))
    n = F.size(sv)
    return F.transform(vs, lambda v: F.when(
        v.isNotNull(),
        (F.array_position(sv, v).cast("double")
         + (n + 1 - F.array_position(rsv, v)).cast("double")) / F.lit(2.0)))


def _arr_pearson(xa: Column, xb: Column, materialize=None) -> Column:
    """Pearson correlation of two aligned value arrays, skipping pairs with
    a null on either side (F.corr semantics).  Sum-formula over one
    zip_with pass; zero variance divides by zero → SQL NULL (the shape
    F.corr's NaN becomes after fill_nan(None)).  ``materialize`` pins the
    pair array as an attribute so the six sums don't re-evaluate it
    (interpreted HOFs have no CSE)."""
    ps = F.filter(
        F.zip_with(xa, xb, lambda a, b: F.struct(
            a.cast("double").alias("a"), b.cast("double").alias("b"))),
        lambda p: p["a"].isNotNull() & p["b"].isNotNull())
    if materialize is not None:
        ps = materialize(ps)
    n = F.size(ps).cast("double")

    def s(f):
        return F.aggregate(ps, F.lit(0.0), lambda acc, p: acc + f(p))

    sa, sb = s(lambda p: p["a"]), s(lambda p: p["b"])
    sab = s(lambda p: p["a"] * p["b"])
    saa = s(lambda p: p["a"] * p["a"])
    sbb = s(lambda p: p["b"] * p["b"])
    cov = sab - sa * sb / n
    den = F.sqrt((saa - sa * sa / n) * (sbb - sb * sb / n))
    return F.when(n > 0, cov / den)


def _sort_cmp(descending: bool, nulls_last: bool):
    """``array_sort`` comparator over ``(v, i)`` structs: value order with
    explicit null placement, ties stable by original position."""
    nullrank = F.lit(2 if nulls_last else 0)
    less, more = ((F.lit(1), F.lit(-1)) if descending
                  else (F.lit(-1), F.lit(1)))

    def cmp(l, r):
        lv, rv = l["v"], r["v"]
        ln = F.when(lv.isNull(), nullrank).otherwise(F.lit(1))
        rn = F.when(rv.isNull(), nullrank).otherwise(F.lit(1))
        return (F.when(ln != rn, ln - rn)
                .when(lv < rv, less)
                .when(lv > rv, more)
                .otherwise((l["i"] - r["i"]).cast("int"))).cast("int")

    return cmp


def _arr_indexed(arr: Column) -> Column:
    """``(v, i)`` structs carrying 0-based array positions."""
    return F.transform(
        arr, lambda x, i: F.struct(x.alias("v"), i.alias("i")))


def _arr_arg_extreme(arr: Column, kind: str) -> Column:
    """Group-local position of the min/max value (first occurrence wins
    ties, nulls excluded) — polars arg_min/arg_max over a sub-series."""
    structs = F.filter(_arr_indexed(arr), lambda s: s["v"].isNotNull())
    if kind == "min":
        pos = F.array_min(structs)["i"]        # (min v, first i)
    else:
        negs = F.transform(structs, lambda s: F.struct(
            s["v"].alias("v"), (-s["i"]).alias("ni")))
        pos = -F.array_max(negs)["ni"]         # (max v, first i)
    return F.when(F.size(structs) > 0, pos.cast("long"))


def _arr_arg_sort(arr: Column, descending: bool, nulls_last: bool) -> Column:
    """Permutation indices (group-local, 0-based) that sort the array."""
    s = F.array_sort(_arr_indexed(arr), _sort_cmp(descending, nulls_last))
    return F.transform(s, lambda p: p["i"].cast("long"))


#: active sort-key ordering stack (frame.LazyFrame._bind_all installs it):
#: when the frame's row order came from an explicit sort(keys) and every
#: order-consuming expr in the bind is _order_safe, ordered windows sort by
#: the ORIGINAL KEYS instead of a materialized ROW_IDX — skipping the global
#: range-sort + index attach entirely (the dominant cost of
#: sort→window pipelines at scale).
_ORDER_CTX: list = []


def _ordered_window(part) -> WindowSpec:
    if _ORDER_CTX and _ORDER_CTX[-1] is not None:
        return Window.partitionBy(*(part or [])).orderBy(*_ORDER_CTX[-1])
    return Window.partitionBy(*(part or [])).orderBy(ROW_IDX)


def _staged_input_fn(base: "Expr"):
    """``(sdf, key_cols) -> (sdf2, Column)`` yielding the windowed-
    equivalent SOURCE of ``base`` for staged window sequencing: its own
    staged helper when it carries one, its direct binding when it is
    order-free per-row; None when neither is provable (giant-group gate
    only reroutes provably-equivalent compositions)."""
    if base._staged_win_fn is not None:
        ssw = base._staged_win_fn

        def fn(sdf, key_cols):
            sdf2, h = ssw(sdf, key_cols)
            return sdf2, F.col(h)

        return fn
    if (not base._needs_order and not base._scrambles_order
            and not base._is_agg and base._agg_list_fn is None
            and base._multi_fn is None and base._frame_fn is None
            and base._agg_pre_fn is None):
        return lambda sdf, key_cols: (sdf, base._fn(sdf, list(key_cols)))
    return None


def _visible_cols(df) -> list:
    """User-visible columns: hides the internal row index, the hidden
    ``__ord_i__`` sort-key copies that keep deferred restores possible,
    and ``__gord_i__`` pre-stage helper columns."""
    return [c for c in df.columns
            if c != ROW_IDX and c != "__w__"
            and not c.startswith(("__ord_", "__gord_", "__ra_", "__rc_"))]


_GORD_COUNTER = [0]


def _next_gord_name() -> str:
    _GORD_COUNTER[0] += 1
    return f"__gord_{_GORD_COUNTER[0]}__"


def _fill_batch_gfn(meta: dict):
    """Build a global-ordinal hook from fill-family batch metadata
    (round-10): ``meta["items"]`` is ``[(value_fn, kind), …]`` feeding ONE
    ``attach_global_fill_multi`` call, ``meta["finish"](cols, sdf)``
    combines the attached item columns into the expr's value (binary
    compositions fold their operand logic in here — hook×hook pairs and
    hook×plain-column products stay ONE attach instead of chained
    checkpointed stages), ``meta["post"]`` queues elementwise lifts.
    ``_bind_all`` flattens every same-frame ``_fill_batch`` hook into one
    attach the same way."""
    def gfn(sdf):
        from .operators.row_index import attach_global_fill_multi

        tmps = [_next_gord_name() for _ in meta["items"]]
        sdf2 = attach_global_fill_multi(
            sdf, [(vf, kind, t)
                  for (vf, kind), t in zip(meta["items"], tmps)])
        c = meta["finish"]([F.col(t) for t in tmps], sdf2)
        for p in meta["post"]:
            c = p(c)
        out = _next_gord_name()
        return sdf2.withColumn(out, c).drop(*tmps), out

    gfn._fill_batch = meta
    return gfn


class Expr:
    """A deferred column expression (parity: ``lib/polars/expr.rb``)."""

    #: frame-level transform hook: set on row-count-changing expressions
    #: (reshape) — ``select`` routes the WHOLE frame through it instead of
    #: binding a Column (a Column cannot change cardinality).
    _frame_fn = None

    #: ungrouped-ordinal hook: ``(sdf) -> (new_sdf, tmp_col_name)``.  Set on
    #: cum_*/reverse/shuffle so an ungrouped select/with_columns binding
    #: routes through the two-pass partition-prefix machinery
    #: (operators/row_index.py) instead of an empty-partitionBy window that
    #: funnels the whole table through one task.  Grouped ``over()`` use
    #: still binds the windowed column fn.
    _global_ordinal_fn = None

    #: grouped-remap hook: ``(sdf, key_exprs) -> (new_sdf, tmp_col_name)``.
    #: Set on sort/reverse/shuffle so a GROUPED ``over(keys)`` binding routes
    #: through the rank-zip join (operators/row_index.attach_grouped_rank_zip)
    #: instead of a collect_list + per-row array remap that is O(|group|²)
    #: time and bytes.  ``over()`` converts it into a ``_global_ordinal_fn``
    #: closed over the keys.
    _grouped_remap_fn = None

    #: set on expressions whose physical plan sorts rows by a VALUE key
    #: (rank, rolling_*_by): Spark's WindowExec leaves the output partition-
    #: sorted by the window ordering, so select/with_columns must restore
    #: frame row order (ROW_IDX sort) afterward — polars preserves row order.
    _scrambles_order = False

    #: True when the expr reads ROW_IDX VALUES as global frame positions
    #: (agg_groups) — group-local ordinal substitutes are not equivalent.
    _needs_global_index = False

    #: list.eval hook: ``(arr, df) -> Column`` computing the op over the
    #: eval list (cum_*/diff/pct_change — prefix HOFs, no window);
    #: ``_eval_arr_base`` is the inner whose mapped values feed it.
    _eval_arr_fn = None
    _eval_arr_base = None

    #: True when the expr treats ROW_IDX values as CURRENT-FRAME positions
    #: (arg_min/arg_max ungrouped, reverse/shuffle index maps, agg_groups):
    #: a row-subset op upstream leaves the kept index gapped — harmless for
    #: order, stale for positions — so binds re-rank it first (round-5;
    #: LazyFrame._ensure_dense_index).
    _needs_dense_index = False

    #: True when this expr consumes row order ONLY through _ordered_window
    #: (never F.col(ROW_IDX) values): shift/diff/cum_*/rolling/fills/
    #: interpolate.  Such binds can order windows by the frame's sort KEYS
    #: (LazyFrame._order_cols) instead of materializing a global row index —
    #: skipping the range-sort entirely on sort→window pipelines.
    _order_only = False

    @property
    def _order_safe(self) -> bool:
        """Safe under sort-key ordering: either never consumes row order, or
        consumes it exclusively via _ordered_window."""
        return self._order_only or not (self._needs_order
                                        or self._scrambles_order)

    #: agg-context hook: ``(arr) -> Column`` applied to the ordered
    #: collected ARRAY of ``_agg_list_base`` when the expr is bound inside
    #: ``group_by().agg`` — order-dependent per-row ops (shift/reverse/sort)
    #: become per-group array transforms (guide_test.rb agg semantics)
    #: instead of an illegal window-inside-aggregate.
    _agg_list_fn = None
    _agg_list_base = None

    #: agg-context PRE-STAGE hook: ``(sdf, key_cols) -> (sdf2, Column)`` —
    #: aggregates that need per-group helper columns computed BEFORE the
    #: hash agg (spearman corr: per-group average ranks).  ``group_by().
    #: agg`` extends the frame through the hook and aggregates the returned
    #: Column; the helper windows partition by the same keys as the groupBy,
    #: so the plan stays one exchange (AQE reuses it).
    _agg_pre_fn = None

    #: STAGED windowed binding: ``(sdf, key_cols) -> (sdf2, helper_name)``
    #: materializing this expr's per-group value as a sequence of helper
    #: window columns (shift → is_unique staged as lag THEN a value-
    #: partitioned count — windows cannot nest in one Column).  Set only
    #: where the windowed semantics PROVABLY equal the ordered-array route
    #: (_ordered ops, the _distinct_flag family, pure lifts).  The giant-
    #: group gate (round-6) reroutes array-route exprs through it when a
    #: hot group would make the O(g²) per-group HOF a single-task hazard.
    _staged_win_fn = None

    #: companion for REDUCED array-route aggs (shift(1).is_unique().any()):
    #: ``(sdf, key_cols) -> (sdf2, Column)`` — stage the inner windowed,
    #: then apply the expr's own plain aggregate to the helper column.
    _staged_agg_fn = None

    #: lightweight AST breadcrumb ``(op, children_exprs, payload)`` attached
    #: by the central combinators (col/lit/_lift/_lift2/_agg/_ordered/alias/
    #: over) — powers meta.root_names/pop/tree_format/eq (meta_expr.rb)
    #: without a full IR.  None = opaque node (exotic construction sites);
    #: meta queries raise only when they actually hit one.
    _meta = None

    #: numpy-program breadcrumb for POSITIONAL list.eval fast paths
    #: (round-7): a tuple AST over ("elem",) / ("lit", v) / ("bin", op, l,
    #: r) / ("un", op, x) / ("shift", n, fill, x), set only by the tracked
    #: constructors below.  None = not numpy-expressible; list.eval falls
    #: back to the JVM HOF route (bit-identical, interpreted).
    _np_prog = None

    def _set_meta(self, op: str, children=(), payload=None) -> "Expr":
        self._meta = (op, tuple(children), payload)
        return self

    def __init__(
        self,
        fn: Callable[[DataFrame, Any], Column] | None = None,
        name: str | None = None,
        is_agg: bool = False,
        needs_order: bool = False,
        multi_fn: Callable[[DataFrame], list["Expr"]] | None = None,
    ):
        self._fn = fn
        self._name = name
        self._is_agg = is_agg
        self._needs_order = needs_order
        self._multi_fn = multi_fn

    # -- binding ----------------------------------------------------------
    def _bind(self, sdf: DataFrame, part=None) -> Column:
        c = self._fn(sdf, part)
        if self._name:
            c = c.alias(self._name)
        return c

    def _expand(self, sdf: DataFrame) -> list["Expr"]:
        if self._multi_fn is not None:
            return self._multi_fn(sdf)
        return [self]

    def output_name(self) -> str | None:
        return self._name

    # -- lifting helpers ---------------------------------------------------
    def _lift(self, f: Callable[[Column], Column], name: str | None = None,
              is_agg: bool | None = None, needs_order: bool | None = None) -> "Expr":
        """Apply a pure Column→Column function elementwise (multi-aware)."""
        if self._multi_fn is not None:
            mf = self._multi_fn
            return Expr(multi_fn=lambda df: [e._lift(f, None, is_agg, needs_order) for e in mf(df)])._set_meta(
                "multi:" + _op_label(f), (self,))
        out = Expr(
            lambda df, part: f(self._fn(df, part)),
            name=name if name is not None else self._name,
            is_agg=self._is_agg if is_agg is None else is_agg,
            needs_order=self._needs_order if needs_order is None else needs_order,
        )._set_meta(_op_label(f), (self,))
        out._scrambles_order = self._scrambles_order
        out._order_only = self._order_only
        out._needs_global_index = self._needs_global_index
        out._needs_dense_index = self._needs_dense_index
        if self._global_ordinal_fn is not None:
            # compose the pure Column fn on top of the attached hook column
            # so e.g. cum_sum().round(2) / sort().over(k).round(2) keep the
            # multi-task attachment instead of regressing to a global window
            sgfn = self._global_ordinal_fn

            def gfn(sdf, _f=f):
                sdf2, tmp = sgfn(sdf)
                tmp2 = _next_gord_name()
                return sdf2.withColumn(tmp2, _f(F.col(tmp))).drop(tmp), tmp2

            for attr in ("_ewm_batch", "_cum_batch", "_rolling_by_batch",
                         "_rank_batch", "_fill_batch"):
                b = getattr(sgfn, attr, None)
                if b is not None:  # keep batch metadata, queue the lift
                    setattr(gfn, attr, {**b, "post": b["post"] + [f]})
            out._global_ordinal_fn = gfn
        if self._grouped_remap_fn is not None:
            # compose pure Column fns over the grouped frame-attach hook too,
            # so e.g. ewm_mean(...).round(2).over(k) keeps the multi-task
            # attachment instead of regressing to the window fallback
            srfn = self._grouped_remap_fn

            def rfn(sdf, key_exprs, _f=f):
                sdf2, tmp = srfn(sdf, key_exprs)
                tmp2 = _next_gord_name()
                return sdf2.withColumn(tmp2, _f(F.col(tmp))).drop(tmp), tmp2

            b = getattr(srfn, "_rolling_by_batch", None)
            if b is not None:  # keep batch metadata, queue the lift
                rfn._rolling_by_batch = {**b, "post": b["post"] + [f]}
            out._grouped_remap_fn = rfn
        if self._agg_pre_fn is not None:
            # compose pure Column fns over the agg pre-stage hook too
            # (spearman(...).round(6) inside agg keeps the rank pre-stage)
            spfn = self._agg_pre_fn

            def pfn(sdf, key_cols, _f=f):
                sdf2, c = spfn(sdf, key_cols)
                return sdf2, _f(c)

            out._agg_pre_fn = pfn
        if self._staged_agg_fn is not None:
            # ... and over the staged giant-group reroute of reduced
            # array-route aggs (shift(1).n_unique().cast(...))
            ssa = self._staged_agg_fn

            def pfa(sdf, key_cols, _f=f):
                sdf2, c = ssa(sdf, key_cols)
                return sdf2, _f(c)

            out._staged_agg_fn = pfa
        if self._agg_list_fn is not None:
            # elementwise composition keeps the ordered-array agg route:
            # agg((shift(1).abs()).sum()) transforms the per-group array
            slf, base = self._agg_list_fn, self._agg_list_base
            out._agg_list_fn = (
                lambda arr, _slf=slf, _f=f: F.transform(
                    _slf(arr), lambda x: _f(x)))
            out._agg_list_base = base
        if self._staged_win_fn is not None:
            # pure Column fns compose over the staged windowed binding too
            ssw = self._staged_win_fn

            def swf(sdf, key_cols, _f=f):
                sdf2, h = ssw(sdf, key_cols)
                tmp = _next_gord_name()
                return sdf2.withColumn(tmp, _f(F.col(h))), tmp

            out._staged_win_fn = swf
        return out

    def _lift_ctx(self, f: Callable[[Column, DataFrame, Any], Column],
                  needs_order: bool = False) -> "Expr":
        if self._multi_fn is not None:
            mf = self._multi_fn
            return Expr(multi_fn=lambda df: [e._lift_ctx(f, needs_order) for e in mf(df)])._set_meta(
                "multi:" + _op_label(f), (self,))
        out = Expr(
            lambda df, part: f(self._fn(df, part), df, part),
            name=self._name,
            is_agg=self._is_agg,
            needs_order=self._needs_order or needs_order,
        )._set_meta(_op_label(f), (self,))
        out._scrambles_order = self._scrambles_order
        out._order_only = self._order_only and not needs_order
        out._needs_global_index = self._needs_global_index
        out._needs_dense_index = self._needs_dense_index
        return out

    def _lift2(self, other, f: Callable[[Column, Column], Column],
               name: str | None = None, op: str | None = None) -> "Expr":
        o = wrap_expr(other)
        if self._multi_fn is not None:
            mf = self._multi_fn
            return Expr(multi_fn=lambda df: [e._lift2(o, f) for e in mf(df)])._set_meta(
                "multi:" + _op_label(f, "binary"), (self, o))
        if o._multi_fn is not None:
            # multi on the RIGHT (lit(10) / pl.all()): expand per column,
            # keeping each expanded column's name (polars broadcast shape)
            omf = o._multi_fn
            return Expr(multi_fn=lambda df: [
                self._lift2(e, f, name=e._name) for e in omf(df)])
        needs_df = getattr(f, "_needs_df", False)
        out = Expr(
            (lambda df, part: f(self._fn(df, part), o._fn(df, part), df))
            if needs_df else
            (lambda df, part: f(self._fn(df, part), o._fn(df, part))),
            name=name if name is not None else (self._name if self._name is not None else o._name),
            is_agg=self._is_agg or o._is_agg,
            needs_order=self._needs_order or o._needs_order,
        )._set_meta(op or _op_label(f, "binary"), (self, o))
        out._scrambles_order = self._scrambles_order or o._scrambles_order
        out._order_only = self._order_safe and o._order_safe
        out._needs_global_index = (self._needs_global_index
                                   or o._needs_global_index)
        out._needs_dense_index = (self._needs_dense_index
                                  or o._needs_dense_index)
        # elementwise binary composition with a SCALAR LITERAL keeps the
        # ordered-array agg route: agg((shift(1) > 2).any()) transforms the
        # per-group array (round-5)
        for lhs, rhs, flip in ((self, o, False), (o, self, True)):
            if lhs._agg_list_fn is None or not (
                    rhs._meta and rhs._meta[0] == "lit"):
                continue
            try:
                oc = rhs._fn(None, None)
            except Exception:
                break  # non-scalar literal (Series literal raises)
            slf, base = lhs._agg_list_fn, lhs._agg_list_base
            if flip:
                out._agg_list_fn = (
                    lambda arr, _slf=slf, _f=f, _oc=oc: F.transform(
                        _slf(arr), lambda x: _f(_oc, x)))
            else:
                out._agg_list_fn = (
                    lambda arr, _slf=slf, _f=f, _oc=oc: F.transform(
                        _slf(arr), lambda x: _f(x, _oc)))
            out._agg_list_base = base
            if lhs._staged_win_fn is not None:
                ssw = lhs._staged_win_fn

                def swf(sdf, key_cols, _f=f, _oc=oc, _ssw=ssw, _flip=flip):
                    sdf2, h = _ssw(sdf, key_cols)
                    tmp = _next_gord_name()
                    c = (_f(_oc, F.col(h)) if _flip else _f(F.col(h), _oc))
                    return sdf2.withColumn(tmp, c), tmp

                out._staged_win_fn = swf
            break
        # binary composition with a SCALAR LITERAL keeps the global
        # ordinal hooks too (round-9): pct_change() * 100 / rank() + 1
        # otherwise DROP the attach and re-bind the keyless one-task
        # window the hook exists to avoid (measured: q166's pct*100 put a
        # full-frame SinglePartition lag back into an audited plan)
        for lhs, rhs, flip in ((self, o, False), (o, self, True)):
            if lhs._global_ordinal_fn is None or not (
                    rhs._meta and rhs._meta[0] == "lit"):
                continue
            try:
                oc = rhs._fn(None, None)
            except Exception:
                break  # non-scalar literal
            sg = lhs._global_ordinal_fn

            def g2(sdf, _sg=sg, _f=f, _oc=oc, _flip=flip):
                sdf2, tmp = _sg(sdf)
                t2 = _next_gord_name()
                c = (_f(_oc, F.col(tmp)) if _flip
                     else _f(F.col(tmp), _oc))
                return sdf2.withColumn(t2, c).drop(tmp), t2

            for attr in ("_ewm_batch", "_cum_batch", "_rolling_by_batch",
                         "_rank_batch", "_fill_batch"):
                b = getattr(sg, attr, None)
                if b is not None:
                    post = (lambda c, _f=f, _oc=oc, _flip=flip:
                            _f(_oc, c) if _flip else _f(c, _oc))
                    setattr(g2, attr, {**b, "post": b["post"] + [post]})
            out._global_ordinal_fn = g2
            if lhs._grouped_remap_fn is not None:
                sr = lhs._grouped_remap_fn

                def r2(sdf, key_exprs, _sr=sr, _f=f, _oc=oc, _flip=flip):
                    sdf2, tmp = _sr(sdf, key_exprs)
                    t2 = _next_gord_name()
                    c = (_f(_oc, F.col(tmp)) if _flip
                         else _f(F.col(tmp), _oc))
                    return sdf2.withColumn(t2, c).drop(tmp), t2

                b = getattr(sr, "_rolling_by_batch", None)
                if b is not None:
                    post = (lambda c, _f=f, _oc=oc, _flip=flip:
                            _f(_oc, c) if _flip else _f(c, _oc))
                    r2._rolling_by_batch = {**b, "post": b["post"] + [post]}
                out._grouped_remap_fn = r2
            break
        # hook-bearing NON-literal compositions (round-10; VERDICT r9 #2):
        # interpolate()+interpolate() / diff()*col("w") previously DROPPED
        # the attach and re-bound the keyless one-task window the hook
        # exists to avoid — for interpolate the fallback frame is even
        # O(n²) (UnboundedFollowing re-scans the remainder per row).
        # hook×hook composes as two chained attach stages (a lazy
        # localCheckpoint between them keeps chains linear — the same
        # trade _bind_all makes between separate attaches); hook×column
        # evaluates the plain elementwise operand directly on the
        # attached frame (attaches preserve every input column).  Batch
        # metadata does not survive (the composed stage is its own unit).
        if out._global_ordinal_fn is None and not out._is_agg:
            def _plain_operand(e):
                # frame-evaluable elementwise: no hook/agg/order machinery,
                # and not a Series literal (meta "lit" reaching this point
                # failed the scalar probe above)
                return (e._global_ordinal_fn is None and not e._is_agg
                        and not e._needs_order and not e._scrambles_order
                        and e._multi_fn is None and e._frame_fn is None
                        and e._agg_pre_fn is None and e._agg_list_fn is None
                        and not (e._meta and e._meta[0] == "lit"))

            lg, rg = self._global_ordinal_fn, o._global_ordinal_fn
            lb = getattr(lg, "_fill_batch", None) if lg is not None else None
            rb = getattr(rg, "_fill_batch", None) if rg is not None else None

            def _fb_col(b):
                # fold a side's finish+post into a (cols, sdf) -> Column
                def mk(cols, sdf, _b=b):
                    c = _b["finish"](cols, sdf)
                    for p in _b["post"]:
                        c = p(c)
                    return c

                return mk

            lrk = getattr(lg, "_rank_batch", None) if lg is not None else None
            rrk = getattr(rg, "_rank_batch", None) if rg is not None else None
            if lb is not None and rb is not None:
                # BOTH sides fill-family: merge into ONE attach — one
                # chunk exchange, one totals aggregate, no checkpoint
                nl = len(lb["items"])
                la, ra = _fb_col(lb), _fb_col(rb)
                out._global_ordinal_fn = _fill_batch_gfn({
                    "items": lb["items"] + rb["items"],
                    "finish": (lambda cols, sdf, _f=f, _la=la, _ra=ra,
                               _nl=nl: _f(_la(cols[:_nl], sdf),
                                          _ra(cols[_nl:], sdf))),
                    "post": []})
            elif (lrk is not None and rrk is not None
                  and lrk["sig"] == rrk["sig"]):
                # BOTH sides rank over the SAME column: one distinct-
                # prefix table serves both methods/directions
                def g2(sdf, _l=lrk, _r=rrk, _f=f):
                    from .operators.row_index import \
                        attach_global_rank_multi

                    t1, t2 = _next_gord_name(), _next_gord_name()
                    sdf2 = attach_global_rank_multi(
                        sdf, _l["value"],
                        [(_l["method"], _l["descending"], t1),
                         (_r["method"], _r["descending"], t2)])
                    ca, cb = F.col(t1), F.col(t2)
                    for p in _l["post"]:
                        ca = p(ca)
                    for p in _r["post"]:
                        cb = p(cb)
                    t3 = _next_gord_name()
                    return (sdf2.withColumn(t3, _f(ca, cb))
                            .drop(t1, t2), t3)

                out._global_ordinal_fn = g2
            elif lg is not None and rg is not None:
                def g2(sdf, _lg=lg, _rg=rg, _f=f):
                    sdf1, t1 = _lg(sdf)
                    sdf1 = sdf1.localCheckpoint(eager=False)
                    sdf2, t2 = _rg(sdf1)
                    t3 = _next_gord_name()
                    return (sdf2.withColumn(t3, _f(F.col(t1), F.col(t2)))
                            .drop(t1, t2), t3)

                out._global_ordinal_fn = g2
            elif lg is not None and _plain_operand(o):
                if lb is not None:   # keep the batch mergeable
                    la = _fb_col(lb)
                    out._global_ordinal_fn = _fill_batch_gfn({
                        "items": list(lb["items"]),
                        "finish": (lambda cols, sdf, _f=f, _la=la,
                                   _of=o._fn: _f(_la(cols, sdf),
                                                 _of(sdf, None))),
                        "post": []})
                else:
                    def g2(sdf, _lg=lg, _of=o._fn, _f=f):
                        sdf1, t1 = _lg(sdf)
                        t3 = _next_gord_name()
                        return (sdf1.withColumn(t3, _f(F.col(t1),
                                                       _of(sdf1, None)))
                                .drop(t1), t3)

                    out._global_ordinal_fn = g2
            elif rg is not None and _plain_operand(self):
                if rb is not None:
                    ra = _fb_col(rb)
                    out._global_ordinal_fn = _fill_batch_gfn({
                        "items": list(rb["items"]),
                        "finish": (lambda cols, sdf, _f=f, _ra=ra,
                                   _sf=self._fn: _f(_sf(sdf, None),
                                                    _ra(cols, sdf))),
                        "post": []})
                else:
                    def g2(sdf, _rg=rg, _sf=self._fn, _f=f):
                        sdf1, t2 = _rg(sdf)
                        t3 = _next_gord_name()
                        return (sdf1.withColumn(t3, _f(_sf(sdf1, None),
                                                       F.col(t2)))
                                .drop(t2), t3)

                    out._global_ordinal_fn = g2
        if self._agg_pre_fn is not None or o._agg_pre_fn is not None:
            # compose binary ops over agg pre-stage hooks too (ADVICE r4:
            # spearman(...) * 2 / + other_agg inside group_by().agg keeps
            # the rank pre-stage); hooked operands thread the frame, plain
            # operands bind as ordinary aggregate columns on the result
            spa, spb = self._agg_pre_fn, o._agg_pre_fn
            sf, of = self._fn, o._fn

            def pfn(sdf, key_cols, _f=f):
                ca = cb = None
                if spa is not None:
                    sdf, ca = spa(sdf, key_cols)
                if spb is not None:
                    sdf, cb = spb(sdf, key_cols)
                if ca is None:
                    ca = sf(sdf, None)
                if cb is None:
                    cb = of(sdf, None)
                return sdf, _f(ca, cb)

            out._agg_pre_fn = pfn
        return out

    def _compose_arr_route(self, e: "Expr", arr_transform) -> "Expr":
        """Wire ``e``'s ordered-array agg route as ``arr_transform`` over
        THIS expr's per-group array, composing any route this expr already
        carries (``shift(1).sort()`` inside agg transforms the shifted
        array, not the raw one)."""
        if self._agg_list_fn is not None:
            slf, base = self._agg_list_fn, self._agg_list_base
            e._agg_list_fn = lambda arr, _s=slf, _t=arr_transform: _t(_s(arr))
            e._agg_list_base = base
            e._needs_order = True  # the route collects by ROW_IDX
        else:
            e._agg_list_fn = arr_transform
            e._agg_list_base = self
        return e

    def _route_arr(self, df, bare: bool = True):
        """Per-group value array of this expr in agg / list.eval contexts
        (composing any ordered-array route the expr carries), else None.
        ``bare=False`` skips the untransformed grouped collect — for order-
        INSENSITIVE consumers whose plain agg path is cheaper (entropy)."""
        if _EVAL_ARRAY_STACK:
            return _eval_vals(self, _EVAL_ARRAY_STACK[-1], df)
        if bind_context.grouped_agg:
            if self._agg_list_fn is not None:
                return self._agg_list_fn(
                    _ordered_collect(self._agg_list_base, df))
            if bare:
                return _ordered_collect(self, df)
        return None

    def _agg(self, aggf: Callable[[Column], Column], name: str | None = None) -> "Expr":
        """Aggregate; in a windowed context, broadcast over the partition."""
        if self._multi_fn is not None:
            mf = self._multi_fn
            return Expr(multi_fn=lambda df: [e._agg(aggf) for e in mf(df)])._set_meta(
                "multi:" + _op_label(aggf, "agg"), (self,))

        label = _op_label(aggf, "agg")
        # ops with parameters the label can't carry (quantile's q and
        # interpolation, mode) attach their own array reducer
        custom = getattr(aggf, "_arr_reduce_fn", None)

        def reduce_arr(arr, df):
            if custom is not None:
                return custom(arr, df)
            return _arr_reduce(label, arr, df)

        def fn(df, part):
            if _EVAL_ARRAY_STACK:
                # inside list.eval: aggregate over the current list
                mapped = _eval_vals(self, _EVAL_ARRAY_STACK[-1], df)
                return reduce_arr(mapped, df)
            if bind_context.grouped_agg and self._agg_list_fn is not None:
                arr = self._agg_list_fn(_ordered_collect(self._agg_list_base, df))
                return reduce_arr(arr, df)
            if self._is_agg:
                from pyspark.sql import types as T

                inner_c = self._fn(df, None)
                try:
                    t = _probe_type(df, inner_c)
                except Exception:
                    t = None
                if t is not None:
                    # agg-of-agg: reduce over the inner aggregate's array
                    # (unique().count(), implode().sum()…); a SCALAR
                    # aggregate inner (min().implode(), sum().sum()) is its
                    # one-element series (round-5 — was a nested-aggregate
                    # analysis error)
                    arr_in = (inner_c if isinstance(t, T.ArrayType)
                              else F.array(inner_c))
                    r = reduce_arr(arr_in, df)
                    return r.over(_part_window(part)) if part is not None else r
            if part is not None:
                ri = self._reduce_over_route(df, part, reduce_arr,
                                             force=custom is not None)
                if ri is not None:
                    return ri
            uq = getattr(aggf, "_ungrouped_q", None)
            if (uq is not None and part is None
                    and not bind_context.grouped_agg
                    and bind_context.rolling_window is None):
                # whole-frame exact quantile/median: distributed selection
                # instead of the percentile buffer funnel (round-11) —
                # numeric non-decimal inputs only (the selection arithmetic
                # replicates Percentile's double math; anything else keeps
                # the aggregate path's own semantics/errors)
                from pyspark.sql import types as T

                inner = self._fn(df, None)
                try:
                    t = _probe_type(df, inner)
                except Exception:
                    t = None
                if (isinstance(t, T.NumericType)
                        and not isinstance(t, T.DecimalType)):
                    return F.lit(_ungrouped_exact_quantile(
                        df, inner, uq[0], uq[1])).cast("double")
            c = aggf(self._fn(df, None))
            if part is not None:
                c = c.over(_part_window(part))
            elif bind_context.rolling_window is not None:
                c = c.over(bind_context.rolling_window)
            return c

        out = Expr(fn, name=name if name is not None else self._name,
                   is_agg=True,
                   needs_order=(self._needs_order
                                or self._agg_list_fn is not None))._set_meta(
                       label, (self,))
        if (custom is None and self._np_prog == ("elem",)
                and label in _CAGG_KERNEL_LABELS):
            # prefix-aggregate breadcrumb for the cumulative_eval Arrow
            # kernel (round-7): aggregates of the bare element() compose
            # arithmetically via _np_bin like any tracked node
            out._np_prog = ("cagg", label)
        self._attach_windowable_pre(out, lambda c, df: aggf(c))
        if (self._agg_list_fn is not None
                and self._staged_win_fn is not None
                and not getattr(aggf, "_staged_unsafe", False)):
            # giant-group reroute: stage the inner windowed, aggregate the
            # helper with the expr's own plain aggregate.  _staged_unsafe
            # marks aggfs whose plain form diverges from the array route
            # (unique: collect_set loses first-appearance order + null)
            ssw = self._staged_win_fn

            def sagg(sdf, key_cols, _aggf=aggf):
                sdf2, h = ssw(sdf, key_cols)
                return sdf2, _aggf(F.col(h))

            out._staged_agg_fn = sagg
        return out

    def _reduce_over_route(self, df, part, reduce_arr, force: bool = False):
        """Aggregate over an ORDER-DEPENDENT inner under ``over(keys)``:
        the inner cannot bind globally (polars evaluates per sub-series —
        a global shift/rank would be silently wrong).  An inner carrying
        an ordered-array route reduces its transformed per-group array
        from ONE collected window; other windowed inners raise with the
        with_columns rewrite.  ``force`` collects even a PLAIN inner —
        for collect-based reducers (quantile/mode) whose HOF cannot wrap
        ``.over`` around an inner collect_list (round-5)."""
        if self._agg_list_fn is not None:
            pairs = F.array_sort(F.collect_list(F.struct(
                F.col(ROW_IDX).alias("i"),
                self._agg_list_base._fn(df, None).alias("v"))).over(
                    _part_window(part)))
            arr = self._agg_list_fn(F.transform(pairs, lambda p: p["v"]))
            return reduce_arr(arr, df)
        if self._needs_order or self._scrambles_order:
            raise NotImplementedError(
                "aggregating a windowed expression under over(keys): "
                "pre-compute the windowed column with with_columns("
                "expr.over(keys)) and aggregate that column instead")
        if force:
            if ROW_IDX in df.columns:  # order-preserving when available
                pairs = F.array_sort(F.collect_list(F.struct(
                    F.col(ROW_IDX).alias("i"),
                    self._fn(df, None).alias("v"))).over(_part_window(part)))
                arr = F.transform(pairs, lambda p: p["v"])
            else:
                arr = F.collect_list(
                    self._fn(df, None)).over(_part_window(part))
            return reduce_arr(arr, df)
        return None

    def _attach_windowable_pre(self, out: "Expr", apply_agg) -> None:
        """Aggregate OVER a windowed inner (rank().mean(), cum_sum().max(),
        diff().sum() inside group_by().agg): hook an ``_agg_pre_fn`` that
        materializes the inner as a helper column windowed over the SAME
        keys the groupBy hashes on (one logical exchange), then aggregates
        the helper (round-5; lazy_frame.rb:1317 any expression)."""
        if (self._is_agg or self._agg_list_fn is not None
                or self._frame_fn is not None or self._multi_fn is not None
                or self._agg_pre_fn is not None
                or not (self._needs_order or self._scrambles_order)):
            return
        inner = self

        def pre(sdf, key_cols):
            helper = _next_gord_name()
            sdf2 = sdf.withColumn(helper, inner._fn(sdf, list(key_cols)))
            return sdf2, apply_agg(F.col(helper), sdf2)

        out._agg_pre_fn = pre

    def _agg_ctx(self, aggf: Callable[[Column, DataFrame], Column],
                 label: str = "agg", name: str | None = None,
                 post: Callable[[Column], Column] | None = None) -> "Expr":
        """Like :meth:`_agg` but the aggregate function also receives the
        bound DataFrame, for dtype-dependent aggregates (bool sum → count of
        trues, int product stays int).  The dtype probe is analysis-only
        (no job) and takes the schema fast path for bare columns.
        ``label`` is the meta-breadcrumb op name (meta.eq distinguishes
        aggregates by it).  ``post`` applies AFTER the window wrapping (a
        non-window scalar transform like coalesce cannot sit between the
        aggregate and ``.over``)."""
        if self._multi_fn is not None:
            mf = self._multi_fn
            return Expr(multi_fn=lambda df: [e._agg_ctx(aggf, label, post=post)
                                             for e in mf(df)])._set_meta(
                "multi:" + label, (self,))

        custom = getattr(aggf, "_arr_reduce_fn", None)

        def reduce_arr(arr, df):
            if custom is not None:
                return custom(arr, df)
            return _arr_reduce(label, arr, df)

        def fn(df, part):
            if _EVAL_ARRAY_STACK:
                # inside list.eval: aggregate over the current list
                mapped = _eval_vals(self, _EVAL_ARRAY_STACK[-1], df)
                return reduce_arr(mapped, df)
            if bind_context.grouped_agg and self._agg_list_fn is not None:
                arr = self._agg_list_fn(_ordered_collect(self._agg_list_base, df))
                return reduce_arr(arr, df)
            if self._is_agg:
                from pyspark.sql import types as T

                inner_c = self._fn(df, None)
                try:
                    t = _probe_type(df, inner_c)
                except Exception:
                    t = None
                if t is not None:
                    # agg-of-agg: reduce over the inner aggregate's array;
                    # a scalar aggregate inner is its one-element series
                    arr_in = (inner_c if isinstance(t, T.ArrayType)
                              else F.array(inner_c))
                    r = reduce_arr(arr_in, df)
                    if part is not None:
                        r = r.over(_part_window(part))
                    return post(r) if post is not None else r
            if part is not None:
                ri = self._reduce_over_route(df, part, reduce_arr,
                                             force=custom is not None)
                if ri is not None:
                    return post(ri) if post is not None else ri
            c = aggf(self._fn(df, None), df)
            if part is not None:
                c = c.over(_part_window(part))
            elif bind_context.rolling_window is not None:
                c = c.over(bind_context.rolling_window)
            if post is not None:
                c = post(c)
            return c

        out = Expr(fn, name=name if name is not None else self._name,
                   is_agg=True,
                   needs_order=(self._needs_order
                                or self._agg_list_fn is not None))._set_meta(
                       label, (self,))
        if (custom is None and self._np_prog == ("elem",)
                and label in _CAGG_KERNEL_LABELS):
            # prefix-aggregate breadcrumb (round-7; see _agg) — the eval
            # branch reduces via _arr_reduce(label), which the kernel
            # mirrors (post transforms are not applied on that branch)
            out._np_prog = ("cagg", label)

        def apply_agg(c, df):
            r = aggf(c, df)
            return post(r) if post is not None else r

        self._attach_windowable_pre(out, apply_agg)
        if (self._agg_list_fn is not None
                and self._staged_win_fn is not None
                and not getattr(aggf, "_staged_unsafe", False)):
            ssw = self._staged_win_fn

            def sagg(sdf, key_cols):
                sdf2, h = ssw(sdf, key_cols)
                return sdf2, apply_agg(F.col(h), sdf2)

            out._staged_agg_fn = sagg
        return out

    def _probe_dtype(self, df: DataFrame, c: Column):
        """Data type of this expression bound against ``df`` — reads the
        frame schema directly for bare columns (free), falls back to a
        single-column analysis probe otherwise."""
        if self._meta and self._meta[0] == "col" and self._meta[2] in df.columns:
            return df.schema[self._meta[2]].dataType
        return _probe_type(df, c)

    def _ordered(self, f: Callable[[Column, WindowSpec], Column],
                 order_only: bool = False) -> "Expr":
        """Window op defined against implicit row order (shift/cum_*/…).

        ``order_only=True`` declares that ``f`` touches row order ONLY via
        the passed WindowSpec (no ``F.col(ROW_IDX)`` values) — enabling the
        sort-key window ordering fast path (see _ORDER_CTX)."""
        if self._multi_fn is not None:
            mf = self._multi_fn
            return Expr(multi_fn=lambda df: [e._ordered(f, order_only)
                                             for e in mf(df)])._set_meta(
                "multi:" + _op_label(f, "ordered"), (self,))

        holder: list = []

        def bound(df, part):
            if _EVAL_ARRAY_STACK and _ELEMENT_STACK:
                # per-element positional binding inside list.eval
                # (round-6; list_expr.rb:787 supports arbitrary nesting):
                # the op's full-array route computes the WHOLE transformed
                # series over the eval list, and this element picks its
                # own position — element() - element().shift(1) works.
                e_self = holder[0] if holder else None
                if (e_self is not None and _ELEMENT_IDX_STACK
                        and e_self._agg_list_fn is not None):
                    arr = e_self._agg_list_fn(_eval_map(
                        e_self._agg_list_base, _EVAL_ARRAY_STACK[-1], df))
                    return F.element_at(arr, _ELEMENT_IDX_STACK[-1] + 1)
                if (e_self is not None and _ELEMENT_IDX_STACK
                        and e_self._eval_arr_fn is not None):
                    mapped = _eval_vals(
                        e_self._eval_arr_base, _EVAL_ARRAY_STACK[-1], df)
                    return F.element_at(
                        e_self._eval_arr_fn(mapped, df),
                        _ELEMENT_IDX_STACK[-1] + 1)
                raise NotImplementedError(
                    "this order-dependent expression is not supported "
                    "per-element inside list.eval: apply it directly to "
                    "the element (element().shift(...).…) or explode the "
                    "list and use group_by/over instead")
            return f(self._fn(df, part), _ordered_window(part))

        out = Expr(bound, name=self._name,
                   needs_order=True)._set_meta("window", (self,))
        holder.append(out)
        out._order_only = order_only and self._order_safe
        src = _staged_input_fn(self)
        if src is not None:
            # staged windowed binding: materialize the input helper first,
            # then ONE window over it (windows cannot nest in a Column) —
            # powers the giant-group reroute of composed array routes
            def staged(sdf, key_cols, _src=src, _f=f):
                sdf2, c = _src(sdf, key_cols)
                tmp = _next_gord_name()
                return sdf2.withColumn(
                    tmp, _f(c, _ordered_window(list(key_cols)))), tmp

            out._staged_win_fn = staged
        return out

    # -- identity / naming --------------------------------------------------
    def alias(self, name: str) -> "Expr":
        e = self._lift(lambda c: c)
        e._name = name
        e._frame_fn = self._frame_fn  # keep frame-level hooks (reshape) alive
        e._global_ordinal_fn = self._global_ordinal_fn
        e._grouped_remap_fn = self._grouped_remap_fn
        e._agg_list_fn = self._agg_list_fn
        e._agg_list_base = self._agg_list_base
        e._agg_pre_fn = self._agg_pre_fn
        e._staged_win_fn = self._staged_win_fn
        e._staged_agg_fn = self._staged_agg_fn
        return e._set_meta("alias", (self,), name)

    def suffix(self, s: str) -> "Expr":
        if self._multi_fn is not None:  # pl.all().suffix: rename each column
            mf = self._multi_fn
            return Expr(multi_fn=lambda df: [e.suffix(s) for e in mf(df)])._set_meta(
                "multi:suffix", (self,))
        return self.alias((self._name or "") + s)

    def prefix(self, p: str) -> "Expr":
        if self._multi_fn is not None:
            mf = self._multi_fn
            return Expr(multi_fn=lambda df: [e.prefix(p) for e in mf(df)])._set_meta(
                "multi:prefix", (self,))
        return self.alias(p + (self._name or ""))

    @property
    def name(self):
        from .namespaces import NameNameSpace

        return NameNameSpace(self)

    @property
    def meta(self):
        from .namespaces import MetaNameSpace

        return MetaNameSpace(self)

    def keep_name(self) -> "Expr":
        # deprecated reference alias of name.keep (expr.rb:621)
        return self.name.keep()

    def map_alias(self, function) -> "Expr":
        # deprecated reference alias of name.map (expr.rb:672)
        return self.name.map(function)

    # -- arithmetic (parity: expr.rb / ext/polars/src/expr/general.rs:16-41) --
    def __add__(self, o):
        return _np_bin(self._lift2(o, _concat_or_add(self, o), op="+"),
                       "+", self, o)

    def __radd__(self, o):
        ow = wrap_expr(o)
        return _np_bin(ow._lift2(self, _concat_or_add(ow, self)),
                       "+", o, self)

    def __sub__(self, o):
        return _np_bin(self._lift2(o, lambda a, b: a - b, op="-"),
                       "-", self, o)

    def __rsub__(self, o):
        return _np_bin(wrap_expr(o)._lift2(self, lambda a, b: a - b),
                       "-", o, self)

    def __mul__(self, o):
        return _np_bin(self._lift2(o, lambda a, b: a * b, op="*"),
                       "*", self, o)

    def __rmul__(self, o):
        return _np_bin(wrap_expr(o)._lift2(self, lambda a, b: a * b),
                       "*", o, self)

    def __truediv__(self, o):
        # Polars truediv is always float (expr.rb:3531); Spark `/` matches —
        # except /0, where Spark nulls and polars gives ±inf / NaN
        # (truediv doctest).  Decimal operands keep Spark's null (no inf in
        # decimal space), matching the oracle's behavior on money columns.
        return _np_bin(self._lift2(o, _div_polars, op="/"),
                       "/", self, o)

    def __rtruediv__(self, o):
        return _np_bin(wrap_expr(o)._lift2(self, _div_polars),
                       "/", o, self)

    def __floordiv__(self, o):
        return self._lift2(o, lambda a, b: F.floor(a / b), op="//")

    def __rfloordiv__(self, o):
        return wrap_expr(o)._lift2(self, lambda a, b: F.floor(a / b))

    def __mod__(self, o):
        # polars % pairs with floored // (sign of DIVISOR, python semantics);
        # F.pmod is always non-negative and breaks for negative divisors
        # (pmod(5,-3)=2, want -1) — ((a%b)+b)%b gives the floored remainder
        # in the operands' own type
        return self._lift2(o, lambda a, b: ((a % b) + b) % b, op="%")

    def __pow__(self, o):
        # polars: int ** int stays integer (expr.rb:3535 doctest — i64 cube
        # column is i64, float exponent → f64); F.pow always returns double,
        # so probe both operand dtypes at bind time and cast back.
        # A NEGATIVE integer exponent on an integer base raises (polars
        # InvalidOperationError) instead of silently truncating pow's double
        # toward zero (ADVICE r2); base dtype is only known at bind time.
        neg_lit = isinstance(o, int) and not isinstance(o, bool) and o < 0
        oe = wrap_expr(o)

        def f2(a, b, df):
            from pyspark.sql import types as T

            ints = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
            ta = _probe_type(df, a)
            tb = _probe_type(df, b)
            out = F.pow(a, b)
            if isinstance(ta, ints) and isinstance(tb, ints):
                if neg_lit:
                    raise InvalidOperationError(
                        "integer raised to a negative exponent; cast to "
                        "Float64 first")
                # data-dependent negative exponent → per-row raise, matching
                # polars; raise_error needs an explicit result-type cast
                guard = F.when(
                    b < F.lit(0),
                    F.raise_error(F.lit(
                        "InvalidOperationError: integer raised to a "
                        "negative exponent")).cast(ta),
                ).otherwise(out.cast(ta))
                return guard
            return out

        out = Expr(
            lambda df, part: f2(self._fn(df, part), oe._fn(df, part), df),
            name=self._name if self._name is not None else oe._name,
            is_agg=self._is_agg or oe._is_agg,
            needs_order=self._needs_order or oe._needs_order,
        )._set_meta("**", (self, oe))
        out._scrambles_order = self._scrambles_order or oe._scrambles_order
        return out

    def __rmod__(self, o):
        return wrap_expr(o).__mod__(self)

    def __rpow__(self, o):
        return wrap_expr(o).__pow__(self)

    def __neg__(self):
        out = self._lift(lambda c: -c)
        if self._np_prog is not None:
            out._np_prog = ("un", "neg", self._np_prog)
        return out

    def __abs__(self):
        return self.abs()

    # -- comparisons ---------------------------------------------------------
    def __eq__(self, o):  # type: ignore[override]
        return self._lift2(o, lambda a, b: a == b, op="==")

    def __ne__(self, o):  # type: ignore[override]
        return self._lift2(o, lambda a, b: a != b, op="!=")

    def __lt__(self, o):
        return self._lift2(o, lambda a, b: a < b, op="<")

    def __le__(self, o):
        return self._lift2(o, lambda a, b: a <= b, op="<=")

    def __gt__(self, o):
        return self._lift2(o, lambda a, b: a > b, op=">")

    def __ge__(self, o):
        return self._lift2(o, lambda a, b: a >= b, op=">=")

    def eq_missing(self, o):
        # expr.rb:3107 — null == null is true.
        return self._lift2(o, lambda a, b: a.eqNullSafe(b))

    def ne_missing(self, o):
        return self._lift2(o, lambda a, b: ~a.eqNullSafe(b))

    # -- boolean --------------------------------------------------------------
    @staticmethod
    def _meta_known_bool(e) -> bool:
        """True only when the breadcrumb AST PROVES the expr is boolean:
        comparisons are always boolean; &/|/^ are boolean iff their left
        operand is (recursively) — a chained integer bitwise expression
        like (a & b) & c must NOT take the boolean fast path (ADVICE r2)."""
        cmp_ops = {">", "<", ">=", "<=", "==", "!="}
        while True:
            if not isinstance(e, Expr) or not e._meta:
                return False
            op = e._meta[0]
            if op in cmp_ops:
                return True
            if op in {"&", "|", "^"} and e._meta[1]:
                e = e._meta[1][0]
                continue
            return False

    def _logical_or_bitwise(self, o, kind: str):
        """polars &/|/^ are logical on booleans, BITWISE on integers
        (expr.rb bitand/bitor/bitxor); probe the left operand's dtype."""
        oe = wrap_expr(o)
        # breadcrumb fast path: a PROVEN-boolean left operand skips the
        # per-bind analysis probe for the overwhelmingly common filter case
        known_bool = Expr._meta_known_bool(self)

        def fn(df, part):
            from pyspark.sql import types as T

            a, b = self._fn(df, part), oe._fn(df, part)
            if known_bool:
                t = T.BooleanType()
            else:
                try:
                    t = self._probe_dtype(df, a)
                except Exception:
                    t = T.BooleanType()
            if isinstance(t, (T.ByteType, T.ShortType, T.IntegerType,
                              T.LongType)):
                return {"and": a.bitwiseAND(b), "or": a.bitwiseOR(b),
                        "xor": a.bitwiseXOR(b)}[kind]
            if kind == "and":
                return a & b
            if kind == "or":
                return a | b
            return (a | b) & ~(a & b)

        out = Expr(fn, name=self._name if self._name is not None else oe._name,
                   is_agg=self._is_agg or oe._is_agg,
                   needs_order=self._needs_order or oe._needs_order,
                   )._set_meta({"and": "&", "or": "|", "xor": "^"}[kind],
                               (self, oe))
        out._scrambles_order = self._scrambles_order or oe._scrambles_order
        return out

    def __and__(self, o):
        return self._logical_or_bitwise(o, "and")

    def __rand__(self, o):
        return wrap_expr(o)._logical_or_bitwise(self, "and")

    def __or__(self, o):
        return self._logical_or_bitwise(o, "or")

    def __ror__(self, o):
        return wrap_expr(o)._logical_or_bitwise(self, "or")

    def __xor__(self, o):
        return self._logical_or_bitwise(o, "xor")

    def __invert__(self):
        return self.not_()

    def not_(self):
        return self._lift(lambda c: ~c)

    # -- casts -----------------------------------------------------------------
    def cast(self, dtype, strict: bool = False) -> "Expr":
        """Parity: expr.rb:1234. strict=False = null-on-failure (try_cast);
        the session runs ANSI-off so plain cast already behaves that way."""
        from . import datatypes as dtt

        if dtype is dtt.Time or isinstance(dtype, dtt.Time):
            return self._cast_time()
        t = to_spark_type(dtype)
        if strict:
            return self._lift(lambda c: c.cast(t))
        return self._lift(lambda c: c.try_cast(t) if hasattr(c, "try_cast") else c.cast(t))

    def _cast_time(self) -> "Expr":
        """Time dtype: ns since midnight in an Int64 physical column
        (datatypes.py Time).  Source dtype resolved at plan time (one
        analysis round-trip, no runtime branching)."""
        from pyspark.sql import types as T

        def fn(df, part):
            c = self._fn(df, part)
            try:
                src = _probe_type(df, c)
            except Exception:
                src = None
            if isinstance(src, (T.TimestampType, T.TimestampNTZType)):
                t = c.cast("timestamp")  # NTZ-safe: session tz pinned UTC
                us = F.unix_micros(t)
                midnight = F.unix_micros(F.date_trunc("day", t))
                return (us - midnight) * F.lit(1000)
            if isinstance(src, T.StringType):
                ts = F.to_timestamp(F.concat(F.lit("1970-01-01 "), c))
                return F.unix_micros(ts) * F.lit(1000)
            return c.cast("long")

        return Expr(fn, name=self._name, needs_order=self._needs_order)

    def agg_map(self, function, return_dtype="double") -> "Expr":
        """UDAF extension (SURVEY §2.4): arbitrary Python reduction per
        group — pd.Series in, scalar out, Arrow-batched (GROUPED_AGG), so it
        composes with group_by().agg and over() without collecting groups."""
        from ._udf_helpers import make_grouped_agg_udf
        from .datatypes import to_spark_type

        t = to_spark_type(return_dtype) if not isinstance(return_dtype, str) \
            else return_dtype
        uf = make_grouped_agg_udf(function, t)
        return self._agg(lambda c: uf(c))

    def to_physical(self) -> "Expr":
        """Physical (integer) representation of temporal dtypes
        (expr.rb:178): Date → days-since-epoch Int32, Datetime → µs Int64,
        Duration → µs Int64.  Strings/numerics pass through (Categorical is
        already plain strings here — COVERAGE.md dtype policy)."""
        from pyspark.sql import types as T

        def fn(df, part):
            c = self._fn(df, part)
            try:
                src = _probe_type(df, c)
            except Exception:
                return c
            if isinstance(src, T.DateType):
                return F.datediff(c, F.lit("1970-01-01")).cast("int")
            if isinstance(src, (T.TimestampType, T.TimestampNTZType)):
                return F.unix_micros(c.cast("timestamp"))
            if isinstance(src, T.DayTimeIntervalType):
                # cast-to-long yields the interval's END-FIELD unit (whole
                # seconds for DAY TO SECOND), not µs — convert via epoch
                # arithmetic instead (advice r2): epoch + interval, in µs
                return F.unix_micros(F.timestamp_micros(F.lit(0)) + c)
            return c

        return Expr(fn, name=self._name, is_agg=self._is_agg,
                    needs_order=self._needs_order)

    # -- named operator aliases (expr.rb add/sub/.../xor ruby surface) -------
    def add(self, o):
        return self.__add__(o)

    def sub(self, o):
        return self.__sub__(o)

    def mul(self, o):
        return self.__mul__(o)

    def truediv(self, o):
        return self.__truediv__(o)

    def floordiv(self, o):
        return self.__floordiv__(o)

    def mod(self, o):
        return self.__mod__(o)

    def eq(self, o):
        return self.__eq__(o)

    def ne(self, o):
        return self.__ne__(o)

    def gt(self, o):
        return self.__gt__(o)

    def ge(self, o):
        return self.__ge__(o)

    def lt(self, o):
        return self.__lt__(o)

    def le(self, o):
        return self.__le__(o)

    def xor(self, o):
        return self._lift2(o, lambda a, b: a.cast("boolean") != b.cast("boolean"))

    def is_not(self):
        # deprecated reference alias of NOT (expr.rb:864)
        return self.not_()

    # -- physical-layout no-ops (chunking is a Rust-engine detail) -----------
    def rechunk(self) -> "Expr":
        # chunks are a memory-layout detail with no Spark analogue: the
        # IDENTITY, preserving row-count-changing hooks (repeat().append()
        # .rechunk doctest — _lift would drop _frame_fn)
        return self

    def set_sorted(self, descending: bool = False) -> "Expr":
        # sortedness flags feed the Rust engine's fast paths; Catalyst derives
        # ordering from the plan itself
        return self._lift(lambda c: c)

    def reinterpret(self, signed: bool = True) -> "Expr":
        return self._lift(lambda c: c.cast("bigint" if signed else "decimal(20,0)"))

    def lower_bound(self) -> "Expr":
        return self._dtype_bound(lower=True)

    def upper_bound(self) -> "Expr":
        return self._dtype_bound(lower=False)

    def _dtype_bound(self, lower: bool) -> "Expr":
        """dtype min/max constant (expr.rb lower_bound/upper_bound) —
        resolved from the column's Spark type at plan time."""
        from pyspark.sql import types as T

        def fn(df, part):
            c = self._fn(df, part)
            try:
                src = _probe_type(df, c)
            except Exception:
                src = None
            bounds = {
                T.ByteType: (-(1 << 7), (1 << 7) - 1),
                T.ShortType: (-(1 << 15), (1 << 15) - 1),
                T.IntegerType: (-(1 << 31), (1 << 31) - 1),
                T.LongType: (-(1 << 63), (1 << 63) - 1),
            }
            for t, (lo, hi) in bounds.items():
                if isinstance(src, t):
                    return F.lit(lo if lower else hi).cast(src.simpleString())
            if isinstance(src, (T.FloatType, T.DoubleType)):
                v = float("-inf") if lower else float("inf")
                return F.lit(v).cast(src.simpleString())
            raise ValueError(f"lower/upper_bound: unsupported dtype {src}")

        # one-row result like polars (expr.rb lower_bound doctest) — the
        # bound is a dtype constant, so F.first of the literal suffices
        return Expr(lambda df, part: F.first(fn(df, part)),
                    name=self._name, is_agg=True)

    # -- null / nan predicates (expr.rb:574-633, 866-893) ----------------------
    def is_null(self):
        return self._lift(lambda c: c.isNull())

    def is_not_null(self):
        return self._lift(lambda c: c.isNotNull())

    def is_nan(self):
        return self._lift(lambda c: F.isnan(c))

    def is_not_nan(self):
        return self._lift(lambda c: ~F.isnan(c))

    def is_finite(self):
        return self._lift(lambda c: ~F.isnan(c) & (F.abs(c) != F.lit(float("inf"))))

    def is_infinite(self):
        return self._lift(lambda c: F.abs(c) == F.lit(float("inf")))

    def fill_null(self, value=None, strategy: str | None = None, limit: int | None = None):
        """Parity: expr.rb:1721 (value or forward/backward/min/max/mean/zero/one)."""
        if strategy is None:
            v = wrap_expr(value)
            return self._lift2(v, lambda a, b: F.coalesce(a, b))
        if strategy == "zero":
            return self.fill_null(0)
        if strategy == "one":
            return self.fill_null(1)
        if strategy == "forward":
            return self.forward_fill(limit)
        if strategy == "backward":
            return self.backward_fill(limit)
        if strategy in ("min", "max", "mean"):
            aggf = {"min": F.min, "max": F.max, "mean": F.avg}[strategy]

            def fn(df, part):
                c = self._fn(df, part)
                filler = aggf(c).over(_part_window(part or []))
                return F.coalesce(c, filler)

            return Expr(fn, name=self._name, needs_order=self._needs_order)
        raise ValueError(f"unknown fill_null strategy {strategy!r}")

    def fill_nan(self, value):
        v = wrap_expr(value)
        return self._lift2(v, lambda a, b: F.when(F.isnan(a), b).otherwise(a))

    def _fill_dir(self, limit, backward: bool):
        def f(c, w):
            if backward:
                if limit is not None:
                    w = w.rowsBetween(0, limit)
                else:
                    w = w.rowsBetween(0, Window.unboundedFollowing)
                return F.coalesce(c, F.first(c, ignorenulls=True).over(w))
            if limit is not None:
                w = w.rowsBetween(-limit, 0)
            else:
                w = w.rowsBetween(Window.unboundedPreceding, 0)
            return F.coalesce(c, F.last(c, ignorenulls=True).over(w))

        e = self._ordered(f, order_only=True)
        if (not self._needs_order
                and not self._scrambles_order and self._agg_list_fn is None
                and self._multi_fn is None and self._frame_fn is None
                and self._agg_pre_fn is None):
            # round-9: UNGROUPED unbounded fills bound a KEYLESS window
            # (one task).  Two-pass chunk prefix + O(chunks) carry instead
            # (row_index.attach_global_fill_multi); grouped over(keys)
            # keeps the partitioned window.  Batch metadata (round-10)
            # lets every same-frame fill-family binding — and binary
            # compositions — share ONE chunk exchange.  LIMITED fills
            # (late round-10) ride the same attach with a "ff:k"/"bf:k"
            # kind — their old route was a keyless BOUNDED-frame window,
            # still one task for the whole frame.
            inner = self
            kind = "bf" if backward else "ff"
            if limit is not None:
                kind = f"{kind}:{int(limit)}"
            e._global_ordinal_fn = _fill_batch_gfn({
                "items": [(lambda d: inner._fn(d, None), kind)],
                "finish": lambda cols, _sdf: cols[0],
                "post": []})
        return e

    def forward_fill(self, limit: int | None = None):
        return self._fill_dir(limit, backward=False)

    def backward_fill(self, limit: int | None = None):
        return self._fill_dir(limit, backward=True)

    def shuffle(self, seed: int | None = None):
        """expr.rb:6301 — deterministic-with-seed permutation via the ordered
        remap (collect → F.shuffle(seed) → positional re-pick)."""

        def fn(df, part):
            c = self._fn(df, part)
            both = Window.partitionBy(*(part or [])).orderBy(ROW_IDX).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing)
            # pair each value with a seed-deterministic pseudo-random key,
            # sort the collected pairs by key, and pick by the row's own
            # ordinal — a permutation that leaves frame row order intact
            # (F.shuffle re-rolls per row; ordering the positional window by
            # the random key would leak the sort into the output order)
            rnd = (F.xxhash64(F.col(ROW_IDX), F.lit(seed)) if seed is not None
                   else F.xxhash64((F.rand() * 1e18).cast("long")))
            pairs = F.array_sort(
                F.collect_list(F.struct(rnd.alias("h"), c.alias("v"))).over(both))
            pos = F.row_number().over(Window.partitionBy(*(part or [])).orderBy(ROW_IDX))
            return F.element_at(pairs, pos)["v"]

        e = Expr(fn, name=self._name, needs_order=True)
        inner = self

        def gfn(sdf):
            from .operators.row_index import attach_global_shuffle

            tmp = _next_gord_name()
            return attach_global_shuffle(
                sdf, lambda df: inner._fn(df, None), seed, tmp), tmp

        e._global_ordinal_fn = gfn
        e._needs_dense_index = True  # hash-permutes ROW_IDX values 0..n-1
        inner._compose_arr_route(e, F.shuffle)

        def remap(sdf, key_exprs):
            from .operators.row_index import attach_grouped_rank_zip

            tmp = _next_gord_name()
            rk = (F.xxhash64(F.col(ROW_IDX), F.lit(seed)) if seed is not None
                  else (F.rand() * 1e18).cast("long"))
            return attach_grouped_rank_zip(
                sdf, lambda df: inner._fn(df, None),
                lambda df: [ke._fn(df, None) for ke in key_exprs],
                tmp, lambda _df: [rk.asc(), F.col(ROW_IDX).asc()]), tmp

        e._grouped_remap_fn = remap
        return e

    def interpolate(self, method: str = "linear"):
        """Fill nulls by interpolation between neighbours (expr.rb:3871).

        Pure window math: previous/next non-null value + their row positions
        from two directional windows; leading/trailing nulls stay null
        (polars semantics).  No UDF, one pass over the ordered window.
        """

        def f(c, w):
            # per-partition ordinal, not the global row index: under
            # .over(keys) polars interpolates against positions WITHIN the
            # group (rows of other groups don't widen the gap)
            rn = F.row_number().over(w).cast("double")
            wp = w.rowsBetween(Window.unboundedPreceding, 0)
            wf = w.rowsBetween(0, Window.unboundedFollowing)
            pv = F.last(c, ignorenulls=True).over(wp).cast("double")
            pr = F.last(F.when(c.isNotNull(), rn), ignorenulls=True).over(wp)
            nv = F.first(c, ignorenulls=True).over(wf).cast("double")
            nr = F.first(F.when(c.isNotNull(), rn), ignorenulls=True).over(wf)
            if method == "nearest":
                filled = F.when((rn - pr) <= (nr - rn), pv).otherwise(nv)
            else:
                filled = pv + (nv - pv) * (rn - pr) / (nr - pr)
            return F.when(c.isNotNull(), c.cast("double")).otherwise(
                F.when(pv.isNotNull() & nv.isNotNull(), filled))

        e = self._ordered(f, order_only=True)
        if (method in ("linear", "nearest") and not self._needs_order
                and not self._scrambles_order and self._agg_list_fn is None
                and self._multi_fn is None and self._frame_fn is None
                and self._agg_pre_fn is None):
            # round-9: UNGROUPED interpolate bound a KEYLESS window (one
            # task).  One chunk exchange + two O(chunks) struct-extreme
            # carries instead (row_index.attach_global_fill_multi);
            # grouped over(keys) keeps the partitioned windows.  Batch
            # metadata (round-10): same-frame fill-family bindings and
            # binary compositions share one chunk exchange.
            inner = self
            e._global_ordinal_fn = _fill_batch_gfn({
                "items": [(lambda d: inner._fn(d, None), method)],
                "finish": lambda cols, _sdf: cols[0],
                "post": []})
            e._needs_dense_index = True
        return e

    # -- math (expr.rb — line refs in SURVEY §2.8) ------------------------------
    def abs(self):
        out = self._lift(F.abs)
        if self._np_prog is not None:
            out._np_prog = ("un", "abs", self._np_prog)
        return out

    def sqrt(self):
        return self._lift(F.sqrt)

    def cbrt(self):
        return self._lift(F.cbrt)

    def exp(self):
        return self._lift(F.exp)

    @staticmethod
    def _log_domain(c: Column, logged: Column, lower: float = 0.0) -> Column:
        # polars log family: below the domain → NaN, at the boundary → -inf
        # (expr.rb truediv doctest shows log2(0) = -inf, log2(-1) = NaN);
        # Spark's log/log10/log1p return null there instead.
        return (F.when(c < F.lit(lower), F.lit(float("nan")))
                 .when(c == F.lit(lower), F.lit(float("-inf")))
                 .otherwise(logged))

    def log(self, base: float = math.e):
        return self._lift(lambda c: Expr._log_domain(c, F.log(float(base), c)))

    def log10(self):
        return self._lift(lambda c: Expr._log_domain(c, F.log10(c)))

    def log1p(self):
        return self._lift(lambda c: Expr._log_domain(c, F.log1p(c), lower=-1.0))

    def floor(self):
        # polars floor/ceil keep the input dtype (expr.rb doctests: f64 in,
        # f64 out); Spark's return LONG — cast back via an analysis probe
        return self._lift_ctx(lambda c, df, part: F.floor(c).cast(
            self._probe_dtype(df, c)))

    def ceil(self):
        return self._lift_ctx(lambda c, df, part: F.ceil(c).cast(
            self._probe_dtype(df, c)))

    def round(self, decimals: int = 0):
        return self._lift(lambda c: F.round(c, decimals))

    def sign(self):
        # polars 0.41 sign is ALWAYS Int64, even for float input
        # (expr.rb sign doctest: f64 column → i64 signs); NaN → null
        # (no NaN in i64 — Spark's NaN→long cast would silently give 0)
        return self._lift(lambda c: F.when(
            ~F.isnan(c.cast("double")), F.signum(c).cast("long")))

    def sin(self):
        return self._lift(F.sin)

    def cos(self):
        return self._lift(F.cos)

    def tan(self):
        return self._lift(F.tan)

    def arcsin(self):
        return self._lift(F.asin)

    def arccos(self):
        return self._lift(F.acos)

    def arctan(self):
        return self._lift(F.atan)

    def sinh(self):
        return self._lift(F.sinh)

    def cosh(self):
        return self._lift(F.cosh)

    def tanh(self):
        return self._lift(F.tanh)

    def arcsinh(self):
        # native JVM fns carry polars' domain edges (atanh(1)=inf,
        # acosh(.5)=NaN) — the log/sqrt identities nulled them (r11)
        return self._lift(F.asinh)

    def arccosh(self):
        return self._lift(F.acosh)

    def arctanh(self):
        return self._lift(F.atanh)

    def degrees(self):
        return self._lift(F.degrees)

    def radians(self):
        return self._lift(F.radians)

    def clip(self, lower=None, upper=None):
        # greatest/least SKIP nulls (greatest(null, 0) = 0) — polars keeps
        # null values null; gate on the value's own nullity
        e = self
        if lower is not None:
            e = e._lift2(wrap_expr(lower),
                         lambda a, b: F.when(a.isNotNull(), F.greatest(a, b)))
        if upper is not None:
            e = e._lift2(wrap_expr(upper),
                         lambda a, b: F.when(a.isNotNull(), F.least(a, b)))
        return e

    def clip_min(self, v):
        return self.clip(lower=v)

    def clip_max(self, v):
        return self.clip(upper=v)

    def pow(self, o):
        return self.__pow__(o)

    def mod(self, o):
        return self.__mod__(o)

    def floordiv(self, o):
        return self.__floordiv__(o)

    def neg(self):
        return self.__neg__()

    def is_between(self, lower, upper, closed: str = "both"):
        lo, hi = wrap_expr(lower), wrap_expr(upper)
        ops = {
            "both": lambda c, a, b: (c >= a) & (c <= b),
            "left": lambda c, a, b: (c >= a) & (c < b),
            "right": lambda c, a, b: (c > a) & (c <= b),
            "none": lambda c, a, b: (c > a) & (c < b),
        }[closed]
        return Expr(
            lambda df, part: ops(self._fn(df, part), lo._fn(df, part), hi._fn(df, part)),
            name=self._name, is_agg=self._is_agg, needs_order=self._needs_order,
        )

    def is_in(self, other):
        if isinstance(other, str):
            # a string names a (list) COLUMN (expr.rb is_in doctest:
            # col("member").is_in("sets")), not a literal
            other = col(other)
        if isinstance(other, Expr):
            # column-vs-column membership → array_contains
            return other._lift2(self, lambda arr, v: F.array_contains(arr, v))
        return self._lift(lambda c: c.isin(list(other)))

    def hash(self, seed: int = 0, seed_1: int | None = None,
             seed_2: int | None = None, seed_3: int | None = None):
        # Engine-defined hash (values differ from the reference — SURVEY
        # §2.8); the reference's 4 per-lane seeds fold into one
        seed = (seed ^ (seed_1 or 0) ^ (seed_2 or 0) ^ (seed_3 or 0))
        return self._lift(lambda c: F.xxhash64(c, F.lit(seed)))

    def repeat_by(self, n):
        # expr.rb:3644 — a string names the count COLUMN, not a literal
        ne = as_expr(n)
        return self._lift2(ne, lambda c, k: F.array_repeat(c, k.cast("int")))

    def shrink_dtype(self):
        """Cast to the smallest dtype fitting the column's extrema
        (expr.rb:6744 doctest: ints shrink by min/max, f64 → f32, str/bool
        unchanged).  Needs a bind-time extrema probe — one map-side-combined
        min/max agg (cheap, one row back to the driver)."""

        def fn(c, df, part):
            from pyspark.sql import types as T

            dt = _probe_type(df, c)
            if isinstance(dt, T.DoubleType):
                return c.cast("float")
            if not isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType,
                                   T.LongType)):
                return c
            row = df.select(F.min(c).alias("lo"), F.max(c).alias("hi")).head()
            lo = row["lo"] if row is not None else None
            hi = row["hi"] if row is not None else None
            if lo is None or hi is None:
                return c.cast("tinyint")
            for t, bound in (("tinyint", 1 << 7), ("smallint", 1 << 15),
                             ("int", 1 << 31)):
                if -bound <= lo and hi < bound:
                    return c.cast(t)
            return c

        return self._lift_ctx(fn)

    # -- aggregates (expr.rb lines in SURVEY §2.4) -------------------------------
    def sum(self):
        # polars: sum over booleans counts trues (u32); Spark's sum rejects
        # BOOLEAN outright — probe and cast.  An EMPTY / all-null group of a
        # NUMERIC column sums to 0, not null (series_test.rb:395
        # `Series.new([]).sum == 0`; found by tools/fuzz_diff seed 922) —
        # coalesce applied post-window; duration/interval sums keep null
        # (0 is not an interval).
        def aggf(c, df):
            from pyspark.sql import types as T

            t = self._probe_dtype(df, c)
            # NullType included: `Series.new([]).sum == 0` is dtype Null
            self._sum_numeric = isinstance(
                t, (T.NumericType, T.BooleanType, T.NullType))
            if isinstance(t, T.BooleanType):
                return F.sum(c.cast("long"))
            return F.sum(c)

        def post(c):
            # routed reductions skip aggf (no probe ran): the array sum
            # already yields 0 on empty, so the coalesce is a no-op there
            return (F.coalesce(c, F.lit(0))
                    if getattr(self, "_sum_numeric", True) else c)

        return self._agg_ctx(aggf, "sum", post=post)

    def mean(self):
        # polars: mean over booleans = fraction of trues (f64)
        def aggf(c, df):
            from pyspark.sql import types as T

            if isinstance(self._probe_dtype(df, c), T.BooleanType):
                return F.avg(c.cast("int"))
            return F.avg(c)

        return self._agg_ctx(aggf, "mean")

    def median(self):
        def median(c):  # noqa: shadows the builtin name for _op_label
            return F.median(c)

        median._ungrouped_q = (0.5, "linear")
        return self._agg(median)

    def min(self):
        return self._minmax_agg(True)

    def max(self):
        return self._minmax_agg(False)

    def _minmax_agg(self, want_min: bool):
        """polars min/max IGNORE NaN (expr.rb max doctest: max of
        [-1.0, nan, 1.0] is 1.0) — Spark's treat NaN as greatest, so float
        columns null out NaN first (nanvl); other dtypes use the plain
        aggregate."""
        base = F.min if want_min else F.max
        arr_base = F.array_min if want_min else F.array_max

        def aggf(c, df):
            from pyspark.sql import types as T

            if isinstance(self._probe_dtype(df, c),
                          (T.FloatType, T.DoubleType)):
                return base(F.nanvl(c, F.lit(None).cast("double")))
            return base(c)

        def arr_red(arr, df):
            from pyspark.sql import types as T

            try:
                el = _probe_type(df, arr).elementType
            except Exception:
                el = None
            if isinstance(el, (T.FloatType, T.DoubleType)):
                return arr_base(F.filter(arr, lambda x: ~F.isnan(x)))
            return arr_base(arr)

        aggf._arr_reduce_fn = arr_red
        label = "min" if want_min else "max"
        out = self._agg_ctx(aggf, label)
        if self._np_prog == ("elem",) and label in _CAGG_KERNEL_LABELS:
            # keep the cumulative_eval prefix-kernel breadcrumb _agg sets
            # for plain aggregates (the cagg executor shares the NaN-skip)
            out._np_prog = ("cagg", label)
        return out

    def product(self):
        # polars: product of an integer column stays integer; F.product
        # always returns double — probe and cast back (post-window: a cast
        # cannot sit between the aggregate and .over).  Empty/all-null
        # product is 1, matching polars' multiplicative identity.
        def aggf(c, df):
            from pyspark.sql import types as T

            dt = self._probe_dtype(df, c)
            if isinstance(dt, T.BooleanType):
                # polars: product of bools is i64 over 0/1 (data_frame.rb
                # product doctest)
                self._prod_int = True
                return F.product(c.cast("long"))
            self._prod_int = isinstance(
                dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType))
            return F.product(c)

        def post(c):
            out = F.coalesce(c, F.lit(1.0))
            return out.cast("long") if getattr(self, "_prod_int", False) \
                else out

        def arr_red(arr, df):
            from pyspark.sql import types as T

            self._prod_int = isinstance(
                _probe_type(df, arr).elementType,
                (T.ByteType, T.ShortType, T.IntegerType, T.LongType))
            nn = F.filter(arr, lambda x: x.isNotNull())
            return F.aggregate(nn, F.lit(1.0),
                               lambda a, x: a * x.cast("double"))

        aggf._arr_reduce_fn = arr_red
        return self._agg_ctx(aggf, "product", post=post)

    def std(self, ddof: int = 1):
        return self._agg(F.stddev_samp if ddof == 1 else F.stddev_pop)

    def var(self, ddof: int = 1):
        return self._agg(F.var_samp if ddof == 1 else F.var_pop)

    def count(self):
        return self._agg(F.count)

    def len(self):
        def len_(c):
            return F.count(F.lit(1))

        # route: polars len counts ALL elements (incl. nulls) of the
        # possibly filtered/transformed series
        len_._arr_reduce_fn = lambda arr, df: F.size(arr).cast("long")
        e = self._agg(len_, name=self._name or "len")
        if self._np_prog == ("elem",):
            # the custom reducer is size().cast(long) — the kernel's "len"
            # emits int64 to match (unlike _arr_reduce's int32 "count")
            e._np_prog = ("cagg", "len")
        return e

    def n_unique(self):
        def fn(df, part):
            if _EVAL_ARRAY_STACK or (bind_context.grouped_agg
                                     and self._agg_list_fn is not None):
                # transformed-array context: distinct size over the array
                # (array_distinct keeps one null — polars counts it)
                arr = (_eval_vals(self, _EVAL_ARRAY_STACK[-1], df)
                       if _EVAL_ARRAY_STACK
                       else self._agg_list_fn(
                           _ordered_collect(self._agg_list_base, df)))
                return F.size(F.array_distinct(arr)).cast("long")
            # polars counts null as a distinct value; countDistinct /
            # collect_set exclude it — add a has-null flag
            c = self._fn(df, None)
            nullflag = F.max(F.when(c.isNull(), 1).otherwise(0))
            if part is None and bind_context.rolling_window is not None:
                w = bind_context.rolling_window
                return (F.size(F.collect_set(c).over(w))
                        + nullflag.over(w))
            if part is not None:
                # Spark rejects count(DISTINCT) over a window — size of the
                # per-partition collect_set is the same count
                w = _part_window(part)
                return (F.size(F.collect_set(c).over(w))
                        + nullflag.over(w))
            return F.countDistinct(c) + nullflag

        out = Expr(fn, name=self._name, is_agg=True,
                   needs_order=self._needs_order)
        if self._agg_list_fn is not None and self._staged_win_fn is not None:
            # giant-group reroute (round-6): array_distinct over a hot
            # group's array is O(g²) in one task — stage the inner
            # windowed, countDistinct the helper
            ssw = self._staged_win_fn

            def sagg(sdf, key_cols):
                sdf2, h = ssw(sdf, key_cols)
                c = F.col(h)
                return sdf2, (F.countDistinct(c)
                              + F.max(F.when(c.isNull(), 1).otherwise(0)))

            out._staged_agg_fn = sagg
        return out

    def approx_n_unique(self):
        def approx_count_distinct(c):
            return F.approx_count_distinct(c)

        approx_count_distinct._arr_reduce_fn = lambda arr, df: F.size(
            F.array_distinct(F.filter(arr, lambda x: x.isNotNull()))
        ).cast("long")
        # the array route is EXACT, the plain form is HLL-approximate —
        # a staged reroute would change composed-inner results
        approx_count_distinct._staged_unsafe = True
        return self._agg(approx_count_distinct)

    def null_count(self):
        def aggf(c):
            return F.count(F.when(c.isNull(), 1))

        aggf._arr_reduce_fn = lambda arr, df: F.size(
            F.filter(arr, lambda x: x.isNull())).cast("long")
        return self._agg(aggf)

    def first(self):
        # NOT F.first(c): Spark's First merges partial buffers in shuffle-
        # fetch order — deterministic on local[N], arbitrary on a cluster.
        # min_by over the hidden row index pins polars' "first row of the
        # group in frame order" at any executor count.
        def first(c):
            return F.min_by(c, F.col(ROW_IDX))

        e = self._agg(first)
        e._needs_order = True
        return e

    def last(self):
        def last(c):
            return F.max_by(c, F.col(ROW_IDX))

        e = self._agg(last)
        e._needs_order = True
        return e

    def quantile(self, q: float, interpolation: str = "nearest"):
        """Parity: expr.rb:2473. linear → percentile_cont; nearest is polars'
        default (exact inverted-CDF with rounding to the nearer rank)."""
        if interpolation not in ("linear", "lower", "higher", "midpoint",
                                 "nearest"):
            raise ValueError(f"unknown interpolation {interpolation!r}")

        def _from_sorted(arr):
            # shared indexing over a SORTED non-null array (round-5: also
            # the reducer for transformed-array/agg-of-agg contexts)
            return _q_from_sorted(arr, q, interpolation)

        def _arr_q(arr, df):
            nn = F.array_sort(F.filter(arr, lambda x: x.isNotNull()))
            # f64 like polars: quantile returns Float64 for every
            # interpolation, including the element-gather ones
            return F.when(F.size(nn) > 0, _from_sorted(nn)).cast("double")

        if interpolation == "linear":
            def aggf(c):
                return F.percentile(c, F.lit(q))
        else:
            def aggf(c):
                return _from_sorted(
                    F.array_sort(F.collect_list(c))).cast("double")

        aggf._arr_reduce_fn = _arr_q
        aggf._ungrouped_q = (q, interpolation)
        out = self._agg(aggf)
        # rolling-kernel breadcrumb (round-9): the meta label is the
        # closure's name, so the sliding-kernel classifier reads the
        # parameters from here (group_by.RollingGroupBy._sliding_plan)
        out._rolling_kernel_spec = ("quantile", float(q), interpolation)
        return out

    def mode(self):
        """expr.rb:1178 — ALL most-occurring values (can be several).

        Agg/window context: sorted list of modes built from the collected
        group via JVM HOFs (O(d²) in the group's distinct count — groups are
        bounded by definition).  Sole ungrouped select: distributed
        groupBy-count → filter max → one row per mode (no collect)."""
        inner = self

        def _modes_of(arr):
            dis = F.array_distinct(arr)
            cnts = F.transform(dis, lambda x: F.size(F.filter(arr, lambda y: y == x)))
            mx = F.array_max(cnts)
            return F.array_sort(F.filter(
                F.zip_with(dis, cnts, lambda v, n: F.when(n == mx, v)),
                lambda v: v.isNotNull()))

        def aggf(c):
            return _modes_of(F.collect_list(c))

        # transformed-array/agg-of-agg contexts reduce the array directly
        aggf._arr_reduce_fn = lambda arr, df: _modes_of(
            F.filter(arr, lambda x: x.isNotNull()))
        e = self._agg(aggf)

        def frame_fn(lf, out_name):
            from .frame import LazyFrame

            out_name = out_name or inner._name or "mode"
            df = lf._sdf
            counts = (df.groupBy(inner._fn(df, None).alias(out_name))
                      .agg(F.count(F.lit(1)).alias("__mc__")))
            mx = counts.agg(F.max("__mc__").alias("__mx__"))
            out = (counts.crossJoin(F.broadcast(mx))  # one-row scalar attach
                   .where(F.col("__mc__") == F.col("__mx__"))
                   .orderBy(out_name).select(out_name))
            return LazyFrame(out)

        if self._multi_fn is None:
            # the sole-select fast path reads inner._fn — a multi (pl.all())
            # expands per column first and binds each mode as a plain agg
            e._frame_fn = frame_fn
        return e

    def skew(self, bias: bool = True):
        # Spark skewness() is the biased (population) g1 — matches bias=true.
        if bias:
            return self._agg(F.skewness)

        def aggf(c):
            g1 = F.skewness(c)
            n = F.count(c).cast("double")
            return g1 * F.sqrt(n * (n - 1)) / (n - 2)

        return self._agg(aggf)

    def kurtosis(self, fisher: bool = True, bias: bool = True):
        # Spark kurtosis() = excess kurtosis g2 (fisher, biased).
        e = self._agg(F.kurtosis)
        if not fisher:
            e = e._lift(lambda c: c + 3)
        return e

    def entropy(self, base: float = 2, normalize: bool = True):
        # expr.rb:6637 defaults (base: 2, normalize: true); the Series form
        # overrides with (Math::E, false) — series.rb:1144
        def fn(df, part):
            nan = F.lit(float("nan"))
            routed = self._route_arr(df, bare=False)
            if routed is not None or part is None:
                # two-pass inside one agg: -sum(p*ln p) with p = x/sum(x);
                # collect-based to stay a single aggregate.  A routed array
                # (order-transformed inner / list.eval) drops nulls to
                # mirror collect_list.
                if routed is not None:
                    arr = F.transform(
                        F.filter(routed, lambda x: x.isNotNull()),
                        lambda x: x.cast("double"))
                else:
                    c = self._fn(df, None)
                    arr = F.collect_list(c.cast("double"))
                s = F.aggregate(arr, F.lit(0.0), lambda a, x: a + x)
                # negative x: ln(p) is NaN in polars — propagate, don't drop
                ent = F.aggregate(
                    arr, F.lit(0.0),
                    lambda a, x: a + F.when(x < 0, nan)
                    .when(x > 0, -(x / s) * F.log(x / s)).otherwise(F.lit(0.0)),
                )
                if not normalize:
                    ent = F.aggregate(
                        arr, F.lit(0.0),
                        lambda a, x: a + F.when(x < 0, nan)
                        .when(x > 0, -x * F.log(x)).otherwise(F.lit(0.0)),
                    )
                if base != math.e:
                    ent = ent / math.log(base)
                return ent
            # under over(): -sum(p ln p) = ln S - (sum x ln x)/S, two plain
            # windowed sums combined arithmetically OUTSIDE the windows
            # (round-3; expr.rb:6637 allows any agg under over)
            w = Window.partitionBy(*part)
            cd = self._fn(df, None).cast("double")
            s = F.sum(cd).over(w)
            # cd < 0 → NaN (polars: ln of a negative p is NaN and the sum
            # propagates it); only cd == 0 zero-fills (0·ln 0 = 0)
            t = F.sum(F.when(cd < 0, nan)
                      .when(cd > 0, cd * F.log(cd)).otherwise(F.lit(0.0))
                      ).over(w)
            ent = (F.log(s) - t / s) if normalize else -t
            if base != math.e:
                ent = ent / math.log(base)
            return ent

        return Expr(fn, name=self._name, is_agg=True,
                    needs_order=(self._needs_order
                                 or self._agg_list_fn is not None))

    def any(self, drop_nulls: bool = True):
        def aggf(c):
            return (F.max(F.coalesce(c, F.lit(False))) if drop_nulls
                    else F.max(c))

        aggf._arr_reduce_fn = lambda arr, df: F.array_max(
            F.transform(arr, lambda x: F.coalesce(x, F.lit(False)))
            if drop_nulls else arr)
        return self._agg(aggf)

    def all(self, drop_nulls: bool = True):
        def aggf(c):
            return (F.min(F.coalesce(c, F.lit(True))) if drop_nulls
                    else F.min(c))

        aggf._arr_reduce_fn = lambda arr, df: F.array_min(
            F.transform(arr, lambda x: F.coalesce(x, F.lit(True)))
            if drop_nulls else arr)
        return self._agg(aggf)

    def nan_max(self):
        def aggf(c):
            return F.when(
                F.max(F.when(F.isnan(c), 1).otherwise(0)) == 1,
                F.lit(float("nan"))).otherwise(F.max(c))

        def arr_red(arr, df):
            nn = F.filter(arr, lambda x: x.isNotNull())
            return F.when(
                F.exists(nn, lambda x: F.isnan(x)), F.lit(float("nan"))
            ).otherwise(F.array_max(nn))

        aggf._arr_reduce_fn = arr_red
        return self._agg(aggf)

    def nan_min(self):
        def aggf(c):
            return F.when(
                F.max(F.when(F.isnan(c), 1).otherwise(0)) == 1,
                F.lit(float("nan"))).otherwise(F.min(c))

        def arr_red(arr, df):
            nn = F.filter(arr, lambda x: x.isNotNull())
            return F.when(
                F.exists(nn, lambda x: F.isnan(x)), F.lit(float("nan"))
            ).otherwise(F.array_min(nn))

        aggf._arr_reduce_fn = arr_red
        return self._agg(aggf)

    def arg_min(self):
        return self._arg_extreme("min")

    def arg_max(self):
        return self._arg_extreme("max")

    def _arg_extreme(self, kind: str):
        """Position of the extreme value (expr.rb:1443 arg_max / arg_min).

        Positions are frame-local ungrouped and GROUP-LOCAL under over()/
        agg (polars evaluates per sub-series); first occurrence wins ties
        deterministically.  Ungrouped = one min/max over a (v, i) struct
        (no array); over() = one collected window + HOF; bare inside agg =
        a row_number pre-stage sharing the groupBy exchange."""
        if self._multi_fn is not None:
            mf = self._multi_fn
            return Expr(multi_fn=lambda df: [e._arg_extreme(kind)
                                             for e in mf(df)])
        inner = self

        def fn(df, part):
            arr = inner._route_arr(df)
            if arr is not None:
                return _arr_arg_extreme(arr, kind)
            c = inner._fn(df, None)
            if part is not None:
                # over(): group-local position — ONE collected window + HOF
                pairs = F.array_sort(F.collect_list(
                    F.struct(F.col(ROW_IDX).alias("i"), c.alias("v"))).over(
                        _part_window(part)))
                return _arr_arg_extreme(
                    F.transform(pairs, lambda p: p["v"]), kind)
            i = F.col(ROW_IDX)
            if kind == "min":
                vs = F.when(c.isNotNull(),
                            F.struct(c.alias("v"), i.alias("i")))
                return F.min(vs)["i"].cast("long")
            vs = F.when(c.isNotNull(),
                        F.struct(c.alias("v"), (-i).alias("ni")))
            return (-F.max(vs)["ni"]).cast("long")

        e = Expr(fn, name=self._name, is_agg=True, needs_order=True)
        # the ungrouped path reads ROW_IDX values as frame positions
        e._needs_dense_index = True
        if self._agg_list_fn is None and not self._needs_order \
                and not self._scrambles_order:
            # bare inside group_by().agg(): group-local ordinal pre-stage
            # (row_number over the SAME keys — one logical exchange), then
            # a plain min/max struct aggregate — no per-group arrays
            def pre(sdf, key_cols):
                pos = _next_gord_name()
                w = Window.partitionBy(*key_cols).orderBy(ROW_IDX)
                sdf2 = sdf.withColumn(pos, F.row_number().over(w) - 1)
                c = inner._fn(sdf2, None)
                p = F.col(pos)
                if kind == "min":
                    vs = F.when(c.isNotNull(),
                                F.struct(c.alias("v"), p.alias("i")))
                    return sdf2, F.min(vs)["i"].cast("long")
                vs = F.when(c.isNotNull(),
                            F.struct(c.alias("v"), (-p).alias("ni")))
                return sdf2, (-F.max(vs)["ni"]).cast("long")

            e._agg_pre_fn = pre
        return e

    def implode(self):
        if self._multi_fn is not None:
            # expand FIRST: the flags set below (needs_order, the staged
            # gate) would be lost by _agg's late per-column re-expansion
            mf = self._multi_fn
            return Expr(multi_fn=lambda df: [e.implode() for e in mf(df)])._set_meta(
                "multi:implode", (self,))
        # NOT bare F.collect_list: it drops nulls (polars implode keeps
        # them) and its element order is shuffle-fetch order on a cluster.
        # Collect (row_idx, value) structs — structs survive null values —
        # and sort by the index.
        def implode(c):
            pairs = F.array_sort(F.collect_list(
                F.struct(F.col(ROW_IDX).alias("i"), c.alias("v"))))
            return F.transform(pairs, lambda p: p["v"])

        # transformed-array route: wrap the per-group array one level
        # (agg(col.shift(1).implode()) → list-of-list, polars semantics)
        implode._arr_reduce_fn = lambda arr, df: F.array(arr)
        # the plain form returns a FLAT list — staged reroute would lose
        # the extra nesting the array route adds for transformed inners
        implode._staged_unsafe = True
        e = self._agg(implode)
        e._needs_order = True
        return e

    def agg_groups(self):
        def fn(df, part):
            # array_sort: collect_list order is shuffle-fetch order on a
            # cluster; polars yields indices in group row order
            out = F.array_sort(F.collect_list(F.col(ROW_IDX)))
            if part is not None:
                out = out.over(_part_window(part))
            return out

        e = Expr(fn, name=self._name, is_agg=True, needs_order=True)
        # collects the index VALUES as global frame positions — the
        # group-local ordinal substitute is not equivalent, and a gapped
        # kept index is stale (round-5: dense re-rank)
        e._needs_global_index = True
        e._needs_dense_index = True
        return e

    def dot(self, other):
        o = wrap_expr(other)
        return self._lift2(o, lambda a, b: a * b)._agg(F.sum)

    # -- uniqueness flags (expr.rb:2301-2352) -------------------------------------
    def _distinct_flag(self, window_fn, arr_elem_fn,
                       needs_order: bool = False):
        """Uniqueness-flag family: value-partitioned window ungrouped; the
        window ALSO partitions by the over()/agg keys (polars evaluates per
        sub-series — uniqueness is WITHIN the group, not global).  Composed
        over an order-transformed inner (shift(1).is_unique()) it becomes a
        null-safe-count HOF over the per-group array."""
        if self._multi_fn is not None:
            mf = self._multi_fn
            return Expr(multi_fn=lambda df: [
                e._distinct_flag(window_fn, arr_elem_fn, needs_order)
                for e in mf(df)])
        inner = self

        def fn(df, part):
            if _EVAL_ARRAY_STACK and _ELEMENT_IDX_STACK:
                # list.eval: per-element pick from the full-array transform
                mapped = _eval_vals(inner, _EVAL_ARRAY_STACK[-1], df)
                return F.element_at(
                    arr_elem_fn(mapped), _ELEMENT_IDX_STACK[-1] + 1)
            c = inner._fn(df, part)
            return window_fn(c, list(part) if part is not None else [], df)

        e = Expr(fn, name=self._name, needs_order=needs_order)
        e._scrambles_order = True  # value-partitioned WindowExec output
        if self._agg_list_fn is not None:
            slf, base = self._agg_list_fn, self._agg_list_base
            e._agg_list_fn = lambda arr, _s=slf: arr_elem_fn(_s(arr))
            e._agg_list_base = base
            e._needs_order = True  # the route collects by ROW_IDX
        src = _staged_input_fn(inner)
        if src is not None:
            # staged windowed binding (giant-group reroute): materialize
            # the inner helper, then the value-partitioned flag window
            # over it — O(g log g) per group instead of the O(g²) HOF
            def staged(sdf, key_cols, _src=src):
                sdf2, c = _src(sdf, key_cols)
                tmp = _next_gord_name()
                return sdf2.withColumn(
                    tmp, window_fn(c, list(key_cols), sdf2)), tmp

            e._staged_win_fn = staged
        return e

    @staticmethod
    def _value_count_win(c, part, df):
        """count(*) over the (part..., value) partition — the flag family's
        shared building block.  When the frame already carries the hidden
        row index, the window ALSO orders by it with an explicit
        unbounded-both frame (same count, round-12, guide §2.4): its
        required child ordering becomes (part, c, idx) — IDENTICAL to the
        row_number flag windows' — so every flag window in a query stacks
        over ONE in-partition sort instead of each orderless count spec
        forcing its own (part, c) re-sort between them (q147: 6 Sort nodes
        → 4).  Without the index the orderless spec is kept — the flag
        must not force a row-index materialization where none exists."""
        w = Window.partitionBy(*part, c)
        if df is not None and ROW_IDX in df.columns:
            w = w.orderBy(ROW_IDX).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing)
        return F.count(F.lit(1)).over(w)

    def is_unique(self):
        return self._distinct_flag(
            lambda c, part, df: Expr._value_count_win(c, part, df) == 1,
            lambda arr: F.transform(arr, lambda x: F.size(
                F.filter(arr, lambda y: y.eqNullSafe(x))) == 1))

    def is_duplicated(self):
        return self._distinct_flag(
            lambda c, part, df: Expr._value_count_win(c, part, df) > 1,
            lambda arr: F.transform(arr, lambda x: F.size(
                F.filter(arr, lambda y: y.eqNullSafe(x))) > 1))

    def is_first_distinct(self):
        return self._distinct_flag(
            lambda c, part, df: F.row_number().over(
                Window.partitionBy(*part, c).orderBy(ROW_IDX)) == 1,
            lambda arr: F.transform(arr, lambda x, i: F.size(
                F.filter(F.slice(arr, 1, i),
                         lambda y: y.eqNullSafe(x))) == 0),
            needs_order=True)

    def is_last_distinct(self):
        # last-by-index == row_number under the ASCENDING index order
        # equals the value-partition's row count (round-12, guide §2.4):
        # both windows' sort requirements collapse onto the ONE
        # (part, c, idx) in-partition sort that is_first_distinct already
        # needs; the former orderBy(idx DESC) spec demanded its own
        # full-width re-sort between window groups.
        return self._distinct_flag(
            lambda c, part, df: F.row_number().over(
                Window.partitionBy(*part, c).orderBy(ROW_IDX))
            == Expr._value_count_win(c, part, df),
            lambda arr: F.transform(arr, lambda x, i: F.size(
                F.filter(F.slice(arr, i + 2, F.size(arr)),
                         lambda y: y.eqNullSafe(x))) == 0),
            needs_order=True)

    is_first = is_first_distinct
    is_last = is_last_distinct

    def unique(self, maintain_order: bool = False):
        def collect_set(c):
            return F.collect_set(c)

        # transformed-array route: distinct in first-appearance order
        # (keeps the one null a shift introduces — polars unique keeps null)
        collect_set._arr_reduce_fn = lambda arr, df: F.array_distinct(arr)
        # plain collect_set is unordered AND null-dropping — the staged
        # reroute must not substitute it for the ordered array route
        collect_set._staged_unsafe = True
        e = self._agg(collect_set)
        inner = self

        def frame_fn(lf, out_name):
            # sole select flattens to distinct ROWS (expr.rb:2158 doctest)
            # — one hash distinct, null kept; maintain_order = first
            # appearance (dense-ranked min index, no global window)
            out_name = out_name or inner._name or "unique"
            proj = lf.select(inner.alias(out_name))
            return proj.unique(maintain_order=maintain_order)

        e._frame_fn = frame_fn
        return e

    def unique_counts(self):
        """Count per unique value, in order of first appearance
        (expr.rb:6544 doctest: ["a","b","b","c","c","c"] → [1, 2, 3]).

        Row-count-changing → sole-select-expression rule (like
        value_counts).  Scale: one hash groupBy carrying min(row_idx) as the
        appearance key — no window, no per-row fan-out."""
        inner = self

        def frame_fn(lf, out_name):
            from .frame import LazyFrame
            from .operators.row_index import with_row_index

            out_name = out_name or inner._name or "unique_counts"
            df = lf._sdf
            base = with_row_index(df.select(inner._fn(df, None).alias("__v__")),
                                  "__i__")
            cnt = (base.groupBy("__v__")
                   .agg(F.count(F.lit(1)).alias("__n__"),
                        F.min("__i__").alias("__first__")))
            out = cnt.select(F.col("__n__").cast("long").alias(out_name),
                             F.col("__first__"))
            return LazyFrame(out).sort("__first__").drop("__first__")

        def fn(df, part):
            # agg / list.eval: per-group count list via null-safe HOFs over
            # the (possibly order-transformed) collected array
            arr = inner._route_arr(df)
            if arr is None:
                raise InvalidOperationError(
                    "unique_counts is row-count-changing: use it as the "
                    "sole select expression or inside group_by().agg()")
            dis = F.array_distinct(arr)
            return F.transform(dis, lambda d: F.size(
                F.filter(arr, lambda x: x.eqNullSafe(d))).cast("long"))

        e = Expr(fn, name=inner._name, is_agg=True, needs_order=True)
        e._frame_fn = frame_fn
        return e

    # -- ordinal / order-dependent ops --------------------------------------------
    def shift(self, n: int = 1, fill_value=None):
        fv = None if fill_value is None else wrap_expr(fill_value)

        def f(c, w):
            out = F.lag(c, n).over(w) if n >= 0 else F.lead(c, -n).over(w)
            if fv is not None:
                return F.coalesce(out, fv._fn(None, None))
            return out

        e = self._ordered(f, order_only=True)
        if (n != 0
                and (not self._needs_order
                     or self._global_ordinal_fn is not None)
                and not self._scrambles_order
                and self._agg_list_fn is None and self._multi_fn is None
                and self._frame_fn is None and self._agg_pre_fn is None):
            # round-9: UNGROUPED shift/lead otherwise bind a KEYLESS lag
            # window — one task for the whole frame.  The value at
            # position i-n is the min over the single-row frame
            # [i-n, i-n] (null source → empty window → null; NaN source →
            # NaN via the kernel's NaN masks), so the sliding kernel
            # hosts it chunked by the dense row index, task-parallel.
            # Non-numeric dtypes fall back to the window route; grouped
            # over(keys) keeps the partitioned streaming lag.
            inner = self
            if n in (1, -1) and inner._global_ordinal_fn is None:
                # round-11: shift(±1) rides the FILL batch ("lag"/"lead"
                # kinds — chunk-edge struct carry, exact at distance 1,
                # any dtype): one shared attach with the frame's other
                # fill-family bindings, no kernel stage, no Python
                # boundary
                def fin1(cols, sdf, _fv=fv):
                    if _fv is not None:
                        # coalesce fills interior nulls too — window-route
                        # parity (test_shift_ungrouped_kernel_attach)
                        return F.coalesce(cols[0], _fv._fn(None, None))
                    return cols[0]

                e._global_ordinal_fn = _fill_batch_gfn({
                    "items": [((lambda b, _in=inner: _in._fn(b, None)),
                               "lag" if n == 1 else "lead")],
                    "finish": fin1, "post": []})
                e._needs_dense_index = True
                if self._np_prog is not None and (
                        fill_value is None
                        or (isinstance(fill_value, (int, float))
                            and not isinstance(fill_value, bool))):
                    e._np_prog = ("shift", int(n), fill_value,
                                  self._np_prog)

                def arr_fn1(arr):
                    vacated = (F.lit(None) if fv is None
                               else fv._fn(None, None))

                    def shifted(a):
                        sz = F.size(a)

                        def elem(x, i):
                            src_pos = i - F.lit(n)
                            return F.when(
                                (src_pos >= 0) & (src_pos < sz),
                                F.element_at(a, src_pos + 1)
                            ).otherwise(vacated)

                        return F.transform(a, elem)

                    return _hof_let(arr, shifted)

                self._compose_arr_route(e, arr_fn1)
                return e

            def gfn(sdf):
                from .operators.rolling_kernel import \
                    attach_rolling_by_multi
                from .session import ROW_IDX as _RI

                # r11: a hook-bearing inner (shift-of-fill in pct_change
                # compositions) CHAINS its attach first — evaluating its
                # window fallback inside the kernel item would re-bind
                # the keyless one-task window the hook exists to avoid
                val, icol = inner, None
                ig = inner._global_ordinal_fn
                if ig is not None:
                    sdf, icol = ig(sdf)
                    val = col(icol)
                tmp = _next_gord_name()
                try:
                    if _RI not in sdf.columns:
                        raise ValueError("shift kernel: no row index")
                    sdf2 = attach_rolling_by_multi(
                        sdf, col(_RI), (), 0, "both",
                        [(val, "minraw", tmp)], row_frame=(n, -n))
                    if icol is not None:
                        sdf2 = sdf2.drop(icol)
                except ValueError:
                    # LATE ROUND-10: the non-numeric fallback was a
                    # KEYLESS lag window (one task).  A dense-row-index
                    # self-join shifts ANY dtype: the source row j lands
                    # at j+n, narrow (idx, value) rows on both sides,
                    # fully task-parallel.  The shuffle it costs is the
                    # same class as the kernel attach's; order restore
                    # rides the same deferred order-dirty contract.
                    t2 = _next_gord_name()
                    src = sdf.select(
                        (F.col(_RI) + F.lit(int(n))).cast("long")
                        .alias(_RI),
                        val._fn(sdf, None).alias(t2))
                    out2 = sdf.join(src, _RI, "left")
                    if icol is not None:
                        out2 = out2.drop(icol)
                    if fv is not None:
                        fin2 = _next_gord_name()
                        return out2.withColumn(fin2, F.coalesce(
                            F.col(t2), fv._fn(None, None))).drop(t2), fin2
                    return out2, t2
                if fv is not None:
                    fin = _next_gord_name()
                    return sdf2.withColumn(fin, F.coalesce(
                        F.col(tmp), fv._fn(None, None))).drop(tmp), fin
                return sdf2, tmp

            # round-10: SAME-FRAME lag-frame attaches (shift/diff/
            # pct_change with the same n) batch through ONE kernel shuffle
            # — each binding ran its own attach_rolling_by_multi before,
            # with a checkpoint between chained stages
            from .session import ROW_IDX as _RIB
            if inner._global_ordinal_fn is None:
                # batch merging evaluates "inner" directly — only safe for
                # plain (hook-free) inners; hooked inners keep the chained
                # gfn above as their own unit
                gfn._rolling_by_batch = {
                    "sig": ("__rkrow__",), "inner": inner,
                    "by_e": col(_RIB), "span": 0, "closed": "both",
                    "kind": "minraw", "keys": (), "row_frame": (n, -n),
                    "frame": ("row", n, -n),
                    "fin": (None if fv is None else
                            (lambda sdf, tmp, _fv=fv: F.coalesce(
                                F.col(tmp), _fv._fn(None, None)))),
                    "post": []}
            e._global_ordinal_fn = gfn
            e._needs_dense_index = True

        def arr_fn(arr):
            vacated = (F.lit(None) if fv is None else fv._fn(None, None))

            def shifted(a):
                sz = F.size(a)

                def elem(x, i):
                    src_pos = i - F.lit(n)
                    return F.when(
                        (src_pos >= 0) & (src_pos < sz),
                        F.element_at(a, src_pos + 1)).otherwise(vacated)

                return F.transform(a, elem)

            # let-bind arr: element_at references it per position, and the
            # inline subtree would re-evaluate per element (no HOF CSE)
            return _hof_let(arr, shifted)

        self._compose_arr_route(e, arr_fn)
        if self._np_prog is not None and (
                fill_value is None
                or (isinstance(fill_value, (int, float))
                    and not isinstance(fill_value, bool))):
            e._np_prog = ("shift", int(n), fill_value, self._np_prog)
        return e

    def shift_and_fill(self, periods, fill_value):
        # expr.rb:1656 — (periods, fill_value), positional
        return self.shift(periods, fill_value=fill_value)

    def _attach_lag_arith_kernel(self, e, n: int, arith) -> None:
        """Hook an UNGROUPED lag-arithmetic binding (diff/pct_change) onto
        the sliding kernel: the lagged value is the min over the
        single-row frame [i-n, i-n] (same as shift's attach — round-9),
        and ``arith(current, lagged)`` applies on top.  The plain path
        bound a KEYLESS lag window, one task for the whole frame.
        Grouped over(keys) keeps the partitioned streaming lag."""
        if (n == 0 or self._needs_order or self._scrambles_order
                or self._agg_list_fn is not None
                or self._multi_fn is not None or self._frame_fn is not None
                or self._agg_pre_fn is not None):
            return
        inner = self
        if n in (1, -1):
            # round-11: distance-1 lag arithmetic joins the FILL batch
            # ("lag"/"lead" kinds — chunk-edge struct carry, exact at
            # distance 1) so diff(±1) over a frame with fills is ONE
            # shared attach instead of a chained kernel stage
            def fin1(cols, sdf, _in=inner, _arith=arith):
                return _arith(_in._fn(sdf, None), cols[0])

            e._global_ordinal_fn = _fill_batch_gfn({
                "items": [((lambda b, _in=inner: _in._fn(b, None)),
                           "lag" if n == 1 else "lead")],
                "finish": fin1, "post": []})
            e._needs_dense_index = True
            return

        def gfn(sdf):
            from .operators.rolling_kernel import attach_rolling_by_multi
            from .session import ROW_IDX as _RI

            tmp, fin = _next_gord_name(), _next_gord_name()
            try:
                if _RI not in sdf.columns:
                    raise ValueError("lag kernel: no row index")
                sdf2 = attach_rolling_by_multi(
                    sdf, col(_RI), (), 0, "both",
                    [(inner, "minraw", tmp)], row_frame=(n, -n))
            except ValueError:
                return sdf.withColumn(
                    fin, e._fn(sdf, None)), fin
            return sdf2.withColumn(
                fin, arith(inner._fn(sdf2, None),
                           F.col(tmp))).drop(tmp), fin

        # round-10: batch with other same-n lag-frame attaches (shift,
        # other diff/pct bindings) through ONE kernel shuffle
        from .session import ROW_IDX as _RIB
        gfn._rolling_by_batch = {
            "sig": ("__rkrow__",), "inner": inner,
            "by_e": col(_RIB), "span": 0, "closed": "both",
            "kind": "minraw", "keys": (), "row_frame": (n, -n),
            "frame": ("row", n, -n),
            "fin": (lambda sdf, tmp, _inner=inner, _arith=arith:
                    _arith(_inner._fn(sdf, None), F.col(tmp))),
            "post": []}
        e._global_ordinal_fn = gfn
        e._needs_dense_index = True

    def diff(self, n: int = 1, null_behavior: str = "ignore"):
        def f(c, w):
            return c - F.lag(c, n).over(w)

        e = self._ordered(f, order_only=True)
        self._attach_lag_arith_kernel(
            e, n, lambda c, prev: c - prev)

        def ev(arr, df):
            return _hof_let(arr, lambda a: F.transform(
                a, lambda x, i: F.when(
                    (i - F.lit(n) >= 0) & (i - F.lit(n) < F.size(a)),
                    x - F.element_at(a, i - F.lit(n) + 1))))

        e._eval_arr_fn = ev
        e._eval_arr_base = self
        if self._np_prog is not None:
            # x - shift(n, x): vacated slots null via the shift null ✓
            e._np_prog = ("bin", "-", self._np_prog,
                          ("shift", int(n), None, self._np_prog))
        if null_behavior == "drop":
            # polars drops the first n slots entirely (row-count-changing)
            # → sole-select-expression rule: compute the ordinary diff
            # through the ordered machinery, then slice off the n-row prefix.
            inner = self

            def frame_fn(lf, out_name):
                out_name = out_name or inner._name or "diff"
                return lf.select(inner.diff(n, "ignore").alias(out_name)).slice(n)

            fe = Expr(None, name=self._name, needs_order=True)
            fe._frame_fn = frame_fn

            def arr_fn(arr):
                # agg context: per-group diff with the first n slots dropped
                sz = F.size(arr)
                d = F.transform(arr, lambda x, i: F.when(
                    i >= n, x - F.element_at(arr, i - n + 1)))
                return F.slice(d, n + 1, F.greatest(sz - n, F.lit(0)))

            inner._compose_arr_route(fe, arr_fn)
            return fe
        return e

    def pct_change(self, n: int = 1):
        # polars forward-fills nulls BEFORE differencing (expr.rb:2810:
        # "most-recent non-null element at least n periods before"; the
        # doctest has [..., 12, nil, 12] -> 0.0 at the null slot).
        # Composition via _compose_hook_parts over [forward_fill, its
        # shift] keeps the scale routes: the fill part joins the frame
        # fill batch, the shift part its lag-kernel batch, and the
        # arithmetic builds on the attached columns — no keyless window.
        def f(c, w):
            fc = F.last(c, ignorenulls=True).over(
                w.rowsBetween(Window.unboundedPreceding, 0))
            prev = F.lag(fc, n).over(w)
            return _div_polars(fc - prev, prev)

        out = self._ordered(f, order_only=True)
        filled = self.forward_fill()
        fill_g = filled._global_ordinal_fn
        if (fill_g is not None and n != 0 and not self._needs_order
                and not self._scrambles_order
                and self._agg_list_fn is None and self._multi_fn is None
                and self._frame_fn is None and self._agg_pre_fn is None):
            # UNGROUPED scale routes (r11).  n=1 (the default): pct is
            # pure fill-batch arithmetic — ff[i-1] is the PREVIOUS
            # non-null ("pnn" kind, exclusive frame + the same chunk
            # carry), so pct = (coalesce(v, pnn) - pnn) / pnn rides ONE
            # shared fill attach with the frame's other fills (no lag
            # stage at all; the former fill→lag chain cost q166 ~2 s of
            # construct).  n≠1: chain the fill attach then the
            # single-row lag-frame kernel — two stages, no keyless
            # window either way.
            inner = self
            if n == 1:
                def fin1(cols, sdf, _in=inner):
                    v = _in._fn(sdf, None)
                    p = cols[0]
                    return _div_polars(F.coalesce(v, p) - p, p)

                out._global_ordinal_fn = _fill_batch_gfn({
                    "items": [((lambda b, _in=inner: _in._fn(b, None)),
                               "pnn")],
                    "finish": fin1, "post": []})
                out._needs_dense_index = True
            else:
                def gfn(sdf, _fg=fill_g):
                    from .operators.rolling_kernel import \
                        attach_rolling_by_multi
                    from .session import ROW_IDX as _RI

                    sdf1, fcol = _fg(sdf)
                    tmp, fin = _next_gord_name(), _next_gord_name()
                    try:
                        if _RI not in sdf1.columns:
                            raise ValueError("lag kernel: no row index")
                        sdf2 = attach_rolling_by_multi(
                            sdf1, col(_RI), (), 0, "both",
                            [(col(fcol), "minraw", tmp)],
                            row_frame=(n, -n))
                    except ValueError:
                        return sdf1.withColumn(
                            fin, out._fn(sdf1, None)).drop(fcol), fin
                    fcc = F.col(fcol)
                    return (sdf2.withColumn(
                        fin, _div_polars(fcc - F.col(tmp), F.col(tmp)))
                        .drop(tmp, fcol), fin)

                out._global_ordinal_fn = gfn
                out._needs_dense_index = True

        def ev(arr, df):
            # eval-array context (list.eval / collect-window): ffill the
            # array positionally, then the lag arithmetic — O(w²) HOFs,
            # bounded by the window/list width like the other eval paths
            def body(a):
                fa = F.transform(a, lambda x, i: F.coalesce(
                    x, F.element_at(F.filter(
                        F.slice(a, 1, i + 1),
                        lambda v: v.isNotNull()), -1)))

                def elem(x, i, _fa):
                    prev = F.element_at(_fa, i - F.lit(n) + 1)
                    return F.when(
                        (i - F.lit(n) >= 0) & (i - F.lit(n) < F.size(_fa)),
                        _div_polars(x - prev, prev))

                return _hof_let(fa, lambda f2: F.transform(
                    f2, lambda x, i: elem(x, i, f2)))

            return _hof_let(arr, body)

        out._eval_arr_fn = ev
        out._eval_arr_base = self
        if self._np_prog is not None:
            # (f - shift(n, f)) / shift(n, f) with f = ffill(x) — the np
            # kernel's "/" gives polars' inf/NaN on zero divisors natively
            fp = ("ffill", self._np_prog)
            sh = ("shift", int(n), None, fp)
            out._np_prog = ("bin", "/", ("bin", "-", fp, sh), sh)
        return out

    def cum_sum(self, reverse: bool = False):
        return self._cum("sum", reverse)

    def cum_min(self, reverse: bool = False):
        return self._cum("min", reverse)

    def cum_max(self, reverse: bool = False):
        return self._cum("max", reverse)

    def cum_count(self, reverse: bool = False):
        return self._cum("count", reverse)

    def cum_prod(self, reverse: bool = False):
        return self._cum("product", reverse)

    # deprecated snake-free aliases (expr.rb cumsum/cummin/cummax/cumprod/
    # cumcount keep working in the reference)
    cumsum = cum_sum
    cummin = cum_min
    cummax = cum_max
    cumcount = cum_count
    cumprod = cum_prod

    def _inspect(self, fmt: str = "%s"):
        """Print the evaluated series (expr.rb:3072).  In a distributed
        plan there is no single eval site to print from, so this is a
        pass-through marker: the format string is accepted for signature
        parity and the expression flows on unchanged."""
        return self

    def _cum(self, kind: str, reverse: bool):
        aggf = {"sum": F.sum, "min": F.min, "max": F.max,
                "count": F.count, "product": F.product}[kind]
        if kind in ("sum", "product"):
            # polars cum_sum over booleans = running count of trues (sum/
            # product reject BOOLEAN in Spark); schema-probe at bind time
            base = self

            def widen(c, df, part):
                from pyspark.sql.types import BooleanType

                try:
                    dt = _probe_type(df, c)
                except Exception:
                    return c
                return c.cast("int") if isinstance(dt, BooleanType) else c

            self = base._lift_ctx(widen)
            self._name = base._name

        int_preserving = kind == "product"

        def f(c, w):
            if reverse:
                wf = w.rowsBetween(0, Window.unboundedFollowing)
            else:
                wf = w.rowsBetween(Window.unboundedPreceding, 0)
            return aggf(c).over(wf)

        e = self._ordered(f, order_only=True)
        if int_preserving and self._multi_fn is None:
            # polars cum_prod over ints stays integral; F.product is double
            base_e, inner_self = e, self

            def fn2(df, part):
                from pyspark.sql import types as T

                c = base_e._fn(df, part)
                t = inner_self._probe_dtype(df, inner_self._fn(df, part))
                ints = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
                return c.cast(t) if isinstance(t, ints) else c

            e2 = Expr(fn2, name=e._name, needs_order=True)
            e2._order_only = e._order_only
            e = e2
        if self._multi_fn is None:
            inner = self

            def _cum_finish(sdf2, tmp, _inner=inner,
                            _ip=int_preserving):
                if _ip:
                    from pyspark.sql import types as T

                    t = _inner._probe_dtype(sdf2, _inner._fn(sdf2, None))
                    if isinstance(t, (T.ByteType, T.ShortType,
                                      T.IntegerType, T.LongType)):
                        return sdf2.withColumn(tmp, F.col(tmp).cast(t))
                return sdf2

            def gfn(sdf):
                from .operators.row_index import attach_global_cum_multi

                tmp = _next_gord_name()
                out = attach_global_cum_multi(
                    sdf, [(lambda df: inner._fn(df, None), kind, reverse,
                           tmp)])
                return _cum_finish(out, tmp), tmp

            # batch metadata: the frame binder coalesces same-frame cum_*
            # bindings into ONE attach_global_cum_multi (one chunk
            # exchange, one offsets broadcast — round-6)
            gfn._cum_batch = {
                "value": (lambda df, _i=inner: _i._fn(df, None)),
                "kind": kind, "reverse": reverse,
                "finish": _cum_finish, "post": []}
            e._global_ordinal_fn = gfn

        def ev(arr, df):
            # list.eval: prefix reductions over the eval list (no window)
            from pyspark.sql import types as T

            sz = F.size(arr)

            def pre(i):
                return (F.slice(arr, i + 1, sz - i) if reverse
                        else F.slice(arr, 1, i + 1))

            def nn(p):
                return F.filter(p, lambda y: y.isNotNull())

            if kind == "count":
                return F.transform(arr, lambda x, i: F.size(
                    nn(pre(i))).cast("long"))
            if kind in ("min", "max"):
                fmm = F.array_min if kind == "min" else F.array_max
                return F.transform(arr, lambda x, i: F.when(
                    x.isNotNull(), fmm(nn(pre(i)))))
            t = _probe_type(df, arr).elementType
            boolish = isinstance(t, T.BooleanType)
            if boolish:
                t = T.LongType()

            def val(y):
                return y.cast("long") if boolish else y

            if kind == "sum":
                red = (lambda p: F.aggregate(
                    nn(p), F.lit(0).cast(t), lambda a, y: a + val(y)))
            else:  # product: polars keeps integral dtypes integral
                red = (lambda p: F.aggregate(
                    nn(p), F.lit(1).cast(t), lambda a, y: a * val(y)))
            return F.transform(arr, lambda x, i: F.when(
                x.isNotNull(), red(pre(i))))

        e._eval_arr_fn = ev
        # the PRE-widen inner: the widen wrapper (_lift_ctx) drops any
        # ordered-array route, and ev handles booleans itself
        e._eval_arr_base = (base if kind in ("sum", "product") else self)
        return e

    def cumulative_eval(self, expr=None, min_periods: int = 1,
                        parallel: bool = False):
        """Evaluate ``expr`` (built from ``Polars.element()``) over the
        expanding prefix of this column (expr.rb:6684).

        Sole-select frame op.  Plan: each source row ``i`` fans out to every
        prefix-end ``r >= i`` (flat ``explode(sequence(i, n-1))`` — no
        window, no self-join), then ONE hash aggregate on ``r`` evaluates
        the sub-expression with ``element()`` bound to the value column.
        The O(n²) pair blow-up is inherent to the operator (the reference
        docs carry the same warning) but every stage here is multi-task;
        pairs are re-sorted within ``r``-partitions so order-sensitive
        aggregates (first/last) stay deterministic.
        """
        if expr is None:
            raise TypeError("cumulative_eval requires an element()-based expr")
        inner = self
        sub = expr
        min_p = min_periods

        def fn(df, part):
            raise NotImplementedError(
                "cumulative_eval composed in a way its binding hooks do "
                "not reach: bind it alone (select/with_columns/over(keys)/"
                "any group-by agg all support it directly), then combine "
                "columns")

        e = Expr(fn, name=self._name, needs_order=True)

        def _prefix_eval(base_df, pre):
            """Bind ``sub`` over a prefix array of plain values —
            aggregates reduce the prefix via the list-eval HOF machinery,
            fully JVM-side.  min_periods counts VALID (non-null) values
            (expr.rb:6645-6647), not prefix length."""
            _EVAL_ARRAY_STACK.append(pre)
            try:
                c = sub._fn(base_df, None)
            finally:
                _EVAL_ARRAY_STACK.pop()
            if min_p > 1:
                c = F.when(
                    F.size(F.filter(pre, lambda x: x.isNotNull())) >= min_p,
                    c)
            return c

        def _result_pairs(base_df, pairs_arr, kernel_ok=True):
            """Full per-group result array via ONE indexed transform over
            the group's ordered (i, v) pairs array: result[k] =
            sub(prefix of length k+1).  O(g) storage — one array per group
            row, never a full-group array per SOURCE row — with the O(g²)
            time confined inside the HOF (the time cost is inherent;
            expr.rb:6684 carries the same warning).  Yields (i, r) structs
            keyed by the ORIGINAL hidden index, so gapped indexes (post-
            filter frames) round-trip exactly.

            Round-7: prefix-aggregate sub-expressions the numpy tracker
            reaches (sum/mean/min/max/first/last/count/len/var/std
            compositions) route to the O(g) cumulative Arrow kernel
            instead — same fold semantics, no O(g²) interpreted HOF time.
            ``kernel_ok=False`` for bindings where the pairs array is
            itself an aggregate expression (a UDF cannot wrap an agg
            inside groupBy().agg).

            Dtype probes inside ``sub`` (pow int-guard, cast sources, …)
            cannot analyze an expression embedding the position lambda
            variable, so bind once over the lambda-free FULL values array
            (identical element dtypes to every prefix slice) recording each
            probe, then replay the captured types in the real pass."""
            if kernel_ok:
                kern = _np_cumeval_pairs(pairs_arr, sub._np_prog,
                                         base_df, min_p)
                if kern is not None:
                    return kern
            global _PROBE_RECORD, _PROBE_REPLAY
            pre_full = F.transform(pairs_arr, lambda q: q["v"])
            rec: list = []
            saved = (_PROBE_RECORD, _PROBE_REPLAY)
            _PROBE_RECORD, _PROBE_REPLAY = rec, None
            try:
                _prefix_eval(base_df, pre_full)
            finally:
                _PROBE_RECORD, _PROBE_REPLAY = saved

            def per_pos(p, k):
                global _PROBE_RECORD, _PROBE_REPLAY
                pre = F.transform(
                    F.slice(pairs_arr, F.lit(1), k + F.lit(1)),
                    lambda q: q["v"])
                saved = (_PROBE_RECORD, _PROBE_REPLAY)
                _PROBE_RECORD, _PROBE_REPLAY = None, list(rec)
                try:
                    r = _prefix_eval(base_df, pre)
                finally:
                    _PROBE_RECORD, _PROBE_REPLAY = saved
                return F.struct(p["i"].alias("i"), r.alias("r"))

            return F.transform(pairs_arr, per_pos)

        def _pairs_agg(sdf):
            return F.array_sort(F.collect_list(
                F.struct(F.col(ROW_IDX).alias("i"),
                         inner._fn(sdf, None).alias("v"))))

        def _collect_eval(sdf, key_cols):
            """Shared grouped/ungrouped plan: ONE hash-agg collects the
            ordered (i, v) pairs array per group (ungrouped = one global
            group), one indexed transform computes the whole result array,
            explode + equi-join back on the hidden index.  No plan-time
            action, no O(n²) pair explosion, no per-row group arrays."""
            gb = sdf.groupBy(*key_cols) if key_cols else sdf.groupBy()
            grouped = gb.agg(_pairs_agg(sdf).alias("__ce_p__"))
            res = grouped.select(F.explode(
                _result_pairs(grouped, F.col("__ce_p__"))).alias("__ce_z__"))
            tmp = _next_gord_name()
            res = res.select(F.col("__ce_z__")["i"].alias(ROW_IDX),
                             F.col("__ce_z__")["r"].alias(tmp))
            return sdf.join(res, on=ROW_IDX, how="left"), tmp

        def remap(sdf, key_exprs):
            out, tmp = _collect_eval(
                sdf, [ke._fn(sdf, None) for ke in key_exprs])
            # round-7: hook binds mark the frame order-dirty; the deferred
            # restore sorts at polars-semantics exports (no eager orderBy)
            return out, tmp

        e._grouped_remap_fn = remap

        def agg_pre(sdf, key_cols):
            if ROW_IDX not in sdf.columns:
                # first _agg_columns pass runs before the hidden index
                # exists; needs_order triggers the re-run that applies the
                # prestage for real
                return sdf, F.lit(None)
            # consumer is a hash agg on the SAME keys: compute the ordered
            # result array directly inside the aggregate — one exchange,
            # no join-back (kernel_ok=False: the pairs array IS an
            # aggregate expression here; a UDF cannot wrap it)
            res = _result_pairs(sdf, _pairs_agg(sdf), kernel_ok=False)
            return sdf, F.transform(res, lambda z: z["r"])

        e._agg_pre_fn = agg_pre

        def gfn(sdf):
            # ungrouped with_columns/filter: single global group; join-back
            # on the real hidden index tolerates gapped indexes (post-
            # filter / scrambled frames).  Round-7: order left dirty for
            # the caller's deferred restore.
            out, tmp = _collect_eval(sdf, [])
            return out, tmp

        e._global_ordinal_fn = gfn

        def frame_fn(lf, out_name):
            from .frame import LazyFrame

            out_name = out_name or inner._name or "cumulative_eval"
            df = lf._ensure_row_index()._sdf
            grouped = df.groupBy().agg(_pairs_agg(df).alias("__ce_p__"))
            res = grouped.select(F.explode(
                _result_pairs(grouped, F.col("__ce_p__"))).alias("__ce_z__"))
            return LazyFrame(
                res.orderBy(F.col("__ce_z__")["i"])
                .select(F.col("__ce_z__")["r"].alias(out_name)))

        e._frame_fn = frame_fn
        return e

    def reverse(self):
        if self._multi_fn is not None:
            mf = self._multi_fn
            return Expr(multi_fn=lambda df: [e.reverse() for e in mf(df)])._set_meta(
                "multi:reverse", (self,))

        def fn(df, part):
            # bounded per-group remap under over(); ungrouped bindings route
            # through _global_ordinal_fn (index-remap join) instead
            c = self._fn(df, part)
            w = Window.partitionBy(*(part or [])).orderBy(F.col(ROW_IDX).desc())
            arr = F.collect_list(c).over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
            pos = F.row_number().over(Window.partitionBy(*(part or [])).orderBy(ROW_IDX))
            return F.element_at(arr, pos)

        e = Expr(fn, name=self._name, needs_order=True)
        inner = self

        def gfn(sdf):
            from .operators.row_index import attach_global_reverse

            tmp = _next_gord_name()
            return attach_global_reverse(
                sdf, lambda df: inner._fn(df, None), tmp), tmp

        e._global_ordinal_fn = gfn
        e._needs_dense_index = True  # maps position i -> n-1-i by VALUE
        inner._compose_arr_route(e, F.reverse)

        def remap(sdf, key_exprs):
            from .operators.row_index import attach_grouped_rank_zip

            tmp = _next_gord_name()
            return attach_grouped_rank_zip(
                sdf, lambda df: inner._fn(df, None),
                lambda df: [ke._fn(df, None) for ke in key_exprs],
                tmp, lambda _df: [F.col(ROW_IDX).desc()]), tmp

        e._grouped_remap_fn = remap
        return e

    def rank(self, method: str = "average", descending: bool = False,
             seed=None, reverse: bool = False):
        """Parity: expr.rb:5691 — rank over VALUES (not row order);
        ``reverse:`` is the reference's older name for descending.

        ``method="random"`` (expr.rb:5649) permutes ties with a seeded
        xxhash64 key.  DELIBERATE deviation: the reference draws a fresh
        random seed when ``seed`` is nil (nondeterministic across
        calls); this engine defaults to seed 0 — a distributed plan may
        re-execute subtrees (AQE re-plan, task retry, two consuming
        branches), and a per-call random seed would let the SAME column
        rank two different ways inside one query.  Pass an explicit
        seed to vary the permutation."""
        descending = descending or reverse
        if self._multi_fn is not None:
            mf = self._multi_fn
            return Expr(multi_fn=lambda df: [
                e.rank(method, descending=descending, seed=seed)
                for e in mf(df)])

        def fn(df, part):
            if _EVAL_ARRAY_STACK:
                # inside list.eval: rank of this element within its list
                # (guide_test.rb list-context) — nested HOF counts, no window
                mapped = _eval_vals(self, _EVAL_ARRAY_STACK[-1], df)
                if self._agg_list_fn is not None:
                    # routed inner (element().shift(1).rank()): the current
                    # element's value comes from the transformed array
                    c = F.element_at(mapped, _ELEMENT_IDX_STACK[-1] + 1)
                else:
                    c = self._fn(df, None)
                nn = F.filter(mapped, lambda y: y.isNotNull())
                before = F.size(F.filter(
                    nn, lambda y: (y > c) if descending else (y < c)))
                ties = F.size(F.filter(nn, lambda y: y == c))
                if method == "min":
                    r = (before + 1).cast("double")
                elif method == "max":
                    r = (before + ties).cast("double")
                elif method == "dense":
                    distinct_before = F.size(F.array_distinct(F.filter(
                        nn, lambda y: (y > c) if descending else (y < c))))
                    r = (distinct_before + 1).cast("double")
                elif method == "average":
                    r = (before.cast("double") * 2
                         + ties.cast("double") + 1) / 2
                elif method == "ordinal":
                    # ties break by LIST POSITION: count non-null elements
                    # strictly before by value, plus equal-valued elements
                    # at earlier indexes (2-arg filter lambda gives j; the
                    # current element's index rides _ELEMENT_IDX_STACK)
                    i_cur = _ELEMENT_IDX_STACK[-1]
                    mapped_i = _eval_vals(self, _EVAL_ARRAY_STACK[-1], df)
                    before_ord = F.size(F.filter(
                        mapped_i,
                        lambda y, j: y.isNotNull() & (
                            ((y > c) if descending else (y < c))
                            | ((y == c) & (j < i_cur)))))
                    r = (before_ord + 1).cast("double")
                else:
                    raise ValueError(f"unknown rank method {method!r}")
                out = F.when(c.isNotNull(), r)
                return out if method == "average" else out.cast("long")
            c = self._fn(df, part)
            # polars leaves null values UNRANKED (null out); ordering nulls
            # last keeps the non-null ranks identical to ranking them alone
            w = Window.partitionBy(*(part or [])).orderBy(
                c.desc_nulls_last() if descending else c.asc_nulls_last())
            if method == "ordinal":
                r = F.row_number().over(w)
            elif method == "min":
                r = F.rank().over(w)
            elif method == "dense":
                r = F.dense_rank().over(w)
            elif method == "max":
                # min-rank of next distinct value − 1 == rank + count(==value) − 1
                cnt = F.count(F.lit(1)).over(Window.partitionBy(*(part or []), c))
                r = F.rank().over(w) + cnt - 1
            elif method == "average":
                cnt = F.count(F.lit(1)).over(Window.partitionBy(*(part or []), c))
                r = (F.rank().over(w).cast("double") * 2 + cnt.cast("double") - 1) / 2
            elif method == "random":
                # ordinal with a SEEDED pseudo-random tie permutation
                # (expr.rb:5649): order ties by xxhash64(row index, seed)
                # — deterministic given the seed, unlike a raw rand()
                from .session import ROW_IDX as _RI

                if _RI not in df.columns:
                    raise NotImplementedError(
                        "rank('random') here needs the hidden row index "
                        "for its seeded tie permutation; bind it as a "
                        "frame-level with_columns (or with_row_index() "
                        "first)")
                h = F.xxhash64(F.col(_RI), F.lit(int(seed or 0)))
                w2 = Window.partitionBy(*(part or [])).orderBy(
                    c.desc_nulls_last() if descending
                    else c.asc_nulls_last(),
                    h.asc(), F.col(_RI).asc())
                r = F.row_number().over(w2)
            else:
                raise ValueError(f"unknown rank method {method!r}")
            return F.when(c.isNotNull(), r)

        e = Expr(fn, name=self._name, needs_order=self._needs_order)
        e._scrambles_order = True   # WindowExec leaves rows value-sorted
        # ranks over VALUES only — never reads ROW_IDX, so the sort-key
        # restore path suffices (same as _rolling_by); a windowed INNER
        # (shift(1).rank()) propagates its row-order need
        e._order_only = self._order_safe
        if method == "average" and self._np_prog is not None:
            # list.eval kernel breadcrumb (round-11): the per-element HOF
            # rank is O(d²) interpreted lambda evals per row (q127: 32 s
            # at sf1.0) — average is the one method whose eval-context
            # result stays double (the kernel's dtype contract)
            e._np_prog = ("rank", bool(descending), self._np_prog)
        if (method in ("average", "min", "max", "dense", "ordinal",
                       "random")
                and not self._needs_order and not self._scrambles_order
                and self._agg_list_fn is None and self._multi_fn is None
                and self._frame_fn is None and self._agg_pre_fn is None):
            # round-9: UNGROUPED rank otherwise compiles to a window with
            # NO partitionBy — one task for the whole frame.  The attach
            # builds it from a distinct-value prefix table, every stage
            # multi-task (operators/row_index.attach_global_rank_multi);
            # grouped over(keys) keeps the partitioned rank windows.
            # "random" encodes its seed into the attach method string
            # (late round-10).
            inner = self
            attach_method = (f"random:{int(seed or 0)}"
                             if method == "random" else method)

            def gfn(sdf):
                from .operators.row_index import attach_global_rank_multi

                tmp = _next_gord_name()
                return attach_global_rank_multi(
                    sdf, lambda d: inner._fn(d, None),
                    [(attach_method, descending, tmp)]), tmp

            if getattr(inner, "_is_column", False) and inner._meta:
                # round-10: SAME-COLUMN rank bindings batch into ONE
                # distinct-prefix attach (attach_global_rank_multi) — all
                # five methods and both directions derive from one
                # ascending table, so q165-class multi-method binds pay
                # one distinct aggregate + one join instead of six chained
                # attaches with checkpoints between.  Only bare column
                # references carry a collision-safe signature (lambda meta
                # labels are not identities); everything else attaches solo.
                gfn._rank_batch = {
                    "value": lambda d: inner._fn(d, None),
                    "method": attach_method, "descending": descending,
                    "sig": ("rank_col", inner._meta[2]), "post": []}
            e._global_ordinal_fn = gfn
        if e._meta is None:
            e._set_meta("rank", (self,), method)
        return e

    def arg_sort(self, reverse: bool = False, nulls_last: bool = False):
        """Permutation indices that sort this column (expr.rb:1419).

        As the sole select expression this is a plain sort projection of the
        row index (scalable — one range shuffle, no arrays).  In windowed
        (``over``) contexts it uses the ordered-collect remap, bounded by
        the group size.  An UNGROUPED use inside a wider projection would
        materialize an n-element array per row — rejected by the
        sole-expression rule instead of silently OOMing.
        """
        if self._multi_fn is not None:
            mf = self._multi_fn
            return Expr(multi_fn=lambda df: [
                e.arg_sort(reverse=reverse, nulls_last=nulls_last)
                for e in mf(df)])
        inner = self

        def fn(df, part):
            arr = inner._route_arr(df)
            if arr is not None:
                # agg / list.eval: permutation over the (possibly order-
                # transformed) per-group array — indices are group-local
                return _arr_arg_sort(arr, reverse, nulls_last)
            c = inner._fn(df, None)
            # over(): polars evaluates per sub-series, so indices are
            # GROUP-LOCAL 0-based positions.  One collected window + HOF
            # permutation; a sibling row_number window maps rows to slots.
            pw = Window.partitionBy(*(part or []))
            pairs = F.collect_list(
                F.struct(F.col(ROW_IDX).alias("i"), c.alias("v"))).over(pw)
            sorted_pairs = F.array_sort(
                pairs, _sort_cmp(reverse, nulls_last))
            my_pos = F.row_number().over(pw.orderBy(ROW_IDX))
            target_i = F.element_at(sorted_pairs, my_pos)["i"]
            idxs_sorted = F.array_sort(F.transform(pairs, lambda p: p["i"]))
            return (F.array_position(idxs_sorted, target_i) - 1).cast("long")

        e = Expr(fn, name=self._name, needs_order=True)
        self._compose_arr_route(
            e, lambda arr: _arr_arg_sort(arr, reverse, nulls_last))

        def frame_fn(lf, out_name):
            from .frame import LazyFrame

            out_name = out_name or inner._name or "arg_sort"
            df = lf._ensure_dense_index()._sdf  # values-as-positions
            c = inner._fn(df, None)
            if reverse:
                order = c.desc_nulls_last() if nulls_last else c.desc_nulls_first()
            else:
                order = c.asc_nulls_last() if nulls_last else c.asc_nulls_first()
            return LazyFrame(df.orderBy(order, F.col(ROW_IDX))
                             .select(F.col(ROW_IDX).cast("long").alias(out_name)))

        e._frame_fn = frame_fn
        return e

    argsort = arg_sort  # expr.rb deprecated alias

    # -- agg-context positional slices (expr.rb head/tail/slice/gather) ------
    # In group_by().agg these yield a LIST per group (reference semantics);
    # row order inside the group follows the frame's row order (ROW_IDX).
    def _ordered_vals(self, keep_nulls: bool = True):
        def make(df, part):
            # order-transformed inner (shift(1).head(2)): ride its route
            vals = self._route_arr(df, bare=False)
            if vals is None:
                c = self._fn(df, part)
                arr = F.sort_array(F.collect_list(
                    F.struct(F.col(ROW_IDX).alias("i"), c.alias("v"))))
                vals = F.transform(arr, lambda s: s["v"])
            if not keep_nulls:
                vals = F.filter(vals, lambda v: v.isNotNull())
            return vals

        return make

    def _agg_listop(self, f, frame_apply=None):
        """Positional slice family.  Agg/over context → LIST per group; a
        SOLE SELECT flattens to rows (expr.rb head/gather_every doctests
        show fewer rows out) via ``frame_apply(projected_lazyframe)``."""
        make = self._ordered_vals()
        inner = self

        def fn(df, part):
            c = f(make(df, part))
            if part is not None:
                c = c.over(_part_window(part))
            return c

        e = Expr(fn, name=self._name, is_agg=True, needs_order=True)
        if frame_apply is not None:
            def frame_fn(lf, out_name):
                out_name = out_name or inner._name or "slice"
                return frame_apply(lf.select(inner.alias(out_name)))

            e._frame_fn = frame_fn
        return e

    def head(self, n: int = 10) -> "Expr":
        return self._agg_listop(lambda vals: F.slice(vals, 1, n),
                                frame_apply=lambda lf: lf.head(n))

    limit = head

    def tail(self, n: int = 10) -> "Expr":
        return self._agg_listop(lambda vals: F.slice(
            vals, F.greatest(F.size(vals) - F.lit(n) + 1, F.lit(1)),
            F.least(F.size(vals), F.lit(n))),
            frame_apply=lambda lf: lf.tail(n))

    def slice(self, offset: int, length: int | None = None) -> "Expr":
        def op(vals):
            start = (F.lit(offset) + 1 if offset >= 0
                     else F.greatest(F.size(vals) + F.lit(offset) + 1, F.lit(1)))
            n = F.lit(length) if length is not None else F.size(vals)
            return F.slice(vals, start, n)

        out = self._agg_listop(
            op, frame_apply=lambda lf: lf.slice(offset, length))
        # meta tracking incl. EXPR offsets/lengths (meta_expr.rb root_names
        # doctest: sum("foo").slice(len - 10, col("bar")) reads foo+bar)
        return out._set_meta("slice", (self,) + tuple(
            x for x in (offset, length) if isinstance(x, Expr)))

    def gather(self, indices) -> "Expr":
        idx = list(indices) if isinstance(indices, (list, tuple)) else [indices]

        def frame_apply(lf):
            # sole select: polars flattens to len(indices) rows.  Non-
            # negative indices = a broadcast position join (scalable, keeps
            # duplicates/reorder); negatives resolve against the end via
            # the single-aggregate explode (bounded output by |indices|).
            from .frame import LazyFrame

            out_name = lf.columns[0]
            if all(int(i) >= 0 for i in idx):
                dfd = lf._ensure_dense_index()._sdf_raw
                spark = dfd.sparkSession
                pairs = spark.createDataFrame(
                    [(int(i), p) for p, i in enumerate(idx)],
                    f"{ROW_IDX} long, __gp__ long")
                out = dfd.join(F.broadcast(pairs), ROW_IDX).select(
                    out_name, "__gp__")
                return LazyFrame(out).sort("__gp__").drop("__gp__")
            df = lf._ensure_row_index()._sdf
            vals = F.array_sort(F.collect_list(F.struct(
                F.col(ROW_IDX).alias("i"), F.col(out_name).alias("v"))))
            arr = F.array(*[F.element_at(
                F.transform(vals, lambda s: s["v"]),
                int(i) + 1 if int(i) >= 0 else int(i)) for i in idx])
            one = df.agg(arr.alias(out_name))
            ex = one.select(F.posexplode(out_name).alias("__gp__", out_name))
            return LazyFrame(ex).sort("__gp__").drop("__gp__")

        def op(vals):
            return F.array(
                *[F.element_at(vals, int(i) + 1 if int(i) >= 0 else int(i))
                  for i in idx])

        e = self._agg_listop(op)
        inner = self

        def frame_fn(lf, out_name):
            return frame_apply(lf.select(inner.alias(out_name or
                                                     inner._name or "gather")))

        e._frame_fn = frame_fn
        return e

    take = gather  # deprecated reference alias

    def _drop_rows_where(self, agg_expr: "Expr", keep) -> "Expr":
        """Shared shape for drop_nulls/drop_nans: list semantics in agg
        context; in a sole select they are row-count-changing flat filters
        (expr.rb:893/921 doctests show fewer rows out)."""
        inner = self

        def frame_fn(lf, out_name):
            from .frame import LazyFrame

            out_name = out_name or inner._name or "drop"
            df = (lf._ensure_row_index() if inner._needs_order else lf)._sdf
            c = inner._fn(df, None)
            return LazyFrame(df.filter(keep(c)).select(c.alias(out_name)))

        agg_expr._frame_fn = frame_fn
        return agg_expr

    def drop_nulls(self) -> "Expr":
        e = self._agg_listop(lambda vals: F.filter(vals, lambda v: v.isNotNull()))
        return self._drop_rows_where(e, lambda c: c.isNotNull())

    def drop_nans(self) -> "Expr":
        e = self._agg_listop(lambda vals: F.filter(
            vals, lambda v: ~F.isnan(v) | v.isNull()))
        return self._drop_rows_where(e, lambda c: ~F.isnan(c) | c.isNull())

    def arg_unique(self) -> "Expr":
        """Index of the first occurrence of each distinct value (expr.rb)."""
        make = self._ordered_vals()

        def fn(df, part):
            vals = make(df, part)
            pos = F.transform(vals, lambda v, i: F.struct(v.alias("v"), i.alias("i")))
            # first occurrence = no earlier element null-safe-equal to it
            firsts = F.filter(pos, lambda s, i: F.size(F.filter(
                F.slice(pos, 1, i), lambda t: t["v"].eqNullSafe(s["v"]))) == 0)
            c = F.transform(firsts, lambda s: s["i"].cast("long"))
            if part is not None:
                c = c.over(_part_window(part))
            return c

        e = Expr(fn, name=self._name, is_agg=True, needs_order=True)
        inner = self

        def frame_fn(lf, out_name):
            # sole-select: one ROW per distinct value's first position
            # (expr.rb arg_unique doctest), distributed first-occurrence
            # aggregate — no per-row arrays
            from .frame import LazyFrame

            out_name = out_name or inner._name or "arg_unique"
            base = lf._ensure_dense_index()._sdf
            c = inner._fn(base, None)
            out = (base.groupBy(c.alias("__v__"))
                   .agg(F.min(F.col(ROW_IDX)).alias(out_name))
                   .orderBy(out_name).select(F.col(out_name).cast("long")))
            return LazyFrame(out)

        e._frame_fn = frame_fn
        return e

    def sort(self, reverse: bool = False, descending: bool = False,
             nulls_last: bool = False):
        desc = reverse or descending

        def fn(df, part):
            # window fallback (only reachable when a composed unplanned agg
            # blocks the rank-zip attach): collect + per-row array remap —
            # O(|group|²); the over() binding routes grouped use through
            # attach_grouped_rank_zip instead.  Nulls ride inside structs
            # (collect_list drops bare nulls) with a front/back flag chosen
            # so the post-reverse placement matches polars (nulls first
            # unless nulls_last).
            c = self._fn(df, part)
            both = Window.partitionBy(*(part or [])).orderBy(ROW_IDX).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing)
            null_front_pre = nulls_last == desc
            flag = F.when(c.isNull(), F.lit(0 if null_front_pre else 1)) \
                .otherwise(F.lit(1 if null_front_pre else 0))
            arr = F.array_sort(F.collect_list(
                F.struct(flag.alias("f"), c.alias("v"))).over(both))
            vals = F.transform(arr, lambda s: s["v"])
            if desc:
                vals = F.reverse(vals)
            pos = F.row_number().over(Window.partitionBy(*(part or [])).orderBy(ROW_IDX))
            return F.element_at(vals, pos)

        e = Expr(fn, name=self._name, needs_order=True)
        inner = self

        def remap(sdf, key_exprs):
            from .operators.row_index import attach_grouped_rank_zip

            tmp = _next_gord_name()
            v = F.col("__gz_val__")
            if desc:
                vo = v.desc_nulls_last() if nulls_last else v.desc_nulls_first()
                order = lambda _df: [vo, F.col(ROW_IDX).desc()]  # noqa: E731
            else:
                vo = v.asc_nulls_last() if nulls_last else v.asc_nulls_first()
                order = lambda _df: [vo, F.col(ROW_IDX).asc()]  # noqa: E731
            return attach_grouped_rank_zip(
                sdf, lambda df: inner._fn(df, None),
                lambda df: [ke._fn(df, None) for ke in key_exprs],
                tmp, order), tmp

        e._grouped_remap_fn = remap

        def arr_fn(arr):
            # nulls ride first (asc) / last (desc) via sort_array semantics,
            # matching polars' nulls_last=False default ordering
            out = F.sort_array(arr, asc=not desc)
            if nulls_last != desc:
                nn = F.filter(out, lambda x: x.isNotNull())
                nulls = F.filter(out, lambda x: x.isNull())
                out = (F.concat(nn, nulls) if nulls_last
                       else F.concat(nulls, nn))
            return out

        self._compose_arr_route(e, arr_fn)
        return e

    def sort_by(self, by, *more_by, descending=False, nulls_last: bool = False):
        by_list = list(by) if isinstance(by, (list, tuple)) else [by]
        by_list += list(more_by)
        by_exprs = [as_expr(b) for b in by_list]
        dirs = (list(descending) if isinstance(descending, (list, tuple))
                else [bool(descending)] * len(by_exprs))
        if len(dirs) != len(by_exprs):
            raise ValueError("descending list length must match keys")

        def fn(df, part):
            c = self._fn(df, part)
            keys = F.struct(*[b._fn(df, part).alias(f"k{i}")
                              for i, b in enumerate(by_exprs)])
            both = Window.partitionBy(*(part or [])).orderBy(ROW_IDX).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing)
            pairs = F.collect_list(F.struct(keys.alias("k"), c.alias("v"),
                                            F.col(ROW_IDX).alias("i"))).over(both)

            # per-key direction + null placement (polars: nulls first unless
            # nulls_last, regardless of direction); original index as a final
            # tiebreak makes the sort stable
            def cmp(l, r):
                res = F.when(l["i"] < r["i"], F.lit(-1)).otherwise(F.lit(1))
                for idx in reversed(range(len(by_exprs))):
                    lk, rk = l["k"][f"k{idx}"], r["k"][f"k{idx}"]
                    lo, hi = ((F.lit(1), F.lit(-1)) if dirs[idx]
                              else (F.lit(-1), F.lit(1)))
                    nl = F.lit(1) if nulls_last else F.lit(-1)
                    res = (F.when(lk.isNull() & rk.isNull(), res)
                           .when(lk.isNull(), nl)
                           .when(rk.isNull(), -nl)
                           .when(lk < rk, lo)
                           .when(lk > rk, hi)
                           .otherwise(res))
                return res.cast("int")

            pairs = F.array_sort(pairs, cmp)
            pos = F.row_number().over(Window.partitionBy(*(part or [])).orderBy(ROW_IDX))
            return F.element_at(pairs, pos)["v"]

        e = Expr(fn, name=self._name, needs_order=True)._set_meta(
            "sort_by", (self, *by_exprs))
        inner = self

        def remap(sdf, key_exprs):
            # scale path under over(): rank-zip join (two row_number windows
            # + one shuffle) instead of the O(|group|²) collected-array fn
            from .operators.row_index import attach_grouped_rank_zip

            tmp = _next_gord_name()

            def order(_vals):
                cols = []
                for i, d in enumerate(dirs):
                    k = F.col(f"__gz_o{i}__")
                    if d:
                        cols.append(k.desc_nulls_last() if nulls_last
                                    else k.desc_nulls_first())
                    else:
                        cols.append(k.asc_nulls_last() if nulls_last
                                    else k.asc_nulls_first())
                cols.append(F.col(ROW_IDX).asc())   # stable tiebreak
                return cols

            return attach_grouped_rank_zip(
                sdf, lambda df: inner._fn(df, None),
                lambda df: [ke._fn(df, None) for ke in key_exprs],
                tmp, order,
                extra_fns=lambda df: [b._fn(df, None) for b in by_exprs]), tmp

        e._grouped_remap_fn = remap
        return e

    def top_k(self, k: int = 5):
        def fn(df, part):
            routed = self._route_arr(df, bare=False)
            if routed is not None:
                nn = F.filter(routed, lambda x: x.isNotNull())
                return F.slice(F.reverse(F.array_sort(nn)), 1, k)
            c = self._fn(df, None)
            arr = F.slice(F.reverse(F.array_sort(F.collect_list(c))), 1, k)
            if part is not None:
                arr = arr  # bound at agg layer
            return arr

        e = Expr(lambda df, part: fn(df, part), name=self._name, is_agg=True,
                 needs_order=(self._needs_order
                              or self._agg_list_fn is not None))
        return self._topk_frame(e, k, descending=True)

    def bottom_k(self, k: int = 5):
        def aggf(c):
            return F.slice(F.array_sort(F.collect_list(c)), 1, k)

        aggf._arr_reduce_fn = lambda arr, df: F.slice(F.array_sort(
            F.filter(arr, lambda x: x.isNotNull())), 1, k)
        e = self._agg(aggf)
        return self._topk_frame(e, k, descending=False)

    def _topk_frame(self, e: "Expr", k: int, descending: bool) -> "Expr":
        """Sole-select top_k/bottom_k flatten to k ROWS (expr.rb:2058
        doctest) — a null-dropping TakeOrdered projection, no collect."""
        inner = self

        def frame_fn(lf, out_name):
            out_name = out_name or inner._name or "top_k"
            proj = lf.select(inner.alias(out_name))
            proj = proj.filter(col(out_name).is_not_null())
            return proj.sort(out_name, descending=descending).head(k)

        e._frame_fn = frame_fn
        return e

    def gather_every(self, n: int, offset: int = 0):
        # agg-context list semantics like head/tail (expr.rb:2974): every
        # n-th element of the ordered group, starting at ``offset``;
        # sole select flattens to rows (expr.rb:2960 doctest)
        return self._agg_listop(
            lambda vals: F.filter(
                vals, lambda x, i: (i >= offset) & ((i - offset) % n == 0)),
            frame_apply=lambda lf: lf.gather_every(n, offset))

    def search_sorted(self, element, side: str = "any"):
        v = wrap_expr(element)

        def aggf(c):
            vv = v._fn(None, None)
            return F.count(F.when(c <= vv if side == "right" else c < vv, 1))

        aggf._arr_reduce_fn = lambda arr, df: F.size(F.filter(
            arr, lambda x: (x <= v._fn(None, None)) if side == "right"
            else (x < v._fn(None, None)))).cast("long")
        return self._agg(aggf)

    # -- rolling windows (expr.rb:4936-5480) ----------------------------------------
    def _rolling(self, aggf, window_size: int, min_periods: int | None,
                 center: bool, kernel_kind=None):
        if min_periods is None:
            min_periods = window_size

        def f(c, w):
            if center:
                before = (window_size - 1) // 2
                after = window_size - 1 - before
                wf = w.rowsBetween(-before, after)
            else:
                wf = w.rowsBetween(-(window_size - 1), 0)
            val = aggf(c).over(wf)
            cnt = F.count(c).over(wf)
            return F.when(cnt >= min_periods, val)

        out = self._ordered(f, order_only=True)
        if (kernel_kind is not None and not self._needs_order
                and not self._scrambles_order and self._agg_list_fn is None
                and self._multi_fn is None and self._frame_fn is None
                and self._agg_pre_fn is None):
            # round-9: UNGROUPED row-count rolling otherwise binds a
            # KEYLESS window — one task for the whole frame, the worst
            # scale shape there is.  The sliding kernel chunks by the
            # dense row index (boundary rows duplicate both ways for
            # center frames) and answers every window task-parallel.
            # Grouped over(keys) keeps the partitioned window (parallel
            # across keys; no _grouped_remap_fn on purpose).
            inner = self
            before = (window_size - 1) // 2 if center else window_size - 1
            after = (window_size - 1 - before) if center else 0

            def _finish(sdf2, tmp, cnt_t, fin):
                return sdf2.withColumn(fin, F.when(
                    F.col(cnt_t) >= F.lit(min_periods),
                    F.col(tmp))).drop(tmp, cnt_t), fin

            def gfn(sdf):
                from .operators.rolling_kernel import \
                    attach_rolling_by_multi
                from .session import ROW_IDX as _RI

                tmp, cnt_t, fin = (_next_gord_name(), _next_gord_name(),
                                   _next_gord_name())
                try:
                    if _RI not in sdf.columns:
                        raise ValueError("rolling kernel: no row index")
                    sdf2 = attach_rolling_by_multi(
                        sdf, col(_RI), (), 0, "both",
                        [(inner, kernel_kind, tmp),
                         (inner, "count", cnt_t)],
                        row_frame=(before, after))
                except ValueError:
                    return sdf.withColumn(
                        fin, f(inner._fn(sdf, None),
                               _ordered_window(None))), fin
                return _finish(sdf2, tmp, cnt_t, fin)

            out._global_ordinal_fn = gfn
            out._needs_dense_index = True
            # round-11: SAME-FRAME row-window rolling bindings of ANY
            # width batch through ONE kernel shuffle (heterogeneous
            # entry_frames) — before, k rolling stats with k different
            # window sizes chained k attaches with a lineage checkpoint
            # between each (q164: 4 stages → 1)
            from .session import ROW_IDX as _RIB
            _fr = ("row", before, after)
            gfn._rolling_by_batch = {
                "sig": ("__rkrow__",), "by_e": col(_RIB), "span": 0,
                "closed": "both", "keys": (), "row_frame": (before, after),
                "items": [(inner, kernel_kind, _fr),
                          (inner, "count", _fr)],
                "finish": (lambda cols, sdf, _mp=min_periods:
                           F.when(cols[1] >= F.lit(_mp), cols[0])),
                "post": []}
            if kernel_kind == "median" or (
                    isinstance(kernel_kind, tuple)
                    and kernel_kind[0] == "quantile"):
                # GROUPED over(keys): median/percentile are
                # TypedImperativeAggregates — Spark REFUSES them in any
                # window frame (INVALID_WINDOW_SPEC_FOR_AGGREGATION_FUNC),
                # so there is no window route to keep; a group-local
                # ordinal (streaming row_number, O(1)/row) feeds the
                # kernel as the integer index so chunking by
                # (keys, ordinal block) keeps every anchor's row frame
                # complete in-task.  min/max/std/sum keep the partitioned
                # JVM window (parallel across keys, one exchange).
                def rfn(sdf, key_exprs):
                    from pyspark.sql import Window as _W

                    from .operators.rolling_kernel import \
                        attach_rolling_by_multi
                    from .session import ROW_IDX as _RI

                    tmp, cnt_t, fin = (_next_gord_name(),
                                       _next_gord_name(),
                                       _next_gord_name())
                    keys = [ke._fn(sdf, None) for ke in key_exprs]
                    if _RI not in sdf.columns:
                        raise NotImplementedError(
                            "grouped rolling median/quantile need the "
                            "hidden row index")
                    o_t = _next_gord_name()
                    sdf1 = sdf.withColumn(o_t, F.row_number().over(
                        _W.partitionBy(*keys).orderBy(F.col(_RI)))
                        .cast("long"))
                    sdf2 = attach_rolling_by_multi(
                        sdf1, col(o_t), key_exprs, 0, "both",
                        [(inner, kernel_kind, tmp),
                         (inner, "count", cnt_t)],
                        row_frame=(before, after))
                    sdf3, fin = _finish(sdf2, tmp, cnt_t, fin)
                    return sdf3.drop(o_t), fin

                out._grouped_remap_fn = rfn
        return out

    def _rolling_weighted(self, window_size: int, weights, center: bool, mean: bool):
        """Weighted row-frame rolling: collect the window, dot with the
        weight vector (JVM ``zip_with``/``aggregate``).  Weights require a
        full window (polars: len(weights) == window_size; partial → null)."""
        if len(weights) != window_size:
            raise ValueError("weights length must equal window_size")
        warr = F.array(*[F.lit(float(x)) for x in weights])
        wsum = float(sum(weights))

        def f(c, w):
            if center:
                before = (window_size - 1) // 2
                wf = w.rowsBetween(-before, window_size - 1 - before)
            else:
                wf = w.rowsBetween(-(window_size - 1), 0)
            arr = F.collect_list(c.cast("double")).over(wf)
            dot = F.aggregate(F.zip_with(arr, warr, lambda x, wt: x * wt),
                              F.lit(0.0), lambda a, v: a + v)
            out = dot / F.lit(wsum) if mean else dot
            return F.when(F.size(arr) >= window_size, out)

        return self._ordered(f, order_only=True)

    def rolling_sum(self, window_size: int, weights=None,
                    min_periods: int | None = None, center: bool = False):
        if weights is not None:
            return self._rolling_weighted(window_size, weights, center, mean=False)
        return self._rolling(F.sum, window_size, min_periods, center,
                             kernel_kind="sum")

    def rolling_mean(self, window_size: int, weights=None,
                     min_periods: int | None = None, center: bool = False):
        if weights is not None:
            return self._rolling_weighted(window_size, weights, center, mean=True)
        return self._rolling(F.avg, window_size, min_periods, center,
                             kernel_kind="mean")

    def rolling_min(self, window_size: int, min_periods: int | None = None, center: bool = False):
        return self._rolling(F.min, window_size, min_periods, center,
                             kernel_kind="min")

    def rolling_max(self, window_size: int, min_periods: int | None = None, center: bool = False):
        return self._rolling(F.max, window_size, min_periods, center,
                             kernel_kind="max")

    def rolling_std(self, window_size: int, min_periods: int | None = None, center: bool = False, ddof: int = 1):
        return self._rolling(F.stddev_samp if ddof == 1 else F.stddev_pop,
                             window_size, min_periods, center,
                             kernel_kind=("std", 1 if ddof == 1 else 0))

    def rolling_var(self, window_size: int, min_periods: int | None = None, center: bool = False, ddof: int = 1):
        return self._rolling(F.var_samp if ddof == 1 else F.var_pop,
                             window_size, min_periods, center,
                             kernel_kind=("var", 1 if ddof == 1 else 0))

    def rolling_median(self, window_size: int, min_periods: int | None = None, center: bool = False):
        return self._rolling(F.median, window_size, min_periods, center,
                             kernel_kind="median")

    def rolling_quantile(self, q: float, window_size: int, min_periods: int | None = None,
                         center: bool = False, interpolation: str = "nearest"):
        # round-11: honors the interpolation mode ("nearest" default like
        # polars — rolling_quantile doctest); the JVM fallback gathers the
        # sorted window buffer, the kernel route answers exactly.  Rolling
        # "nearest" is polars' trunc(n*q) kernel indexing (nearest_roll),
        # NOT the agg quantile's round((n-1)*q) — see _q_from_sorted.
        interp = "nearest_roll" if interpolation == "nearest" else interpolation

        def aggf(c):
            if interp == "linear":
                return F.percentile(c, F.lit(q))
            arr = F.array_sort(F.filter(
                F.collect_list(c), lambda x: x.isNotNull()))
            return F.when(F.size(arr) > 0,
                          _q_from_sorted(arr, q, interp)
                          ).cast("double")

        return self._rolling(aggf, window_size, min_periods, center,
                             kernel_kind=("quantile", float(q), interp))

    def _rolling_by(self, aggf, by, window_size: str, closed: str = "right",
                    kernel_kind=None):
        """Time-based rolling (expr.rb:3964-4848): range frame over the `by`
        timestamp column. Calendar units rejected (no fixed span).

        Round-9: the NON-PREFIX aggregates (min/max/median/quantile/std/
        var — ``kernel_kind``) additionally carry the sliding-kernel frame
        attachments: Spark's SlidingWindowFunctionFrame re-aggregates the
        whole buffer per row (median/percentile even collect + sort it —
        O(n·w log w)), the q143-class density wall; the kernel answers the
        same windows in O(n log w) per chunk (operators/rolling_kernel.
        attach_rolling_by_multi).  sum/mean/count keep the plain window
        binding — cheap per-row JVM re-aggregation AND the sort-key fast
        path, which hook-bearing exprs forgo.  Any attach-time failure (exotic frame
        dtype, unsupported value dtype) falls back to the window route."""
        from .functions.duration import parse_duration

        dur = parse_duration(window_size)
        span = int(dur.total_seconds() * 1_000_000)  # µs
        by_e = as_expr(by)

        def fn(df, part):
            c = self._fn(df, part)
            ts = by_e._fn(df, part)
            long_ts = F.unix_micros(ts.cast("timestamp"))
            w = Window.partitionBy(*(part or [])).orderBy(long_ts)
            lo, hi = -span, 0
            if closed == "right":
                lo = -span + 1
            elif closed == "left":
                hi = -1
                lo = -span
            elif closed == "none":
                lo, hi = -span + 1, -1
            return aggf(c).over(w.rangeBetween(lo, hi))

        e = Expr(fn, name=self._name, needs_order=self._needs_order)
        e._scrambles_order = True   # WindowExec leaves rows sorted by `by`
        # orders by the `by` column itself — never touches ROW_IDX
        e._order_only = self._order_safe and by_e._order_safe
        if (kernel_kind is not None and not dur.is_calendar
                and not self._needs_order and not self._scrambles_order
                and self._agg_list_fn is None and self._multi_fn is None
                and self._frame_fn is None and self._agg_pre_fn is None
                and not by_e._needs_order and by_e._multi_fn is None):
            inner = self

            def attach(sdf, key_exprs):
                from .operators.rolling_kernel import \
                    attach_rolling_by_multi

                tmp = _next_gord_name()
                return attach_rolling_by_multi(
                    sdf, by_e, list(key_exprs), span, closed,
                    [(inner, kernel_kind, tmp)]), tmp

            def gfn(sdf):
                try:
                    return attach(sdf, ())
                except ValueError:
                    tmp = _next_gord_name()
                    return sdf.withColumn(tmp, fn(sdf, [])), tmp

            def rfn(sdf, key_exprs):
                try:
                    return attach(sdf, key_exprs)
                except ValueError:
                    keys = [ke._fn(sdf, None) for ke in key_exprs]
                    tmp = _next_gord_name()
                    return sdf.withColumn(tmp, fn(sdf, keys)), tmp

            # batch metadata: SAME-FRAME rolling_by bindings sharing
            # (by, span, closed, keys) run through ONE kernel shuffle
            # (frame._bind_all consumer; the ewm/cum batching lesson) —
            # the signature needs a comparable by-identity, so only plain
            # string `by` columns batch; over() appends the key names
            if isinstance(by, str):
                # round-11: the sig keys the BY column only — bindings
                # with different spans/closed batch through one shuffle
                # via per-entry frames
                batch = {"sig": ("__rkby__", by), "inner": inner,
                         "by_e": by_e, "span": span, "closed": closed,
                         "frame": ("span", span, closed),
                         "kind": kernel_kind, "keys": (), "post": []}
                gfn._rolling_by_batch = batch
                rfn._rolling_by_batch = batch
            e._global_ordinal_fn = gfn
            e._grouped_remap_fn = rfn
        # meta tracking: root_names covers the value AND the by column
        return e._set_meta(
            "rolling_by",
            (self,) + ((col(by),) if isinstance(by, str)
                       else (by,) if isinstance(by, Expr) else ()))

    def rolling_sum_by(self, by, window_size: str, closed: str = "right"):
        return self._rolling_by(F.sum, by, window_size, closed)

    def rolling_mean_by(self, by, window_size: str, closed: str = "right"):
        return self._rolling_by(F.avg, by, window_size, closed)

    def rolling_min_by(self, by, window_size: str, closed: str = "right"):
        return self._rolling_by(F.min, by, window_size, closed,
                                kernel_kind="min")

    def rolling_max_by(self, by, window_size: str, closed: str = "right"):
        return self._rolling_by(F.max, by, window_size, closed,
                                kernel_kind="max")

    def rolling_skew(self, window_size: int, bias: bool = True,
                     min_periods: int | None = None):
        """expr.rb:5567 — Spark's skewness is the biased g1 = m3/m2^1.5,
        matching polars bias=True (the rolling default).  bias=False applies
        the sample correction G1 = g1 * sqrt(n(n-1))/(n-2) (null for n<3,
        matching scipy/polars), composed over the same row frame — one
        window, no extra shuffle."""
        if bias:
            return self._rolling(F.skewness, window_size,
                                 min_periods if min_periods is not None else window_size,
                                 center=False)

        mp = min_periods if min_periods is not None else window_size

        def f(c, w):
            wf = w.rowsBetween(-(window_size - 1), 0)
            g1 = F.skewness(c).over(wf)
            n = F.count(c).over(wf).cast("double")
            corr = F.sqrt(n * (n - F.lit(1.0))) / (n - F.lit(2.0))
            return F.when((n >= mp) & (n > 2), g1 * corr)

        return self._ordered(f)

    def rolling_std_by(self, by, window_size: str, closed: str = "right", ddof: int = 1):
        f = F.stddev_samp if ddof == 1 else F.stddev_pop
        return self._rolling_by(f, by, window_size, closed,
                                kernel_kind=("std", 1 if ddof == 1 else 0))

    def rolling_var_by(self, by, window_size: str, closed: str = "right", ddof: int = 1):
        f = F.var_samp if ddof == 1 else F.var_pop
        return self._rolling_by(f, by, window_size, closed,
                                kernel_kind=("var", 1 if ddof == 1 else 0))

    def rolling_median_by(self, by, window_size: str, closed: str = "right"):
        return self._rolling_by(F.median, by, window_size, closed,
                                kernel_kind="median")

    def rolling_quantile_by(self, by, window_size: str, quantile: float = 0.5,
                            closed: str = "right",
                            interpolation: str = "nearest"):
        # round-11: honors interpolation with the reference's "nearest"
        # default (expr.rb rolling_quantile_by doctest) — rolling nearest is
        # the trunc(n*q) kernel indexing (nearest_roll, _q_from_sorted)
        interp = ("nearest_roll" if interpolation == "nearest"
                  else interpolation)
        if interp == "linear":
            aggf = lambda c: F.percentile(c, F.lit(quantile))  # noqa: E731
        else:
            def aggf(c):
                arr = F.array_sort(F.filter(
                    F.collect_list(c), lambda x: x.isNotNull()))
                return F.when(F.size(arr) > 0,
                              _q_from_sorted(arr, quantile, interp)
                              ).cast("double")
        return self._rolling_by(aggf, by, window_size, closed,
                                kernel_kind=("quantile", float(quantile),
                                             interp))

    def rolling_count_by(self, by, window_size: str, closed: str = "right"):
        return self._rolling_by(F.count, by, window_size, closed)

    # -- ewm (expr.rb:6381-6482) ------------------------------------------------------
    def _ewm(self, kind: str, com, span, half_life, alpha, adjust, bias,
             min_periods, ignore_nulls):
        """Shared ewm builder (expr.rb:6381-6482 ewm_mean/ewm_std/ewm_var).

        Scale path: the block-segmented prescaled numpy scan in
        operators/ewm.py — O(n) per group, no per-row prefix arrays (the
        round-2 verdict's one O(n²) plan).  Attached through the frame
        hooks: ``_grouped_remap_fn`` for ``.over(keys)`` (one Arrow kernel
        over the frame partitioned on the keys and sorted by keys and row
        order), ``_global_ordinal_fn`` for the ungrouped
        select/with_columns binding (a per-partition Arrow kernel with
        lazily folded affine carries).

        A window-based fallback ``_fn`` (expanding weighted sums over a
        RANGE of the non-null index — still O(n²) per group, but exact)
        remains for bindings the hooks cannot reach (mixed with unplanned
        composed aggregates).
        """
        a = _prepare_alpha(com, span, half_life, alpha)
        spec = {"alpha": a, "lam": 1.0 - a, "kind": kind, "adjust": adjust,
                "bias": bias, "min_periods": min_periods,
                "ignore_nulls": ignore_nulls}
        inner = self

        def fallback(c, w):
            import warnings

            warnings.warn(
                "ewm_* composed with other aggregates in one expression "
                "falls back to an O(n^2) expanding-window scan; bind the "
                "ewm alone (select/with_columns, optionally .over(keys)) "
                "to get the O(n) segmented scan, then combine columns",
                RuntimeWarning, stacklevel=3)
            if not adjust and not ignore_nulls:
                # RESET-NORMALIZED form (pandas/polars): at each obs k
                # periods after the previous, y = (lam^k*y + a*x)/(lam^k+a)
                # — normalized weights sum to 1 at every step, so history
                # rescales per observation and no fixed weight-product
                # model exists (operators/ewm.py, reset form).  Run the
                # same recursion on (s1, s2, sq) sequentially in the HOF.
                arr = F.collect_list(
                    F.struct(c.cast("double").alias("v"))).over(
                    w.rowsBetween(Window.unboundedPreceding, 0))
                zero = F.struct(
                    F.lit(0.0).alias("s1"), F.lit(0.0).alias("s2"),
                    F.lit(0.0).alias("sq"), F.lit(0).alias("k"),
                    F.lit(0).alias("gap"))

                def rstep(acc, x):
                    xv = x["v"]
                    nn = xv.isNotNull()
                    lamk = F.pow(F.lit(1 - a),
                                 acc["gap"].cast("double"))
                    den = lamk + F.lit(a)
                    mm = F.when(acc["k"] > 0, lamk / den).otherwise(
                        F.lit(0.0))
                    ap = F.when(acc["k"] > 0, F.lit(a) / den).otherwise(
                        F.lit(1.0))
                    xd = F.coalesce(xv, F.lit(0.0))
                    return F.struct(
                        F.when(nn, mm * acc["s1"] + ap * xd)
                        .otherwise(acc["s1"]).alias("s1"),
                        F.when(nn, mm * acc["s2"] + ap * xd * xd)
                        .otherwise(acc["s2"]).alias("s2"),
                        F.when(nn, mm * mm * acc["sq"] + ap * ap)
                        .otherwise(acc["sq"]).alias("sq"),
                        (acc["k"] + F.when(nn, 1).otherwise(0)).alias("k"),
                        F.when(nn, F.lit(1)).otherwise(acc["gap"] + 1)
                        .alias("gap"))

                m = F.aggregate(arr, zero, rstep)
                mean = m["s1"]
                if kind == "mean":
                    out = mean
                else:
                    var = F.greatest(m["s2"] - mean * mean, F.lit(0.0))
                    if not bias:
                        dd = F.lit(1.0) - m["sq"]
                        var = F.when(dd > 0, var / dd).otherwise(F.lit(0.0))
                    var = F.when(m["k"] == 1, F.lit(0.0)).otherwise(var)
                    out = F.sqrt(var) if kind == "std" else var
                return F.when(m["k"] >= max(min_periods, 1), out)
            # decay index j = non-null count (ignore_nulls) or ROW position
            # (not ignore_nulls): structs keep null observations so
            # absolute positions survive the collect; c_i = 1 (adjust) |
            # alpha except 1 at the first non-null (non-adjust) — the same
            # weight model as the O(n) segmented scan (ewm.py docstring)
            if ignore_nulls:
                arr = F.transform(
                    F.collect_list(c).over(
                        w.rowsBetween(Window.unboundedPreceding, 0)),
                    lambda x: F.struct(x.cast("double").alias("v")))
            else:
                arr = F.collect_list(
                    F.struct(c.cast("double").alias("v"))).over(
                    w.rowsBetween(Window.unboundedPreceding, 0))
            n = F.size(arr)
            zero = F.struct(F.lit(0.0).alias("s0"), F.lit(0.0).alias("s1"),
                            F.lit(0.0).alias("s2"), F.lit(0.0).alias("sq"),
                            F.lit(0).alias("i"), F.lit(0).alias("k"))

            def step(acc, x):
                xv = x["v"]
                nn = xv.isNotNull()
                wgt = F.pow(F.lit(1 - a), (n - 1 - acc["i"]).cast("double"))
                if not adjust:
                    wgt = F.when(acc["k"] > 0, wgt * a).otherwise(wgt)
                w_eff = F.when(nn, wgt).otherwise(F.lit(0.0))
                xd = F.coalesce(xv, F.lit(0.0))
                return F.struct((acc["s0"] + w_eff).alias("s0"),
                                (acc["s1"] + w_eff * xd).alias("s1"),
                                (acc["s2"] + w_eff * xd * xd).alias("s2"),
                                (acc["sq"] + w_eff * w_eff).alias("sq"),
                                (acc["i"] + 1).alias("i"),
                                (acc["k"] + F.when(nn, 1).otherwise(0))
                                .alias("k"))

            m = F.aggregate(arr, zero, step)
            mean = m["s1"] / m["s0"]
            if kind == "mean":
                out = mean
            else:
                var = F.greatest(m["s2"] / m["s0"] - mean * mean, F.lit(0.0))
                if not bias:
                    denom = m["s0"] * m["s0"] - m["sq"]
                    var = F.when(denom > 0,
                                 var * m["s0"] * m["s0"] / denom).otherwise(
                        F.lit(0.0))
                out = F.sqrt(var) if kind == "std" else var
            return F.when(m["k"] >= max(min_periods, 1), out)

        e = self._ordered(fallback)
        e._name = self._name

        def gfn(sdf):
            from .operators.ewm import attach_ewm_global_multi

            tmp = _next_gord_name()
            return attach_ewm_global_multi(
                sdf, [(lambda df: inner._fn(df, None), spec, tmp)]), tmp

        # batch metadata: the frame binder coalesces SAME-FRAME ewm
        # bindings into one attach_ewm_global_multi call (one kernel pass
        # and one carry fold for all bindings — round-6)
        gfn._ewm_batch = {"value": (lambda df: inner._fn(df, None)),
                          "spec": spec, "post": []}
        e._global_ordinal_fn = gfn

        def remap(sdf, key_exprs):
            from .operators.ewm import attach_ewm_grouped

            tmp = _next_gord_name()
            return attach_ewm_grouped(
                sdf, lambda df: inner._fn(df, None),
                lambda df: [ke._fn(df, None) for ke in key_exprs],
                spec, tmp), tmp

        e._grouped_remap_fn = remap
        return e

    def ewm_mean(self, com=None, span=None, half_life=None, alpha=None,
                 adjust: bool = True, min_periods: int = 1,
                 ignore_nulls: bool = True):
        """Exponentially weighted mean over implicit row order (expr.rb:6381)."""
        return self._ewm("mean", com, span, half_life, alpha, adjust, False,
                         min_periods, ignore_nulls)

    def ewm_var(self, com=None, span=None, half_life=None, alpha=None,
                adjust: bool = True, bias: bool = False, min_periods: int = 1,
                ignore_nulls: bool = True):
        """Exponentially weighted variance (expr.rb:6482)."""
        return self._ewm("var", com, span, half_life, alpha, adjust, bias,
                         min_periods, ignore_nulls)

    def ewm_std(self, com=None, span=None, half_life=None, alpha=None,
                adjust: bool = True, bias: bool = False, min_periods: int = 1,
                ignore_nulls: bool = True):
        """Exponentially weighted std (expr.rb:6381)."""
        return self._ewm("std", com, span, half_life, alpha, adjust, bias,
                         min_periods, ignore_nulls)

    # -- rle / peaks / binning ----------------------------------------------------------
    def rle(self):
        """Compress runs into (len, value) struct rows (expr.rb:2646).

        Sole-select binding is DISTRIBUTED gaps-and-islands: run ids from
        the scale-safe two-pass ``attach_global_rle_id`` → one hash agg per
        run (len = count, value = any member) → ordered by run id.  The
        former single-cell ``F.aggregate`` fold re-built the accumulator
        array per element — O(n²) copies in one task (>90 s at 150k rows;
        this shape: sub-second).  The fold remains only as the agg-context
        fallback (lists inside group_by.agg are per-group small).
        """
        inner = self

        def frame_fn(lf, out_name):
            from .frame import LazyFrame
            from .operators.row_index import attach_global_rle_id

            out_name = out_name or inner._name or "rle"
            df = lf._ensure_row_index()._sdf
            with_id = attach_global_rle_id(
                df, lambda d: inner._fn(d, None), "__rle_rid__")
            runs = (with_id.groupBy("__rle_rid__")
                    .agg(F.count(F.lit(1)).alias("len"),
                         F.any_value(inner._fn(with_id, None)).alias("value")))
            out = (runs.orderBy("__rle_rid__")
                   .select(F.struct(F.col("len"), F.col("value")).alias(out_name)))
            return LazyFrame(out)

        def fn(df, part):
            # agg / list.eval: per-group LIST of (len, value) structs over
            # the (possibly order-transformed) collected array (round-5)
            routed = self._route_arr(df)
            if routed is not None:
                vals = routed
                try:
                    vt = _probe_type(df, routed).elementType.simpleString()
                except Exception:
                    vt = "string"
            else:
                c = self._fn(df, part)
                try:
                    vt = _probe_type(df, c).simpleString()
                except Exception:
                    vt = "string"
                arr = F.sort_array(F.collect_list(
                    F.struct(F.col(ROW_IDX).alias("i"), c.alias("v"))))
                vals = F.transform(arr, lambda s: s["v"])
            init = F.array().cast(f"array<struct<len:bigint,value:{vt}>>")

            def merge(acc, v):
                last = F.element_at(acc, -1)
                start = F.concat(acc, F.array(F.struct(
                    F.lit(1).cast("bigint").alias("len"), v.alias("value"))))
                extend = F.concat(
                    F.slice(acc, 1, F.size(acc) - 1),
                    F.array(F.struct((last["len"] + 1).alias("len"),
                                     v.alias("value"))))
                return F.when((F.size(acc) == 0) | ~last["value"].eqNullSafe(v),
                              start).otherwise(extend)

            runs = F.aggregate(vals, init, merge)
            return runs if routed is not None else F.explode(runs)

        e = Expr(fn, name=self._name, needs_order=True, is_agg=True)
        e._frame_fn = frame_fn
        return e

    def rle_id(self):
        """Run ids (expr.rb:2674): gaps-and-islands cumsum of change points."""

        def f(c, w):
            # the FIRST row must register explicitly: a null first value
            # null-safe-equals the missing lag and would start ids at -1
            change = F.when(F.row_number().over(w) == 1, 1).otherwise(
                F.when(~c.eqNullSafe(F.lag(c, 1).over(w)), 1).otherwise(0))
            cum = F.sum(change).over(w.rowsBetween(Window.unboundedPreceding, 0))
            # first row registers as a change → ids start at 1; polars starts at 0
            return (cum - 1).cast("long")

        e = self._ordered(f)
        if self._multi_fn is None:
            inner = self

            def gfn(sdf):
                from .operators.row_index import attach_global_rle_id

                tmp = _next_gord_name()
                return attach_global_rle_id(
                    sdf, lambda df: inner._fn(df, None), tmp), tmp

            e._global_ordinal_fn = gfn
        return e

    def _peak(self, want_max: bool):
        sent = float("-inf") if want_max else float("inf")

        def cmp_(c, other):
            o = F.coalesce(other, F.lit(sent))
            return (c > o) if want_max else (c < o)

        def f(c, w):
            return cmp_(c, F.lag(c, 1).over(w)) & \
                cmp_(c, F.lead(c, 1).over(w))

        e = self._ordered(f)
        if (not self._needs_order and not self._scrambles_order
                and self._agg_list_fn is None and self._multi_fn is None
                and self._frame_fn is None and self._agg_pre_fn is None):
            # round-9: ungrouped peaks bound a KEYLESS lag+lead window
            # (one task) — the kernel's single-row frames host both
            # neighbours; grouped over(keys) keeps the partitioned lags
            inner = self

            def gfn(sdf):
                from .operators.rolling_kernel import \
                    attach_rolling_by_multi
                from .session import ROW_IDX as _RI

                tp, tn, fin = (_next_gord_name(), _next_gord_name(),
                               _next_gord_name())
                try:
                    if _RI not in sdf.columns:
                        raise ValueError("peak kernel: no row index")
                    sdf1 = attach_rolling_by_multi(
                        sdf, col(_RI), (), 0, "both",
                        [(inner, "minraw", tp)], row_frame=(1, -1))
                    sdf2 = attach_rolling_by_multi(
                        sdf1, col(_RI), (), 0, "both",
                        [(inner, "minraw", tn)], row_frame=(-1, 1))
                except ValueError:
                    t2 = _next_gord_name()
                    return sdf.withColumn(
                        t2, f(inner._fn(sdf, None),
                              _ordered_window(None))), t2
                c = inner._fn(sdf2, None)
                return sdf2.withColumn(
                    fin, cmp_(c, F.col(tp)) & cmp_(c, F.col(tn))
                ).drop(tp, tn), fin

            e._global_ordinal_fn = gfn
            e._needs_dense_index = True
        return e

    def peak_max(self):
        return self._peak(True)

    def peak_min(self):
        return self._peak(False)

    def cut(self, breaks: list, labels: list[str] | None = None,
            left_closed: bool = False, include_breaks: bool = False):
        """Bin continuous values (expr.rb:2530). Default right-closed like
        polars; ``include_breaks`` yields a struct{breakpoint, category}
        (upper bin edge, inf for the last bin — expr.rb:2515 example)."""

        def fn(df, part):
            c = self._fn(df, part)
            brs = sorted(breaks)
            edges = [float("-inf")] + [float(b) for b in brs] + [float("inf")]
            if labels is not None:
                labs = list(labels)
            else:
                labs = []
                op, cl = ("[", ")") if left_closed else ("(", "]")
                for i in range(len(edges) - 1):
                    lo = "-inf" if edges[i] == float("-inf") else _fmt_num(edges[i])
                    hi = "inf" if edges[i + 1] == float("inf") else _fmt_num(edges[i + 1])
                    labs.append(f"{op}{lo}, {hi}{cl}")
            out = None
            brk = None
            for i, b in enumerate(brs):
                cond = (c < b) if left_closed else (c <= b)
                out = F.when(cond, F.lit(labs[i])) if out is None else out.when(cond, F.lit(labs[i]))
                if include_breaks:
                    bb = F.lit(float(b))
                    brk = F.when(cond, bb) if brk is None else brk.when(cond, bb)
            out = out.otherwise(F.lit(labs[len(brs)])) if out is not None else F.lit(labs[0])
            cat = F.when(c.isNotNull(), out)  # null stays UNBINNED
            if not include_breaks:
                return cat
            inf = F.lit(float("inf"))
            brk = brk.otherwise(inf) if brk is not None else inf
            return F.when(c.isNotNull(), F.struct(
                brk.alias("breakpoint"), cat.alias("category")))

        return _merge_agg_flags(Expr(fn, name=self._name), [self])._set_meta(
            "cut", (self,))

    def qcut(self, quantiles, labels: list[str] | None = None,
             left_closed: bool = False, allow_duplicates: bool = False,
             include_breaks: bool = False):
        """Bin by quantiles of the data (expr.rb:2611, feature cutqcut).

        Two-pass: break points come from a first exact-percentile aggregate
        pass (one tiny scalar result to the driver — swap to
        ``percentile_approx`` at extreme scale), then lowers to :meth:`cut`.
        """
        if self._multi_fn is not None:
            mf = self._multi_fn
            return Expr(multi_fn=lambda df: [
                e.qcut(quantiles, labels=labels, left_closed=left_closed,
                       allow_duplicates=allow_duplicates,
                       include_breaks=include_breaks)
                for e in mf(df)])

        def fn(df, part):
            qs = ([i / quantiles for i in range(1, quantiles)]
                  if isinstance(quantiles, int) else list(quantiles))
            c = self._fn(df, part)
            if part is not None:
                # grouped (over() / agg pre-stage): polars evaluates per
                # sub-series — quantile breaks are PER GROUP.  One windowed
                # exact percentile (shares the keys' exchange), then a
                # JVM-side bin lookup + label build — no driver action.
                w = Window.partitionBy(*part)
                brs = F.percentile(c.cast("double"), F.lit(qs)).over(w)
                if allow_duplicates:
                    brs = F.array_distinct(brs)  # percentile is sorted
                idx = F.size(F.filter(
                    brs, lambda b: (c >= b) if left_closed else (c > b)))
                if labels is not None and not include_breaks:
                    return F.when(c.isNotNull(), F.element_at(
                        F.array(*[F.lit(x) for x in labels]), idx + 1))

                def fmt(d):
                    return F.when(
                        d == F.floor(d),
                        d.cast("bigint").cast("string")
                    ).otherwise(d.cast("string"))

                lo = F.when(idx == 0, F.lit("-inf")).otherwise(
                    fmt(F.element_at(brs, idx)))
                hi = F.when(idx == F.size(brs), F.lit("inf")).otherwise(
                    fmt(F.element_at(brs, idx + 1)))
                br = "[" if left_closed else "("
                kt = ")" if left_closed else "]"
                cat = F.when(c.isNotNull(), F.concat(
                    F.lit(br), lo, F.lit(", "), hi, F.lit(kt)))
                if labels is not None:
                    cat = F.when(c.isNotNull(), F.element_at(
                        F.array(*[F.lit(x) for x in labels]), idx + 1))
                if not include_breaks:
                    return cat
                bp = F.when(idx == F.size(brs), F.lit(float("inf"))) \
                    .otherwise(F.element_at(brs, idx + 1).cast("double"))
                return F.when(c.isNotNull(), F.struct(
                    bp.alias("breakpoint"), cat.alias("category")))
            row = df.select(F.percentile(c, F.lit(qs)).alias("b")).first()
            breaks = [float(b) for b in row["b"]]
            if allow_duplicates:
                breaks = sorted(set(breaks))
            return self.cut(breaks, labels=labels, left_closed=left_closed,
                            include_breaks=include_breaks)._fn(df, part)

        e = Expr(fn, name=self._name, needs_order=self._needs_order)
        # grouped binds need the windowed-percentile pre-stage (agg) and
        # the partition-only window scrambles physical order
        e._scrambles_order = True
        return e._set_meta("qcut", (self,))

    def replace(self, old, new=None, default=_NO_DEFAULT, return_dtype=None):
        """Value mapping, unmatched pass through (expr.rb:6915, feature
        replace).  ``default: nil`` (explicit) null-fills unmatched values
        — the result dtype then comes from the NEW values (replace
        doctest); omitted default keeps the original values.  old/new may
        be EXPRESSIONS: aggregates are scalarized via a one-row probe
        (bounded driver fetch, like shrink_dtype), plain exprs inline."""
        expr_mode = isinstance(old, Expr) or isinstance(new, Expr)
        mapping = None if expr_mode else _replace_mapping(old, new)

        def fn(df, part):
            c = self._fn(df, part)
            if expr_mode:
                cond = c.eqNullSafe(_scalarize(old, df, part))
                out = F.when(cond, _scalarize(new, df, part))
            else:
                out = None
                for k, v in mapping.items():
                    cond = c.eqNullSafe(F.lit(k))
                    out = (F.when(cond, _lit_wide(v)) if out is None
                           else out.when(cond, _lit_wide(v)))
            if default is _NO_DEFAULT:
                fallback = c
            elif default is None:
                fallback = F.lit(None)
            else:
                fallback = _scalarize(default, df, part)
            res = out.otherwise(fallback) if out is not None else fallback
            return _cast_return_dtype(res, return_dtype)

        kids = [self] + [x for x in (old, new, default)
                         if isinstance(x, Expr) and not x._is_agg]
        return _merge_agg_flags(Expr(fn, name=self._name), kids)._set_meta(
            "replace", (self,))

    def replace_strict(self, old, new=None, default=_NO_DEFAULT,
                       return_dtype=None):
        """Value mapping (expr.rb:7071): unmatched → ``default`` when given,
        else RAISES at execution time — compiled to a JVM-side
        ``F.raise_error`` in the otherwise-branch, so the check rides the
        same codegen projection (no extra job, no driver scan); matches the
        reference's strict semantics.  Pass ``default=None`` explicitly to
        null-fill unmatched values."""
        expr_mode = isinstance(old, Expr) or isinstance(new, Expr)
        mapping = None if expr_mode else _replace_mapping(old, new)

        def fn(df, part):
            c = self._fn(df, part)
            if expr_mode:
                cond = c.eqNullSafe(_scalarize(old, df, part))
                out = F.when(cond, _scalarize(new, df, part))
            else:
                out = None
                for k, v in mapping.items():
                    cond = c.eqNullSafe(F.lit(k))
                    out = (F.when(cond, _lit_wide(v)) if out is None
                           else out.when(cond, _lit_wide(v)))
            if default is _NO_DEFAULT:
                fallback = F.raise_error(F.concat(
                    F.lit("replace_strict: value not mapped: "),
                    F.coalesce(c.cast("string"), F.lit("null"))))
            elif default is None:
                fallback = F.lit(None)
            else:
                fallback = _scalarize(default, df, part)
            res = out.otherwise(fallback) if out is not None else fallback
            return _cast_return_dtype(res, return_dtype)

        kids = [self] + [x for x in (old, new, default)
                         if isinstance(x, Expr) and x is not _NO_DEFAULT
                         and not x._is_agg]
        return _merge_agg_flags(Expr(fn, name=self._name), kids)._set_meta(
            "replace_strict", (self,))

    # -- over ------------------------------------------------------------------------
    def over(self, *keys):
        """Grouped-aggregate broadcast (expr.rb:2278) → Window.partitionBy."""
        flat: list = []
        for k in keys:
            if isinstance(k, (list, tuple)):
                flat.extend(k)
            else:
                flat.append(k)
        # strings are column names here (not literals) — expr.rb:2278 over(keys)
        key_exprs = [col(k) if isinstance(k, str) else wrap_expr(k) for k in flat]

        def fn(df, part):
            cols = [e._fn(df, None) for e in key_exprs]
            return self._fn(df, cols)

        out = Expr(fn, name=self._name, is_agg=False,
                   needs_order=self._needs_order)._set_meta(
                       "window", (self, *key_exprs))
        # the partitionBy exchange scrambles physical row order on any
        # multi-partition plan (Expr.over doctest: select(sum().over(k))
        # must come back in input order) — mark for the deferred restore
        out._scrambles_order = True
        out._order_only = self._order_only and all(
            k._order_safe for k in key_exprs)
        if self._grouped_remap_fn is not None:
            remap = self._grouped_remap_fn
            out._global_ordinal_fn = lambda sdf: remap(sdf, key_exprs)
            out._needs_order = True
            b = getattr(remap, "_rolling_by_batch", None)
            if b is not None and all(
                    k._meta and k._meta[0] == "col" for k in key_exprs):
                # plain-column keys extend the batch signature; expr keys
                # have no comparable identity → the binding attaches solo
                out._global_ordinal_fn._rolling_by_batch = {
                    **b, "keys": tuple(key_exprs),
                    "sig": b["sig"] + tuple(k._meta[2] for k in key_exprs)}
        return out

    # -- misc ---------------------------------------------------------------------------
    def filter(self, predicate):
        """Filter *inside agg context* (expr.rb:2713): conditional
        aggregation.  Null-skipping aggregates see non-matching elements
        nulled (cheap codegen'd conditional agg); the ordered-array route
        REMOVES them (polars drops elements), so bare lists / len /
        implode over a filter come out element-exact (round-5)."""
        p = wrap_expr(predicate)
        e = self._lift2(p, lambda c, cond: F.when(cond, c), name=self._name)
        base_inner = (self._agg_list_base if self._agg_list_fn is not None
                      else self)
        slf = self._agg_list_fn
        pair = base_inner._lift2(
            p, lambda v, c: F.struct(v.alias("v"), c.alias("c")))

        def arr_fn(arr):
            vs = F.transform(arr, lambda s: s["v"])
            if slf is not None:
                vs = slf(vs)  # order-transform applies BEFORE the mask
            keep = F.transform(arr, lambda s: s["c"])
            z = F.zip_with(vs, keep, lambda v, c: F.struct(
                v.alias("v"), F.coalesce(c, F.lit(False)).alias("c")))
            return F.transform(F.filter(z, lambda s: s["c"]),
                               lambda s: s["v"])

        e._agg_list_fn = arr_fn
        e._agg_list_base = pair
        e._needs_order = True
        inner = self

        def frame_fn(lf, out_name):
            # sole select: polars REMOVES non-matching rows.  Evaluate the
            # expression and mask on the FULL frame first (windowed inners
            # see every row), then filter and project.
            out_name = out_name or inner._name or "filter"
            lf2 = lf.with_columns(inner.alias(out_name),
                                  p.alias("__flt_mask__"))
            return (lf2.filter(col("__flt_mask__"))
                    .select(col(out_name)))

        e._frame_fn = frame_fn
        return e

    where = filter  # expr.rb:2748 alias

    def exclude(self, *names):
        import re as _re

        flat = []
        for n in names:
            flat.extend(n) if isinstance(n, (list, tuple)) else flat.append(n)
        plain, pats, dtypes = set(), [], []
        for n in flat:
            if isinstance(n, str) and n.startswith("^") and n.endswith("$"):
                # expr.rb exclude: '^regex$' patterns drop matching columns
                pats.append(_re.compile(n))
            elif isinstance(n, str):
                plain.add(n)
            else:
                # dtype class/instance: drop columns of that family
                dtypes.append(to_spark_type(n))
        base = self

        def mf(df):
            out = []
            for e in base._expand(df):
                nm = e._name
                if nm in plain or any(p.match(nm or "") for p in pats):
                    continue
                if dtypes and nm in df.columns and any(
                        isinstance(df.schema[nm].dataType, type(t))
                        for t in dtypes):
                    continue
                out.append(e)
            return out

        return Expr(multi_fn=mf)

    def explode(self):
        # explode_OUTER: polars yields one null row for empty/null lists
        # (bare F.explode silently drops those source rows)
        return self._lift(F.explode_outer)

    def flatten(self):
        return self._lift(F.flatten)

    def reshape(self, dims):
        """Reshape to a flat column or fixed-width list rows (expr.rb:6233).

        Row-count-changing, so only valid as the SOLE expression of a
        ``select`` (matching the reference, where the output length
        differs).  Scale shape: 2-D groups rows by ``row_idx div width``
        (hash aggregate; ``collect_list`` cells bounded by the width);
        flatten is a ``posexplode`` with order restored by a (row, pos)
        sort.  A ``-1`` row dim is inferred; inference/validation costs one
        count action at plan time (the reference knows lengths eagerly).
        """
        dims = list(dims)
        if not dims or len(dims) > 2:
            raise ValueError("reshape supports 1-D and 2-D dims only")
        inner = self

        def frame_fn(lf, out_name):
            from pyspark.sql.types import ArrayType

            from .frame import LazyFrame
            from .session import ROW_IDX

            out_name = out_name or inner._name or "reshape"
            df = lf._ensure_row_index()._sdf
            named = df.select(F.col(ROW_IDX).alias("__i__"),
                              inner._fn(df, None).alias(out_name))
            if len(dims) == 1:
                dt = named.schema[out_name].dataType
                if isinstance(dt, ArrayType):
                    flat = named.select(
                        "__i__", F.posexplode(out_name).alias("__p__", out_name))
                else:
                    flat = named.withColumn("__p__", F.lit(0))
                return LazyFrame(flat).sort(["__i__", "__p__"]).drop("__i__", "__p__")
            r, width = dims
            n = named.count()
            if width == -1:
                if r <= 0 or n % r:
                    raise ValueError(f"cannot reshape {n} rows into {r} rows")
                width = n // r
            elif n % width:
                raise ValueError(f"cannot reshape {n} rows into width {width}")
            rows = (named.groupBy(
                        F.floor(F.col("__i__") / F.lit(width)).cast("long").alias("__g__"))
                    .agg(F.transform(
                        F.sort_array(F.collect_list(F.struct(
                            F.col("__i__").alias("i"), F.col(out_name).alias("v")))),
                        lambda s: s["v"]).alias(out_name)))
            return LazyFrame(rows).sort("__g__").drop("__g__")

        e = Expr(None, name=inner._name)
        e._frame_fn = frame_fn
        return e

    def value_counts(self, sort: bool = False, parallel: bool = False,
                     name: str | None = None, normalize: bool = False):
        """Struct{value, count} per distinct value (expr.rb:6526).

        Row-count-changing → sole-select-expression rule (like reshape).
        Scale: one hash groupBy on the value; ``normalize`` attaches the
        global total as a broadcast one-row scalar (no global window).
        """
        if name is None:
            name = "proportion" if normalize else "count"
        inner, cname = self, name

        def frame_fn(lf, out_name):
            from .frame import LazyFrame

            df = (lf._ensure_row_index() if inner._needs_order else lf)._sdf
            # alias renames the OUTER column only; the struct's value field
            # keeps the source expression's own name (polars semantics:
            # col("a").value_counts.alias("c") → column c, fields {a, count})
            field_name = inner._name or out_name or "value_counts"
            out_name = out_name or inner._name or "value_counts"
            vals = df.select(inner._fn(df, None).alias("__v__"))
            cnt = vals.groupBy("__v__").agg(F.count(F.lit(1)).alias("__n__"))
            if normalize:
                total = vals.agg(F.count(F.lit(1)).alias("__t__"))
                cnt = cnt.crossJoin(F.broadcast(total))
                field = (F.col("__n__") / F.col("__t__")).alias(cname)
            else:
                field = F.col("__n__").cast("long").alias(cname)
            out = cnt.select(F.struct(F.col("__v__").alias(field_name), field)
                             .alias(out_name))
            lfo = LazyFrame(out)
            if sort:
                lfo = lfo.sort(wrap_expr(col(out_name).struct.field(cname)),
                               descending=True)
            return lfo

        def fn(df, part):
            # agg / list.eval: per-group list of {value, count} structs in
            # first-appearance order (sort: true → by count descending)
            arr = inner._route_arr(df)
            if arr is None:
                raise InvalidOperationError(
                    "value_counts is row-count-changing: use it as the "
                    "sole select expression or inside group_by().agg()")
            field_name = inner._name or "value_counts"
            dis = F.array_distinct(arr)
            if normalize:
                total = F.size(arr)
                structs = F.transform(dis, lambda d: F.struct(
                    d.alias(field_name),
                    (F.size(F.filter(arr, lambda x: x.eqNullSafe(d)))
                     / total).alias(cname)))
            else:
                structs = F.transform(dis, lambda d: F.struct(
                    d.alias(field_name),
                    F.size(F.filter(arr, lambda x: x.eqNullSafe(d)))
                    .cast("long").alias(cname)))
            if sort:
                structs = F.array_sort(
                    structs,
                    lambda l, r: F.when(l[cname] < r[cname], F.lit(1))
                    .when(l[cname] > r[cname], F.lit(-1))
                    .otherwise(F.lit(0)))
            return structs

        e = Expr(fn, name=inner._name, is_agg=True, needs_order=True)
        e._frame_fn = frame_fn
        return e

    def sample(self, frac: float | None = None, with_replacement: bool = False,
               shuffle: bool = False, seed: int | None = None,
               n: int | None = None):
        """Seeded row sample of this expression (expr.rb:6338).

        Row-count-changing → sole-select-expression rule.  Deterministic
        engine-defined pick (md5 of seed+row index — the reference's own
        docs skip-list seeded ops from bit-compat).
        Both ``n`` and ``frac`` omitted → n=1 (reference default).  Scale:
        ``frac`` is a flat filter (no shuffle); ``n`` is a TakeOrdered
        global top-k; with_replacement draws are a broadcast join of a
        seeded draw table (one count action at bind, no collect of data).
        """
        if n is not None and frac is not None:
            raise ValueError("cannot specify both `n` and `frac`")
        if n is None and frac is None:
            n = 1  # reference default (expr.rb:6338)
        inner = self

        def frame_fn(lf, out_name):
            from .config import _STATE
            from .frame import LazyFrame

            s = seed if seed is not None else _STATE.get("random_seed", 0)
            df = lf._ensure_row_index()._sdf
            out_name = out_name or inner._name or "sample"
            named = df.select(F.col(ROW_IDX).alias("__i__"),
                              inner._fn(df, None).alias(out_name))
            if with_replacement:
                # deterministic draws: index_j = md5(seed|j) mod height,
                # joined back on the row index (draw table ≤ n rows →
                # broadcast; duplicates ARE the with-replacement semantics)
                total = named.count()
                draws = n if n is not None else int(round((frac or 1.0) * total))
                dk = F.md5(F.concat_ws("|", F.lit(str(s)), F.col("id")))
                d = (df.sparkSession.range(draws)
                     .select((F.conv(F.substring(dk, 1, 12), 16, 10)
                              .cast("long") % F.lit(total)).alias("__i__")))
                out = F.broadcast(d).join(named, "__i__")
                return LazyFrame(out.select(out_name))
            key = F.md5(F.concat_ws("|", F.lit(str(s)), F.col("__i__")))
            if n is not None:
                out = named.withColumn("__k__", key).orderBy("__k__").limit(n)
                return LazyFrame(out.select(out_name))
            f = 1.0 if frac is None else float(frac)
            unit = F.conv(F.substring(key, 1, 8), 16, 10).cast("double") / F.lit(float(16 ** 8))
            out = named.where(unit < F.lit(f))
            if not shuffle:
                out = out.orderBy("__i__")
            return LazyFrame(out.select(out_name))

        e = Expr(None, name=inner._name, needs_order=True)
        e._frame_fn = frame_fn
        if not with_replacement:
            # agg / list.eval: deterministic per-group pick (same seeded
            # hash-order convention as list.sample — the reference's docs
            # skip-list seeded ops from bit-compat)
            s = 0 if seed is None else int(seed)

            def arr_fn(arr):
                keyed = F.transform(arr, lambda v, i: F.struct(
                    F.xxhash64(v.cast("string"), i, F.lit(s)).alias("h"),
                    v.alias("v")))
                if n is not None:
                    k = F.lit(int(n))
                else:
                    k = F.ceil(F.size(arr) * F.lit(float(frac))).cast("int")
                return F.transform(F.slice(F.array_sort(keyed), 1, k),
                                   lambda st: st["v"])

            self._compose_arr_route(e, arr_fn)
        return e

    def append(self, other, upcast: bool = True):
        """Concatenate ``other``'s rows below this expression's rows
        (expr.rb:813).  Row-count-changing → sole-select-expression rule;
        Catalyst's set-operation coercion handles the ``upcast``.
        """
        o = wrap_expr(other)
        inner = self

        def frame_fn(lf, out_name):
            from .frame import LazyFrame
            from .session import ROW_IDX

            # full sub-selects so row-count-changing composites (head/tail)
            # and multi-output exprs (pl.all) resolve through the normal
            # select pipeline (expr.rb append doctest: all.head.append(
            # all.tail)); union aligns positionally like polars
            a = lf.select(inner)._sdf
            b = lf.select(o)._sdf
            a = a.drop(ROW_IDX) if ROW_IDX in a.columns else a
            b = b.drop(ROW_IDX) if ROW_IDX in b.columns else b
            if out_name and len(a.columns) == 1:
                a = a.toDF(out_name)
            return LazyFrame(a.unionByName(b.toDF(*a.columns)))

        def fn(df, part):
            # agg / list.eval: per-group concatenation (polars appends the
            # other series below this one's group values)
            a = inner._route_arr(df)
            if a is None:
                raise InvalidOperationError(
                    "append is row-count-changing: use it as the sole "
                    "select expression or inside group_by().agg()")
            if o._is_agg:
                b = F.array(o._fn(df, part))  # scalar agg → one element
            else:
                b = o._route_arr(df)
            return F.concat(a, b)

        e = Expr(fn, name=inner._name, is_agg=True, needs_order=True)
        e._frame_fn = frame_fn
        return e

    def extend_constant(self, value, n):
        """Append ``n`` copies of ``value`` after the column's rows
        (expr.rb:6398).  Row-count-changing → sole-select-expression rule;
        the tail rows come from a broadcast-size local relation, so the
        union is free at scale."""
        inner = self

        def frame_fn(lf, out_name):
            from .frame import LazyFrame

            out_name = out_name or inner._name or "extend_constant"
            df = lf._sdf
            head = df.select(inner._fn(df, None).alias(out_name))
            t = head.schema[0].dataType
            spark = df.sparkSession
            tail = spark.range(int(n)).select(
                F.lit(value).cast(t).alias(out_name))
            return LazyFrame(head.unionByName(tail))

        def fn(df, part):
            # agg / list.eval: per-group list with n constant tail copies
            arr = inner._route_arr(df)
            if arr is None:
                raise InvalidOperationError(
                    "extend_constant is row-count-changing: use it as the "
                    "sole select expression or inside group_by().agg()")
            return F.concat(
                arr, F.array_repeat(F.lit(value), int(n)))

        e = Expr(fn, name=inner._name, is_agg=True, needs_order=True)
        e._frame_fn = frame_fn
        return e

    def map_elements(self, function, return_dtype=None, skip_nulls: bool = True):
        """Scalar python function per element (series.rb:2885 map_elements).

        Compiled to a vectorized pandas UDF (Arrow batches — SURVEY §2.9), the
        10-100× faster path vs row-at-a-time UDFs.

        Without ``return_dtype`` the type is inferred by running ``function``
        driver-side over the column's FIRST 16 values — those elements are
        therefore invoked twice (pass return_dtype for side-effectful
        functions), and an unrepresentative sample infers a too-narrow type
        (ADVICE r2).  Mitigations: inferred integer types WIDEN to Int64 and
        floats to Float64, so an int-sampled/float-later column only loses
        exactness, never rows; a mixed int/float sample infers Float64 via
        Arrow's own promotion.  Genuinely incompatible later values (str
        after int) still null out — polars raises there; pass return_dtype
        for full parity.
        """
        from ._udf_helpers import make_scalar_pandas_udf

        if return_dtype is not None:
            t = to_spark_type(return_dtype)
            _udf = make_scalar_pandas_udf(function, t, skip_nulls)
            return self._lift(lambda c: _udf(c))

        # no return_dtype: infer like the reference (series.rb:2885) from a
        # driver-side sample of the bound column's first values
        def fn(df, part):
            c = self._fn(df, part)
            t = None
            try:
                sample = [r[0] for r in df.select(c.alias("__mi__"))
                          .limit(16).collect()]
                results = [function(v) for v in sample
                           if v is not None or not skip_nulls]
                import pyarrow as pa
                from pyspark.sql import types as T
                from pyspark.sql.pandas.types import from_arrow_type

                t = from_arrow_type(pa.array(results).type)
                # widen sampled numerics: later rows may overflow/decimalize
                if isinstance(t, (T.ByteType, T.ShortType, T.IntegerType)):
                    t = T.LongType()
                elif isinstance(t, T.FloatType):
                    t = T.DoubleType()
            except Exception:
                pass
            if t is None or str(t) == "NullType()":
                t = to_spark_type("str")
            return make_scalar_pandas_udf(function, t, skip_nulls)(c)

        return Expr(fn, name=self._name, needs_order=self._needs_order,
                    is_agg=self._is_agg)

    map = map_elements
    apply = map_elements

    # namespaces --------------------------------------------------------------------------
    @property
    def str(self):
        from .namespaces import StringNameSpace

        return StringNameSpace(self)

    @property
    def dt(self):
        from .namespaces import DateTimeNameSpace

        return DateTimeNameSpace(self)

    @property
    def list(self):
        from .namespaces import ListNameSpace

        return ListNameSpace(self)

    @property
    def arr(self):
        """Fixed-size Array namespace (array_expr.rb) — Spark has no fixed
        width arrays (SURVEY §1.3) so ops are shared with ``list``."""
        from .namespaces import ListNameSpace

        return ListNameSpace(self)

    arr = list

    @property
    def struct(self):
        from .namespaces import StructNameSpace

        return StructNameSpace(self)

    @property
    def bin(self):
        from .namespaces import BinaryNameSpace

        return BinaryNameSpace(self)

    @property
    def cat(self):
        from .namespaces import CatNameSpace

        return CatNameSpace(self)

    def __hash__(self):
        return id(self)


def _expr_is_str(e, df) -> bool:
    """Statically prove an Expr is string-typed: meta-walk to a col leaf
    (input-schema dict lookup, no Catalyst analysis) or a str literal.
    Unprovable shapes return False — numeric semantics then apply."""
    seen = 0
    while isinstance(e, Expr) and e._meta is not None and seen < 30:
        seen += 1
        op, children, payload = e._meta
        if op == "col":
            try:
                from pyspark.sql import types as T

                return isinstance(df.schema[payload].dataType, T.StringType)
            except Exception:
                return False
        if op == "lit":
            return isinstance(payload, str)
        kids = [c for c in children if isinstance(c, Expr)]
        if len(kids) != 1:
            return False
        e = kids[0]  # alias / first / shift / fill wrappers pass through
    return False


def _concat_or_add(le, re_):
    """polars + CONCATENATES when either side is a string (expr.rb add
    doctest: col(x).add(col(y)) on str columns).  The branch decision runs
    at bind time against the input frame's (already analyzed) schema."""
    lw, rw = wrap_expr(le), wrap_expr(re_)

    def f(a, b, df=None):
        # hook rewrites call 2-arg (numeric contexts: cum/ewm/rank/fill
        # compositions never carry strings); the main bind passes df
        if df is not None and (_expr_is_str(lw, df) or _expr_is_str(rw, df)):
            return F.concat(a, b)
        return a + b

    f._needs_df = True
    return f


def _div_polars(a, b):
    """Division with polars' /0 semantics: x/0 → ±inf, 0/0 → NaN (Spark
    nulls instead).  Pure codegen — one when-chain, no UDF."""
    q = a / b
    bd = b.cast("double")
    ad = a.cast("double")
    inf = F.lit(float("inf"))
    return F.when(a.isNull() | b.isNull() | (bd != 0), q).otherwise(
        F.when(ad > 0, inf).when(ad < 0, -inf)
        .otherwise(F.lit(float("nan"))))


def _q_from_sorted(arr, q: float, interpolation: str):
    """Quantile indexing over a SORTED non-null array — the engine's one
    definition of the five interpolation modes (Expr.quantile,
    rolling_quantile's JVM fallback; the sliding kernel mirrors it).

    ``nearest_roll`` is the ROLLING-window nearest: polars-rs 0.41's
    rolling quantile kernel truncates ``n*q`` (rolling/no_nulls/quantile.rs)
    while group/series quantile rounds ``(n-1)*q`` — two different
    "nearest"s, both matched (rolling_quantile doctest, expr.rb:4434)."""
    n = F.size(arr)
    if interpolation == "nearest_roll":
        idx = F.least(F.floor(n.cast("double") * F.lit(float(q))).cast("int"),
                      n - 1)
        return F.element_at(arr, idx + 1)
    pos = F.lit(q) * (n.cast("double") - 1)
    lo = F.floor(pos).cast("int")
    hi = F.ceil(pos).cast("int")
    if interpolation == "lower":
        return F.element_at(arr, lo + 1)
    if interpolation == "higher":
        return F.element_at(arr, hi + 1)
    if interpolation == "midpoint":
        return (F.element_at(arr, lo + 1) + F.element_at(arr, hi + 1)) / 2
    if interpolation == "linear":
        frac = pos - lo.cast("double")
        lov = F.element_at(arr, lo + 1).cast("double")
        hiv = F.element_at(arr, hi + 1).cast("double")
        return lov + frac * (hiv - lov)
    # nearest: round half away from zero like polars
    near = F.when(pos - lo.cast("double") < 0.5, lo).otherwise(hi)
    return F.element_at(arr, near + 1)


def _ungrouped_exact_quantile(df, c: Column, q: float, interpolation: str):
    """Whole-frame EXACT quantile/median by distributed selection
    (round-11).  Spark's ``percentile``/``median`` aggregates buffer every
    value and merge the buffers in ONE final task — and sharing an
    aggregate with a distinct-style function makes the rewrite build one
    buffer PER DISTINCT KEY (q21 at sf1.0: 38 s for seven scalar stats).
    Selection instead: hash-agg the value counts (map-side combined),
    index the much smaller distinct table with the two-pass prefix
    pattern, and fetch only the <=2 order statistics the interpolation
    needs.  Arithmetic replicates Spark's ``Percentile`` (linear) /
    ``_q_from_sorted`` (the other modes) bit-for-bit — pinned by
    ``tests/test_frame_ops.py::test_ungrouped_quantile_selection_parity``.
    Returns the Python scalar (None when no non-null values); the caller
    lifts it into a typed literal (the same plan-time-action trade as the
    spearman sub-job)."""
    from .operators.row_index import _global_rank_prefix_tab

    counts = (df.where(c.isNotNull())
              .groupBy(c.alias("__gr_v__"))
              .agg(F.count(F.lit(1)).alias("__gr_c__")))
    tab = _global_rank_prefix_tab(counts)
    # total count from the TAB (whose sorted-counts input is pinned by
    # with_row_index's localCheckpoint), not from ``counts`` — the latter
    # would re-execute the full-data hash aggregate for one scalar
    tot = tab.agg(F.sum("__gr_c__").alias("__qn__"))
    pos_c = F.lit(float(q)) * (F.col("__qn__").cast("double") - 1)
    lo_c, hi_c = F.floor(pos_c), F.ceil(pos_c)
    if interpolation == "lower":
        hi_c = lo_c
    elif interpolation == "higher":
        lo_c = hi_c
    elif interpolation == "nearest":
        near = F.when(pos_c - lo_c.cast("double") < 0.5, lo_c).otherwise(hi_c)
        lo_c = hi_c = near
    rows = (tab.crossJoin(F.broadcast(tot))
            .where((F.col("__gr_b__") <= hi_c)
                   & (lo_c < F.col("__gr_b__") + F.col("__gr_c__")))
            .select("__gr_v__", "__gr_c__", "__gr_b__", "__qn__")
            .collect())
    if not rows:
        return None
    n = rows[0]["__qn__"]
    pos = float(q) * (n - 1)
    lo, hi = math.floor(pos), math.ceil(pos)
    if interpolation == "lower":
        hi = lo
    elif interpolation == "higher":
        lo = hi
    elif interpolation == "nearest":
        lo = hi = lo if pos - lo < 0.5 else hi

    def at(k):
        for r in rows:
            if r["__gr_b__"] <= k < r["__gr_b__"] + r["__gr_c__"]:
                return float(r["__gr_v__"])
        raise AssertionError(f"order statistic {k} not covered")

    vlo = at(lo)
    if lo == hi:
        return vlo
    vhi = at(hi)
    if interpolation == "midpoint":
        return (vlo + vhi) / 2
    # linear: Spark Percentile's exact arithmetic
    return (hi - pos) * vlo + (pos - lo) * vhi


def _lit_wide(v):
    """Literal for replace targets: python ints land as i64 (Spark lit()
    gives i32; polars replace yields Int64 — expr.rb replace doctest)."""
    if isinstance(v, int) and not isinstance(v, bool):
        return F.lit(v).cast("long")
    return F.lit(v)


def _scalarize(e, df, part):
    """Bind a replace/replace_strict argument: aggregates become a one-row
    probe literal (bounded driver fetch), plain exprs inline, values lit."""
    if isinstance(e, Expr):
        if e._is_agg:
            row = df.select(e._fn(df, None).alias("v")).head()
            return F.lit(row["v"] if row is not None else None)
        return e._fn(df, part)
    return _lit_wide(e)


def _replace_mapping(old, new) -> dict:
    """Normalize replace/replace_strict inputs: dict, paired sequences, a
    sequence + broadcast scalar, or scalar -> scalar (expr.rb:6915)."""
    if isinstance(old, dict):
        return dict(old)
    if isinstance(old, (list, tuple)):
        if isinstance(new, (list, tuple)):
            return dict(zip(old, new))
        return {k: new for k in old}
    return {old: new}


def _cast_return_dtype(c, return_dtype):
    if return_dtype is None:
        return c
    from .datatypes import to_spark_type

    return c.cast(to_spark_type(return_dtype))


def _fmt_num(x: float) -> str:
    if x == int(x):
        return str(int(x))
    return str(x)


def _prepare_alpha(com=None, span=None, half_life=None, alpha=None) -> float:
    """Parity: expr.rb:7169 _prepare_alpha."""
    if alpha is not None:
        return float(alpha)
    if com is not None:
        return 1.0 / (1.0 + float(com))
    if span is not None:
        return 2.0 / (float(span) + 1.0)
    if half_life is not None:
        return 1.0 - math.exp(-math.log(2.0) / float(half_life))
    raise ValueError("one of alpha/com/span/half_life required")


def wrap_expr(v) -> Expr:
    if isinstance(v, Expr):
        return v
    if isinstance(v, (list, tuple)):
        # internal arg coercion keeps arrays as per-row ARRAY literals
        # (gather indices, is_in sets…) — only the public lit() promotes
        # arrays to Series columns (functions/lit.rb:26)
        return Expr(lambda df, part: F.lit(list(v)),
                    name="literal")._set_meta("lit", (), v)
    return lit(v)


def as_expr(v) -> Expr:
    """Like wrap_expr but strings are COLUMN NAMES (polars' parse-into-expr
    convention for by/key arguments)."""
    if isinstance(v, Expr):
        return v
    if isinstance(v, str):
        return col(v)
    return lit(v)


def col(name, *more_names) -> Expr:
    """Column reference (functions/col.rb:6) incl. '*' and '^regex$' forms."""
    import re as _re

    if isinstance(name, (list, tuple)) and not more_names:
        # Polars.col(["A", "B"]) (guide_test.rb) — multi-column reference
        names = list(name)
    else:
        names = [name] + list(more_names)
    if len(names) == 1 and isinstance(names[0], str):
        name = names[0]
        if name == "*":
            return all_()
        if name.startswith("^") and name.endswith("$"):
            pat = _re.compile(name)
            return Expr(multi_fn=lambda df: [col(c) for c in _visible_cols(df)
                                             if pat.match(c)],
                        name=name)._set_meta("col", (), name)
        def colfn(df, part):
            if name == "" and _ELEMENT_STACK:
                # inside list.eval, col("") refers to the element
                # (list_expr_test.rb: element.rank / col("").count)
                return _ELEMENT_STACK[-1]
            if (_ELEMENT_STACK and _EVAL_STRUCT_COLS
                    and name in _EVAL_STRUCT_COLS[-1]):
                # struct-element eval frame (rolling collect-window): the
                # column resolves to the current window element's field
                return _ELEMENT_STACK[-1][name]
            return F.col(name)

        e = Expr(colfn, name=name)
        e._is_column = True  # meta.is_column: bare reference, no transforms
        if name == "":
            # inside list.eval, col("") IS the element series — same
            # numpy-program leaf as element() (round-11: lets
            # rank/count normalizations reach the vectorized kernel)
            e._np_prog = ("elem",)
        return e._set_meta("col", (), name)
    # multiple names / dtype selection
    if all(isinstance(n, str) for n in names):
        return Expr(multi_fn=lambda df: [col(n) for n in names])
    # dtype-based selection
    dtypes = [to_spark_type(n) for n in names]

    def mf(df):
        vis = set(_visible_cols(df))
        sel = []
        for f_ in df.schema.fields:
            if f_.name in vis and any(f_.dataType == t for t in dtypes):
                sel.append(col(f_.name))
        return sel

    return Expr(multi_fn=mf)


def cols(*names) -> Expr:
    return col(names[0], *names[1:])


def all_(*names, ignore_nulls: bool = True) -> Expr:
    # Polars.all() = every column; Polars.all("a") = boolean AND of a column
    # (functions/aggregation/vertical.rb:44)
    if names:
        out = [(col(n) if isinstance(n, str) else wrap_expr(n)).all()
               for n in names]
        return out[0] if len(out) == 1 else out
    return Expr(multi_fn=lambda df: [col(c) for c in _visible_cols(df)])


def lit(value, dtype=None, allow_object=None) -> Expr:
    from .series import Series as _Series

    if isinstance(value, (list, tuple)):
        # functions/lit.rb:26 — arrays become Series literals
        value = _Series("", list(value))
    if isinstance(value, _Series):
        # Series literal (lit.rb:18): a COLUMN, not a per-row array.  Length
        # 1 broadcasts as a scalar; longer series are sole-select frame
        # producers (positional zip in a mixed select is not a Column op).
        s = value
        vals = s.to_a()
        name = s.name or "literal"
        if len(vals) == 1:
            e = lit(vals[0], dtype)
            e._name = name
            return e

        def fn(df, part):
            raise NotImplementedError(
                f"Series literal of length {len(vals)} can only stand alone "
                "in a select — use hstack to attach it positionally")

        e = Expr(fn, name=name)

        def frame_fn(frame, out_name):
            from .frame import LazyFrame as _LF

            sdf = s._sdf.withColumnRenamed(
                s._sdf.columns[0], out_name or name)
            if dtype is not None:
                t = to_spark_type(dtype)
                nm = out_name or name
                sdf = sdf.select(F.col(nm).cast(t).alias(nm))
            return _LF(sdf)

        e._frame_fn = frame_fn
        # with_columns attaches series literals positionally (hstack zip —
        # series.rb cut include_breaks doctest); frame.with_columns reads
        # these markers
        e._series_lit = s
        e._series_lit_dtype = dtype
        return e._set_meta("lit", (), value)
    if dtype is not None:
        t = to_spark_type(dtype)
        return Expr(lambda df, part: F.lit(value).cast(t),
                    name="literal")._set_meta("lit", (), value)
    return Expr(lambda df, part: F.lit(value),
                name="literal")._set_meta("lit", (), value)


#: Stack of lambda variables for list.eval / element() binding.  Expression
#: construction is synchronous driver-side code, so a plain stack is safe.
_ELEMENT_STACK: list = []

#: Parallel stack of the ARRAY columns being eval'd — lets aggregates and
#: rank inside list.eval reduce over the whole list (guide_test.rb
#: list-context: element.rank / col("").count) via nested HOFs, JVM-side.
_EVAL_ARRAY_STACK: list = []

#: Parallel stack of the current element's INDEX inside _eval_map's
#: transform lambda (ordinal rank tie-breaking by list position).
_ELEMENT_IDX_STACK: list = []

#: STRUCT-element eval frames (rolling collect-window path): when the eval
#: array's elements are structs of source-column fields, ``col(name)``
#: inside the element lambda resolves to the element's FIELD instead of the
#: outer frame column.  Pushed/popped ONLY by binders whose eval array has
#: struct elements (RollingGroupBy._agg_collect_win); plain list.eval never
#: pushes, so ordinary element() binding is unaffected.
_EVAL_STRUCT_COLS: list = []

#: Eval-context MATERIALIZER stack: ``(Column) -> Column`` callbacks that
#: pin an intermediate array as a helper COLUMN on the binder's frame and
#: return the attribute reference.  Interpreted HOFs get no common-
#: subexpression elimination — a multi-referenced array subtree (spearman's
#: ranks referencing the value array per element, pearson referencing the
#: pair array per sum) re-evaluates MULTIPLICATIVELY unless each hop is an
#: attribute.  Pushed only by binders whose eval array is lambda-var-free
#: (rolling collect-window); plain list.eval leaves it empty and exprs
#: fall back to inline composition.
_EVAL_MATERIALIZE_STACK: list = []


def _np_prog_type(p, in_t: str):
    """Spark result type of a numpy-program node over ``in_t`` list
    elements, mirroring Catalyst's coercions ("/" always double + null on
    zero divisor; a double operand — incl. any float literal — promotes;
    int literals adopt the float side).  Returns "float"/"double" or a
    transient "int" for literal subtrees; None = not expressible (gate to
    the HOF fallback)."""
    op = p[0]
    if op == "elem":
        return in_t
    if op == "lit":
        return "int" if isinstance(p[1], int) else "double"
    if op == "un":
        t = _np_prog_type(p[2], in_t)
        return t if t in ("float", "double") else None
    if op == "bin":
        lt, rt = _np_prog_type(p[2], in_t), _np_prog_type(p[3], in_t)
        if lt is None or rt is None:
            return None
        if p[1] == "/":
            return "double"
        if lt == "int" and rt == "int":
            return None
        return "double" if "double" in (lt, rt) else "float"
    if op == "shift":
        bt = _np_prog_type(p[3], in_t)
        if bt not in ("float", "double"):
            return None
        if isinstance(p[2], float):  # float fill promotes via coalesce
            return "double"
        return bt
    if op == "ffill":
        bt = _np_prog_type(p[1], in_t)
        return bt if bt in ("float", "double") else None
    if op == "rank":
        # average value-rank within the list — always double
        bt = _np_prog_type(p[2], in_t)
        return "double" if bt in ("float", "double") else None
    if op == "cagg":
        # whole-segment aggregate broadcast (plain list.eval context —
        # the cumulative runner has its own prefix semantics); only the
        # integer normalizers are kernel-hosted, anything else gates to
        # the HOF route
        return "int" if p[1] in ("count", "len") else None
    return None


def _np_has_elem(p) -> bool:
    """True when a numpy program references the element series per
    position (an "elem" leaf anywhere) — a MIXED agg+element composition
    (rank/count normalizations) broadcasts per element, which is exactly
    the kernel's layout; a PURE aggregate program (cagg only) must keep
    the one-element-list eval route instead (round-11)."""
    op = p[0]
    if op == "elem":
        return True
    if op in ("un", "ffill"):
        return _np_has_elem(p[-1] if op == "un" else p[1])
    if op == "bin":
        return _np_has_elem(p[2]) or _np_has_elem(p[3])
    if op in ("shift", "rank"):
        return _np_has_elem(p[-1])
    return False


def _np_eval_column(arr: Column, prog, df) -> Column | None:
    """Compile a tracked positional list.eval program to the vectorized
    Arrow kernel (``_udf_helpers.np_eval_arrays_udf``); None when the
    input/output types fall outside the kernel's float32/float64 contract
    (the caller keeps the bit-identical JVM HOF route)."""
    from pyspark.sql import types as T

    try:
        t_in = _probe_type(df, arr)
    except Exception:
        return None
    if not isinstance(t_in, T.ArrayType):
        return None
    if isinstance(t_in.elementType, T.FloatType):
        in_t = "float"
    elif isinstance(t_in.elementType, T.DoubleType):
        in_t = "double"
    else:
        return None
    out_t = _np_prog_type(prog, in_t)
    if out_t not in ("float", "double"):
        return None
    from ._udf_helpers import np_eval_arrays_udf

    udf = np_eval_arrays_udf(prog, in_t, out_t)
    return udf(arr)


def _np_cagg_valid(p) -> bool:
    """True when a program is a pure PREFIX-AGGREGATE composition —
    cagg leaves (+ literals) under bin/un only; a bare elem or shift has
    no per-prefix meaning in cumulative_eval."""
    op = p[0]
    if op == "cagg":
        return True
    if op == "lit":
        return True
    if op == "un":
        return _np_cagg_valid(p[2])
    if op == "bin":
        return _np_cagg_valid(p[2]) and _np_cagg_valid(p[3])
    return False


def _np_cagg_has_agg(p) -> bool:
    op = p[0]
    if op == "cagg":
        return True
    if op == "un":
        return _np_cagg_has_agg(p[2])
    if op == "bin":
        return _np_cagg_has_agg(p[2]) or _np_cagg_has_agg(p[3])
    return False


_NP_NUM_ORDER = ["int", "bigint", "float", "double"]


def _np_cagg_type(p, elem_t: str):
    """Spark result type of a prefix-aggregate program (mirrors both
    Catalyst coercion and the kernel's per-node casts)."""
    op = p[0]
    if op == "cagg":
        label = p[1]
        if label == "count":
            return "int"
        if label == "len":  # custom reducer casts to long
            return "bigint"
        if label in ("mean", "stddev_samp", "stddev_pop",
                     "var_samp", "var_pop"):
            return "double"
        return elem_t
    if op == "lit":
        return "intlit" if isinstance(p[1], int) else "fltlit"
    if op == "un":
        t = _np_cagg_type(p[2], elem_t)
        return t if t in _NP_NUM_ORDER else None
    if op == "bin":
        lt, rt = _np_cagg_type(p[2], elem_t), _np_cagg_type(p[3], elem_t)
        if lt is None or rt is None:
            return None
        if p[1] == "/":
            return "double"
        if lt == "fltlit" or rt == "fltlit":
            return "double"
        lt2 = "int" if lt == "intlit" else lt
        rt2 = "int" if rt == "intlit" else rt
        if lt == "intlit" and rt == "intlit":
            return None
        return _NP_NUM_ORDER[max(_NP_NUM_ORDER.index(lt2),
                                 _NP_NUM_ORDER.index(rt2))]
    return None


def _np_cumeval_pairs(pairs_arr: Column, prog, df, min_p: int):
    """Compile a prefix-aggregate program over a collected ``(i, v)``
    pairs array to the O(g) cumulative Arrow kernel; None keeps the
    bit-identical indexed-HOF route."""
    from pyspark.sql import types as T

    if prog is None or not (_np_cagg_valid(prog)
                            and _np_cagg_has_agg(prog)):
        return None
    try:
        t = _probe_type(df, pairs_arr)
    except Exception:
        return None
    if not (isinstance(t, T.ArrayType)
            and isinstance(t.elementType, T.StructType)):
        return None
    vt = {f.name: f.dataType for f in t.elementType.fields}.get("v")
    elem_t = {T.IntegerType: "int", T.LongType: "bigint",
              T.FloatType: "float", T.DoubleType: "double"}.get(type(vt))
    if elem_t is None:
        return None
    out_t = _np_cagg_type(prog, elem_t)
    if out_t not in ("int", "bigint", "float", "double"):
        return None
    from ._udf_helpers import np_cumeval_arrays_udf

    return np_cumeval_arrays_udf(prog, elem_t, out_t, min_p)(pairs_arr)


def _np_operand(x):
    """numpy-program operand for a binary composition: a tracked Expr
    program, or a plain numeric literal (int/float, bools excluded — Spark
    treats them as booleans)."""
    if isinstance(x, Expr):
        if x._np_prog is not None:
            return x._np_prog
        if (x._meta and x._meta[0] == "lit"
                and isinstance(x._meta[2], (int, float))
                and not isinstance(x._meta[2], bool)):
            return ("lit", x._meta[2])
        return None
    if isinstance(x, bool):
        return None
    if isinstance(x, (int, float)):
        return ("lit", x)
    return None


def _np_bin(out: "Expr", op: str, l, r) -> "Expr":
    """Attach the numpy-program breadcrumb to a binary arithmetic result
    when both operands are tracked (round-7 positional list.eval kernel);
    a literal-only program is dropped (no element dependency to vectorize
    over, and Spark's int-literal arithmetic would need integer rules)."""
    lp, rp = _np_operand(l), _np_operand(r)
    if lp is not None and rp is not None and not (
            lp[0] == "lit" and rp[0] == "lit"):
        out._np_prog = ("bin", op, lp, rp)
    return out


def _hof_let(val: Column, body) -> Column:
    """let-bind a loop-invariant expression as a HOF lambda VARIABLE:
    ``transform(array(val), v -> body(v))[0]``.  Interpreted HOFs have no
    CSE, so an array expression referenced inside a per-element lambda
    re-evaluates per element (O(d²)), and nested under another eval lambda
    per outer element (O(d³) — q150's 36 s at 2000×64).  A lambda variable
    evaluates once per binding."""
    return F.element_at(F.transform(F.array(val), body), 1)


def _eval_materialize(c: Column) -> Column:
    """Pin ``c`` as a frame column via the active materializer (identity
    inline fallback when none is active, or when binding inside a HOF
    lambda — a lambda-variable-dependent expression cannot become a frame
    column)."""
    if _EVAL_MATERIALIZE_STACK and not _ELEMENT_STACK:
        return _EVAL_MATERIALIZE_STACK[-1](c)
    return c


def _eval_map(base: "Expr", arr, df):
    """Map `base` over the eval array's elements (nested HOF).  The element
    INDEX rides a parallel stack so order-aware consumers (rank('ordinal')
    tie-breaking) can reach it."""

    def lam(y, i):
        _ELEMENT_STACK.append(y)
        _ELEMENT_IDX_STACK.append(i)
        try:
            return base._fn(df, None)
        finally:
            _ELEMENT_STACK.pop()
            _ELEMENT_IDX_STACK.pop()

    return F.transform(arr, lam)


def _eval_vals(base: "Expr", arr, df):
    """Element values of ``base`` over the eval array, riding any full-
    array route the base carries (element().shift(1), .sort(), …) instead
    of mapping a window per element (round-5)."""
    if base._agg_list_fn is not None:
        return base._agg_list_fn(_eval_map(base._agg_list_base, arr, df))
    return _eval_map(base, arr, df)


def element() -> Expr:
    """Placeholder inside list.eval (functions/lazy.rb:23 Polars.element)."""

    def fn(df, part):
        if not _ELEMENT_STACK:
            raise RuntimeError("Polars.element() used outside list.eval")
        return _ELEMENT_STACK[-1]

    e = Expr(fn, name="element")
    e._np_prog = ("elem",)
    return e


def int_range_expr(start, end, step: int = 1) -> Expr:
    return Expr(lambda df, part: F.sequence(F.lit(start), F.lit(end - 1), F.lit(step)),
                name="int_range")


class When:
    """when/then/otherwise chain (lib/polars/whenthen.rb:1-83)."""

    def __init__(self, condition: Expr, prior: list | None = None):
        self._conds = (prior or []) + [condition]
        self._thens: list[Expr] = []

    def then(self, value) -> "Then":
        return Then(list(zip(self._conds, self._thens + [wrap_expr(value)])))


def _merge_order_flags(e: Expr, parts: list) -> Expr:
    """Propagate order/scramble breadcrumbs from constituent exprs."""
    e._needs_order = any(p._needs_order for p in parts)
    e._scrambles_order = any(p._scrambles_order for p in parts)
    e._order_only = all(p._order_safe for p in parts)
    return e


def _merge_agg_flags(e: Expr, parts: list) -> Expr:
    """n-ary constructor flag merge (round-5): a combination whose every
    non-literal input aggregates is ITSELF an aggregate — struct(sum,
    mean), concat_str(first, last), when(sum > 2).then(max) — otherwise
    the agg compiler would implode it and nest aggregate functions.
    Mixed per-row × aggregate combinations stay non-agg (implicit implode
    keeps the group's row count, like polars' broadcast)."""
    real = [p for p in parts
            if not (p._meta is not None and p._meta[0] == "lit")]
    e._is_agg = bool(real) and all(p._is_agg for p in real)
    _merge_order_flags(e, parts)
    e._needs_global_index = any(p._needs_global_index for p in parts)
    return e


def _compose_hook_parts(parts: list, build):
    """Hook composition for N-ARY constructors (round-10): when/then/
    otherwise chains whose branches carry a ``_global_ordinal_fn`` attach
    previously DROPPED it — the branch re-bound the keyless one-task
    window (the same class _lift2's binary composition closes).  Returns
    a composed hook ``(sdf) -> (sdf2, col)`` that attaches every hooked
    part (fill-family parts MERGE into one attach; the rest chain with a
    lazy localCheckpoint between stages), evaluates plain parts on the
    attached frame, and builds the final Column via ``build(cols)`` —
    or None when composition does not apply (no hooks, or any part is an
    aggregate / multi / frame / pre-stage expr)."""
    if not any(p._global_ordinal_fn is not None for p in parts):
        return None
    if any(p._is_agg or p._multi_fn is not None or p._frame_fn is not None
           or p._agg_pre_fn is not None or p._agg_list_fn is not None
           for p in parts):
        return None

    # LATE ROUND-10: when EVERY hooked part is fill-family, the composed
    # hook itself carries merged ``_fill_batch`` metadata — so a
    # with_columns holding several composed conditionals/constructors
    # (q167's cw/nc/nh alongside ii/fb) flattens into ONE
    # attach_global_fill_multi in ``_bind_all`` instead of one chained,
    # checkpointed attach per binding (measured: q167 construct
    # 4.2 s → one shared attach).  Plain parts evaluate on the attached
    # frame inside ``finish``.
    all_fb = [(i, getattr(parts[i]._global_ordinal_fn, "_fill_batch",
                          None))
              for i, p in enumerate(parts)
              if p._global_ordinal_fn is not None]
    if all(b is not None for _i, b in all_fb):
        items, spans = [], []
        for i, b in all_fb:
            spans.append((i, b, len(items), len(b["items"])))
            items.extend(b["items"])

        def finish(cols, sdf):
            vals = {}
            for i, b, off, nn in spans:
                c = b["finish"](cols[off:off + nn], sdf)
                for fpost in b["post"]:
                    c = fpost(c)
                vals[i] = c
            final = [vals[i] if i in vals else p._fn(sdf, None)
                     for i, p in enumerate(parts)]
            return build(final)

        return _fill_batch_gfn({"items": items, "finish": finish,
                                "post": []})

    def gfn(sdf):
        cols: dict[int, str] = {}
        chained = False
        fb_idx = [(i, getattr(p._global_ordinal_fn, "_fill_batch", None))
                  for i, p in enumerate(parts)
                  if p._global_ordinal_fn is not None]
        fb_idx = [(i, b) for i, b in fb_idx if b is not None]
        if len(fb_idx) >= 2:
            from .operators.row_index import attach_global_fill_multi

            items, spans = [], []
            for i, b in fb_idx:
                spans.append((i, b, len(items), len(b["items"])))
                items.extend(b["items"])
            tmps = [_next_gord_name() for _ in items]
            sdf = attach_global_fill_multi(
                sdf, [(vf, kind, t)
                      for (vf, kind), t in zip(items, tmps)])
            for i, b, off, nn in spans:
                c = b["finish"]([F.col(t)
                                 for t in tmps[off:off + nn]], sdf)
                for fpost in b["post"]:
                    c = fpost(c)
                t2 = _next_gord_name()
                sdf = sdf.withColumn(t2, c)
                cols[i] = t2
            sdf = sdf.drop(*tmps)
            chained = True
        for i, p in enumerate(parts):
            if i in cols or p._global_ordinal_fn is None:
                continue
            if chained:
                sdf = sdf.localCheckpoint(eager=False)
            sdf, tmp = p._global_ordinal_fn(sdf)
            cols[i] = tmp
            chained = True
        final = [F.col(cols[i]) if i in cols else p._fn(sdf, None)
                 for i, p in enumerate(parts)]
        t3 = _next_gord_name()
        return (sdf.withColumn(t3, build(final))
                .drop(*[cols[i] for i in cols]), t3)

    return gfn


def _wire_hook_parts(e: Expr, parts: list, build) -> Expr:
    """Attach :func:`_compose_hook_parts` composition to an n-ary
    constructor's Expr when any part carries a global-ordinal hook
    (struct / concat_str / coalesce / min_horizontal … — round-10)."""
    g = _compose_hook_parts(parts, build)
    if g is not None and not e._is_agg:
        e._global_ordinal_fn = g
        e._needs_dense_index = any(p._needs_dense_index for p in parts)
    if e._meta is None:
        # meta breadcrumb for introspection (round-11: meta.* must walk
        # every public construction site)
        e._set_meta("nary", tuple(p for p in parts if isinstance(p, Expr)))
    return e


class Then(Expr):
    def __init__(self, pairs):
        self._pairs = pairs
        super().__init__(self._make_fn(None), name=None)
        parts = [x for p in pairs for x in p]
        _merge_agg_flags(self, parts)

        def build(cols):
            out = None
            for j in range(0, len(cols), 2):
                c, v = cols[j], cols[j + 1]
                out = F.when(c, v) if out is None else out.when(c, v)
            return out

        g = _compose_hook_parts(parts, build)
        if g is not None and not self._is_agg:
            self._global_ordinal_fn = g
            self._needs_dense_index = any(
                p._needs_dense_index for p in parts)

    def _make_fn(self, otherwise):
        pairs = self._pairs

        def fn(df, part):
            out = None
            for cond, val in pairs:
                c, v = cond._fn(df, part), val._fn(df, part)
                out = F.when(c, v) if out is None else out.when(c, v)
            if otherwise is not None:
                out = out.otherwise(otherwise._fn(df, part))
            return out

        return fn

    def when(self, condition) -> "When":
        w = When(wrap_expr(condition))
        w._conds = [p[0] for p in self._pairs] + [wrap_expr(condition)]
        w._thens = [p[1] for p in self._pairs]
        return w

    def otherwise(self, value) -> Expr:
        v = wrap_expr(value)
        # polars names the chain after the first named then-branch, else
        # 'literal' (when/then doctest: select(when(..).then(10).otherwise(0))
        # → column "literal")
        nm = next((t._name for _c, t in self._pairs if t._name), None) \
            or "literal"
        e = Expr(self._make_fn(v), name=nm)
        parts = [x for p in self._pairs for x in p] + [v]
        _merge_agg_flags(e, parts)
        e._set_meta("when", tuple(parts))

        def build(cols):
            out = None
            for j in range(0, len(cols) - 1, 2):
                c, vv = cols[j], cols[j + 1]
                out = F.when(c, vv) if out is None else out.when(c, vv)
            return out.otherwise(cols[-1])

        g = _compose_hook_parts(parts, build)
        if g is not None and not e._is_agg:
            # hooked branch/condition keeps its attach (round-10) —
            # previously the chain re-bound the keyless one-task window
            e._global_ordinal_fn = g
            e._needs_dense_index = any(
                p._needs_dense_index for p in parts)
        return e


def when(condition) -> When:
    return When(wrap_expr(condition))

"""LazyFrame / DataFrame: polars frame semantics over ``pyspark.sql.DataFrame``.

Design (SURVEY §7.0): PySpark DataFrames are already lazy logical plans, so
``LazyFrame`` wraps one 1:1 and ``collect`` is just a materialization point.
The eager ``DataFrame`` is sugar over the same plan (mirroring the reference
where eager ops round-trip through the lazy engine —
``/root/reference/lib/polars/data_frame.rb:1161-1163``).

Row order: Spark has no implicit order; ordinal ops lazily attach the hidden
``__row_idx__`` (operators/row_index.py).  Order-changing ops (sort, explode,
join, …) drop it so it is re-derived from the new plan order — after a sort,
Spark's range partitioner makes the re-derived index equal the sorted order
without any single-task bottleneck.
"""

from __future__ import annotations

from typing import Any, Iterable

from pyspark.sql import DataFrame as SparkDF
from pyspark.sql import Window
from pyspark.sql import functions as F

from .exprs import (_ORDER_CTX, Expr, _attach_ewm, _ColumnBinding,
                    _ewm_nodes, col, lit, wrap_expr)
from .group_by import DynamicGroupBy, GroupBy, LazyGroupBy, RollingGroupBy
from .operators.row_index import strip_row_index, with_row_index
from .session import ROW_IDX


def _identity_source(e) -> str | None:
    """Column name when ``e`` is a bare (possibly re-aliased) column
    reference — the projection passes the value through unchanged."""
    m = getattr(e, "_meta", None)
    while m and m[0] == "alias":
        e = m[1][0]
        m = getattr(e, "_meta", None)
    if m and m[0] == "col" and isinstance(m[2], str):
        return m[2]
    return None


def _parse_exprs(exprs, named) -> list[tuple[str | None, Expr]]:
    out: list[tuple[str | None, Expr]] = []
    for e in exprs:
        if isinstance(e, (list, tuple)):
            out.extend((None, wrap_expr(x) if not isinstance(x, str) else col(x)) for x in e)
        elif isinstance(e, str):
            out.append((None, col(e)))
        else:
            out.append((None, wrap_expr(e)))
    for name, e in named.items():
        out.append((name, col(e) if isinstance(e, str) else wrap_expr(e)))
    return out


class LazyFrame:
    """Deferred query plan (parity: lib/polars/lazy_frame.rb)."""

    def __init__(self, sdf: SparkDF = None, schema=None, schema_overrides=None,
                 data=None):
        if sdf is None and data is not None:
            sdf = data  # keyword form: DataFrame.new(data: {...})
        if sdf is None or (isinstance(sdf, dict) and not sdf):
            from pyspark.sql.types import StructType
            from .session import get_spark

            sdf = get_spark().createDataFrame([], StructType([]))
        from .series import Series as _Series

        if isinstance(sdf, _Series):
            # DataFrame.new(series) (data_frame_test.rb)
            sdf = sdf.to_frame()._sdf
        elif isinstance(sdf, (list, tuple)) and sdf and \
                all(isinstance(x, _Series) for x in sdf):
            # DataFrame.new([series, series, ...]) → horizontal assemble
            from .sources.io import from_hash

            sdf = from_hash({s.name: s for s in sdf}, schema=schema)._sdf
        if isinstance(sdf, dict):
            # Polars::DataFrame.new({...}) hash-of-columns (convert.rb:29)
            from .sources.io import from_hash

            sdf = from_hash(sdf, schema=schema)._sdf
        elif isinstance(sdf, (list, tuple)):
            # array-of-row-hashes / array-of-arrays (data_frame.rb:41)
            from .sources.io import from_records

            sdf = from_records(list(sdf), schema=schema)._sdf
        elif not isinstance(sdf, SparkDF):
            try:
                import pandas as pd

                if isinstance(sdf, pd.DataFrame):
                    from .sources.io import from_pandas

                    sdf = from_pandas(sdf)._sdf
            except ImportError:
                pass
        if schema_overrides:
            # partial dtype map over the inferred schema (data_frame.rb
            # schema_overrides): cast just the named columns
            from pyspark.sql import functions as F

            from .datatypes import to_spark_type

            casts = {c: to_spark_type(t) for c, t in schema_overrides.items()}
            sdf = sdf.select(*[
                F.col(c).cast(casts[c]).alias(c) if c in casts else F.col(c)
                for c in sdf.columns
            ])
        self._sdf = sdf

    # -- deferred row-order restore (round-3) --------------------------------
    #
    # Value-ordered window binds (rank, rolling_*_by) leave physical row
    # order scrambled while the hidden ROW_IDX VALUES stay correct.  Instead
    # of eagerly range-sorting after every such bind, the frame carries an
    # ``_order_dirty`` flag: reading ``_sdf`` yields a restored (orderBy
    # ROW_IDX) VIEW — plan-level only, no job — so every consumer stays
    # order-correct by construction, while the opted-in non-order-observing
    # paths (select/with_columns/filter binds, ``to_spark``) read
    # ``_sdf_raw`` and propagate the flag, skipping the executed sort when
    # nothing downstream observes row order.  ``to_spark`` is legitimately
    # raw: a Spark DataFrame carries no row-order contract (any shuffle
    # reorders); the polars-semantics exports go through ``_ordered_spark``.
    _order_dirty = False

    #: DENSE-index provenance (round-5): True only when this frame's
    #: ROW_IDX is known to be 0..n-1 (freshly attached, or row-preserving
    #: descendant of such a frame).  Row-subset ops (filter/unique/sample)
    #: keep the index for ORDER — where gaps are harmless — but leave it
    #: STALE for positional consumers (arg_*, reverse/shuffle index maps,
    #: slice, agg_groups), which must re-rank via _ensure_dense_index.
    _idx_dense = False

    #: sort-key row-order provenance: ``((name, desc, nulls_last), ...)``
    #: set by an explicit sort(string_keys).  When present (and ROW_IDX is
    #: not), order-consuming binds may window by THESE KEYS directly
    #: (exprs._ORDER_CTX) instead of materializing a global row index, and
    #: the deferred restore is an orderBy on the keys.  Hidden ``__ord_i__``
    #: copies keep the restore possible after a projection drops the keys.
    _order_cols = None

    @staticmethod
    def _spec_cols(spec):
        out = []
        for n, desc, nl in spec:
            c = F.col(n)
            if desc:
                out.append(c.desc_nulls_last() if nl else c.desc_nulls_first())
            else:
                out.append(c.asc_nulls_last() if nl else c.asc_nulls_first())
        return out

    @property
    def _sdf(self) -> SparkDF:
        sdf = self._sdf_raw
        if self._order_dirty:
            if self._order_cols and all(
                    n in sdf.columns for n, _, _ in self._order_cols):
                # a recorded sort spec WINS over the hidden index; the
                # index (when kept) becomes the stability tiebreak —
                # ties come out in original row order like polars'
                # single-threaded stable sort
                keys = self._spec_cols(self._order_cols)
                if ROW_IDX in sdf.columns and ROW_IDX not in [
                        n for n, _, _ in self._order_cols]:
                    keys = keys + [F.col(ROW_IDX).asc()]
                sdf = sdf.orderBy(*keys)
            elif ROW_IDX in sdf.columns:
                return sdf.orderBy(ROW_IDX)
        hidden = [c for c in sdf.columns if c.startswith("__ord_")]
        return sdf.drop(*hidden) if hidden else sdf

    @_sdf.setter
    def _sdf(self, sdf: SparkDF) -> None:
        self._sdf_raw = sdf
        self._order_dirty = False
        self._order_cols = None

    # -- plumbing -----------------------------------------------------------
    def to_spark(self) -> SparkDF:
        # order-restored: safe default for exports and internal composition
        return strip_row_index(self._sdf)

    def _raw_spark(self) -> SparkDF:
        """UNORDERED Spark handoff — skips the deferred row-order restore.
        Legitimate only where the consumer imposes no row-order contract
        (the driver's canonicalizer sorts; Spark shuffles reorder anyway)."""
        sdf = self._sdf_raw
        drops = [c for c in sdf.columns
                 if c == ROW_IDX or c.startswith("__ord_")]
        return sdf.drop(*drops) if drops else sdf

    @property
    def columns(self) -> list[str]:
        return [c for c in self._sdf.columns if c != ROW_IDX]

    @columns.setter
    def columns(self, names) -> None:
        # data_frame.rb:135 columns= — positional rename, mutates in place
        cur = self.columns
        if len(names) != len(cur):
            raise ValueError(
                f"{len(names)} column names given for {len(cur)} columns")
        mapping = dict(zip(cur, names))
        self._sdf = self._sdf.select(
            *[F.col(c).alias(mapping.get(c, c)) for c in self._sdf.columns])

    def __contains__(self, name) -> bool:
        # data_frame.rb:302 include?
        return name in self.columns

    @property
    def schema(self):
        return {f.name: f.dataType for f in self._sdf.schema.fields if f.name != ROW_IDX}

    collect_schema = schema

    @property
    def dtypes(self):
        return [t for _, t in self.schema.items()]

    @property
    def width(self) -> int:
        return len(self.columns)

    def _ensure_row_index(self) -> "LazyFrame":
        if ROW_IDX in self._sdf.columns:
            return self
        out = LazyFrame(with_row_index(self._sdf, ROW_IDX))
        out._idx_dense = True  # freshly attached: 0..n-1 by construction
        return out

    def _ensure_dense_index(self) -> "LazyFrame":
        """Frame whose ROW_IDX is DENSE 0..n-1 — required by positional
        consumers (arg_min/arg_max/arg_sort, reverse/shuffle index maps,
        slice, agg_groups).  An index of unknown provenance may be gapped
        (a row-subset op upstream kept it for order), so it is re-ranked
        unless the frame is flagged `_idx_dense`."""
        if ROW_IDX not in self._sdf_raw.columns:
            return self._ensure_row_index()
        if self._idx_dense:
            return self
        base = self._sdf_raw
        if self._order_dirty:
            base = base.orderBy(ROW_IDX)
        out = LazyFrame(with_row_index(base.drop(ROW_IDX), ROW_IDX))
        out._order_cols = self._order_cols
        out._idx_dense = True
        return out

    def _bind_all(self, parsed, context: str):
        """Bind parsed (name, Expr) pairs → Spark Columns.

        ``select`` with only aggregates routes to ``df.agg`` (one row, plain
        partial-agg plan); mixed/windowed aggregates broadcast via a global
        window (documented scale caveat — rare API).

        Binds read the RAW (possibly order-dirty) frame: every ordinal
        construct keys off ROW_IDX VALUES (which stay correct on a dirty
        frame), never physical order — select/with_columns/filter propagate
        the dirty flag instead of forcing the restore sort.
        """
        sdf = self._sdf_raw
        expanded: list[tuple[str | None, Expr]] = []
        for name, e in parsed:
            for ee in e._expand(sdf):
                expanded.append((name, ee))
        ewm_nodes = _ewm_nodes([e for _, e in expanded])
        needs_order = bool(ewm_nodes) or any(
            e._needs_order or e._scrambles_order for _, e in expanded)
        # sort-key window-ordering fast path: the frame's row order came
        # from an explicit sort(keys) and every order consumer in this bind
        # is _order_safe (windows only, never ROW_IDX values) — order
        # windows by the ORIGINAL SORT KEYS and skip the global range-sort +
        # row-index materialization entirely.  A with_columns that
        # overwrites a sort-key column falls back (the restore would read
        # the new values).
        fast_cols = None
        spec = self._order_cols
        if (needs_order and ROW_IDX not in sdf.columns and spec
                and all(n in sdf.columns for n, _, _ in spec)
                and all(e._order_safe for _, e in expanded)
                and not ewm_nodes
                and not any(e._global_ordinal_fn is not None
                            or e._grouped_remap_fn is not None
                            for _, e in expanded)
                and not (context == "with_columns"
                         and {nm or e._name for nm, e in expanded}
                         & {n for n, _, _ in spec})):
            fast_cols = self._spec_cols(spec)
        if needs_order and ROW_IDX not in sdf.columns and fast_cols is None:
            sdf = self._ensure_row_index()._sdf
        if (ROW_IDX in self._sdf_raw.columns and not self._idx_dense
                and any(e._needs_dense_index for _, e in expanded)):
            # positional consumer over an index of unknown provenance (a
            # row-subset op upstream may have gapped it): re-rank first
            sdf = self._ensure_dense_index()._sdf_raw
        _ORDER_CTX.append(fast_cols)
        binding = _ColumnBinding()
        try:
            pre_ewm = sdf   # ewm nodes attach first, then bind as columns
            ewm_ks = {k for k, (_, e) in enumerate(expanded)
                      if ewm_nodes and _ewm_nodes([e])}
            sdf, ewm_cols = _attach_ewm(sdf, ewm_nodes, binding)
            all_agg = bool(expanded) and all(e._is_agg for _, e in expanded)
            if context == "select" and all_agg:
                # composed per-row+aggregate exprs (x * x.sum(), when(...) *
                # sum(...)) carry is_agg but cannot land in df.agg — analysis-
                # probe each; any failure demotes the whole bind to the mixed
                # path (scalar-attach + global-window fallback), which preserves
                # row count like polars does for these
                for _, e in expanded:
                    try:
                        sdf.agg(e._fn(sdf, None).alias("__aggprobe__"))
                    except Exception:
                        all_agg = False
                        break
            any_agg = any(e._is_agg for _, e in expanded)
            # Aggregates inside a row-preserving context (with_columns / mixed
            # select) attach as a ONE-ROW keyless sub-aggregate crossJoined back
            # (two-phase partial agg + 1-row broadcast — the sanctioned
            # scalar-attach) instead of an empty-partition global window that
            # funnels the whole table through one task.  Composed exprs mixing
            # per-row and aggregate parts (x - x.mean()) cannot land in df.agg —
            # the analysis probe fails and they keep the global-window binding.
            scalar_plan: dict[int, str] = {}
            one = None
            if not (context == "select" and all_agg):
                probe_cols = []
                for k, (name, e) in enumerate(expanded):
                    if not e._is_agg:
                        continue
                    c = e._fn(sdf, None)
                    tmp = f"__scal_{k}__"
                    try:
                        sdf.agg(c.alias(tmp))  # analysis-only pure-agg probe
                    except Exception:
                        continue
                    scalar_plan[k] = tmp
                    probe_cols.append(c.alias(tmp))
                if probe_cols:
                    # over the PRE-attach frame, unless an aggregate reads
                    # an attached ewm column
                    src = sdf if ewm_ks & scalar_plan.keys() else pre_ewm
                    one = src.agg(*probe_cols)
            helpers = ewm_cols + list(scalar_plan.values())
            # ordinal hooks may run alongside aggregates as long as every agg
            # was scalar-planned (its value is already a plain attached column);
            # only an unplanned composed agg (global-window binding) blocks them
            unplanned_agg = any(e._is_agg and k not in scalar_plan
                                for k, (_, e) in enumerate(expanded)) and not (
                                    context == "select" and all_agg)
            # attach ordinal hooks BEFORE the scalar crossJoin so the attach's
            # internal self-branches (rank-zip vals side) don't drag a vestigial
            # pruned one-row broadcast through their plans
            hook_cols: dict[int, str] = {}

            def chain_posts(sdf, k, cur, posts):
                # a batched binding's queued elementwise lifts (e.g.
                # ``.round(2)`` on the hook expr) land as helper columns
                # over its attached column; the last one is the binding
                from .exprs import _next_gord_name

                for fpost in posts:
                    nxt = _next_gord_name()
                    sdf = sdf.withColumn(nxt, fpost(F.col(cur)))
                    cur = nxt
                    helpers.append(cur)
                hook_cols[k] = cur
                return sdf

            if not (context == "select" and all_agg) and not unplanned_agg:
                # SAME-FRAME cum_* bindings batch into ONE attach: one pin
                # and one offsets broadcast for all of them
                cum_ks = [
                    (k, e._global_ordinal_fn._cum_batch)
                    for k, (name, e) in enumerate(expanded)
                    if not e._is_agg and k not in hook_cols
                    and e._global_ordinal_fn is not None
                    and getattr(e._global_ordinal_fn, "_cum_batch", None)]
                if len(cum_ks) >= 2:
                    from .exprs import _next_gord_name
                    from .operators.row_index import attach_global_cum_multi

                    tmps = [_next_gord_name() for _ in cum_ks]
                    sdf = attach_global_cum_multi(
                        sdf, [(b["value"], b["kind"], b["reverse"], tmp)
                              for (_k, b), tmp in zip(cum_ks, tmps)])
                    for (k, b), tmp in zip(cum_ks, tmps):
                        sdf = b["finish"](sdf, tmp)
                        helpers.append(tmp)
                        sdf = chain_posts(sdf, k, tmp, b["post"])
                # same for rolling_by kernel attaches: bindings sharing
                # (by, span, closed, keys) run ONE kernel shuffle for all
                # their aggregates instead of one per stat (round-9)
                rb_ks = [
                    (k, e._global_ordinal_fn._rolling_by_batch)
                    for k, (name, e) in enumerate(expanded)
                    if not e._is_agg and k not in hook_cols
                    and e._global_ordinal_fn is not None
                    and getattr(e._global_ordinal_fn, "_rolling_by_batch",
                                None)]
                by_sig: dict = {}
                for k, b in rb_ks:
                    by_sig.setdefault(b["sig"], []).append((k, b))
                for sig, grp in by_sig.items():
                    if len(grp) < 2:
                        continue
                    from .exprs import _next_gord_name
                    from .operators.rolling_kernel import \
                        attach_rolling_by_multi

                    # round-11: bindings under one sig may carry
                    # HETEROGENEOUS window frames (entry_frames) and
                    # multi-item plans ("items" — a row-window rolling
                    # contributes its value AND its min_periods count);
                    # everything still runs through ONE kernel shuffle
                    b0 = grp[0][1]
                    entries, eframes, slots = [], [], []
                    for k, b in grp:
                        its = (b.get("items")
                               or [(b["inner"], b["kind"],
                                    b.get("frame"))])
                        ts_ = [_next_gord_name() for _ in its]
                        for (inn, kind, fr), tmp in zip(its, ts_):
                            entries.append((inn, kind, tmp))
                            eframes.append(fr)
                        slots.append((k, b, ts_))
                    try:
                        sdf2 = attach_rolling_by_multi(
                            sdf, b0["by_e"], list(b0["keys"]), b0["span"],
                            b0["closed"], entries,
                            row_frame=b0.get("row_frame"),
                            entry_frames=eframes)
                    except ValueError:
                        continue    # solo hooks below handle fallback
                    sdf = sdf2
                    for k, b, ts_ in slots:
                        helpers.extend(ts_)
                        cur = ts_[0]
                        finish = b.get("finish")
                        fin = b.get("fin")
                        if finish is not None:
                            # multi-item finisher (value + count →
                            # min_periods gate)
                            nxt = _next_gord_name()
                            sdf = sdf.withColumn(nxt, finish(
                                [F.col(t) for t in ts_], sdf))
                            cur = nxt
                            helpers.append(cur)
                        elif fin is not None:
                            # per-binding finisher needing the frame
                            # (shift's fill_value coalesce, diff/
                            # pct_change's lag arithmetic — round-10)
                            nxt = _next_gord_name()
                            sdf = sdf.withColumn(nxt, fin(sdf, cur))
                            cur = nxt
                            helpers.append(cur)
                        sdf = chain_posts(sdf, k, cur, b["post"])
                # same for ungrouped rank bindings: ALL methods and both
                # directions over the same column derive from ONE ascending
                # distinct-prefix table (round-10) — one distinct aggregate,
                # one join, no inter-stage checkpoints (q165's six chained
                # attaches spent 4.2 s of its 4.4 s in construct)
                rk_ks = [
                    (k, e._global_ordinal_fn._rank_batch)
                    for k, (name, e) in enumerate(expanded)
                    if not e._is_agg and k not in hook_cols
                    and e._global_ordinal_fn is not None
                    and getattr(e._global_ordinal_fn, "_rank_batch", None)]
                rk_sig: dict = {}
                for k, b in rk_ks:
                    rk_sig.setdefault(b["sig"], []).append((k, b))
                for sig, grp in rk_sig.items():
                    if len(grp) < 2:
                        continue
                    from .exprs import _next_gord_name
                    from .operators.row_index import attach_global_rank_multi

                    tmps = [_next_gord_name() for _ in grp]
                    sdf = attach_global_rank_multi(
                        sdf, grp[0][1]["value"],
                        [(b["method"], b["descending"], tmp)
                         for (_k, b), tmp in zip(grp, tmps)])
                    for (k, b), tmp in zip(grp, tmps):
                        helpers.append(tmp)
                        sdf = chain_posts(sdf, k, tmp, b["post"])
                # same for fill-family bindings (round-10): every
                # forward/backward fill and interpolate on this frame —
                # including merged binary compositions — flattens into ONE
                # chunk exchange + totals aggregate + broadcast join
                fl_ks = [
                    (k, e._global_ordinal_fn._fill_batch)
                    for k, (name, e) in enumerate(expanded)
                    if not e._is_agg and k not in hook_cols
                    and e._global_ordinal_fn is not None
                    and getattr(e._global_ordinal_fn, "_fill_batch", None)]
                if len(fl_ks) >= 2:
                    from .exprs import _next_gord_name
                    from .operators.row_index import attach_global_fill_multi

                    all_items, spans = [], []
                    for k, b in fl_ks:
                        spans.append((k, b, len(all_items),
                                      len(b["items"])))
                        all_items.extend(b["items"])
                    tmps = [_next_gord_name() for _ in all_items]
                    sdf = attach_global_fill_multi(
                        sdf, [(vf, kind, t)
                              for (vf, kind), t in zip(all_items, tmps)])
                    for k, b, off, n in spans:
                        cs = [F.col(t) for t in tmps[off:off + n]]
                        c = b["finish"](cs, sdf)
                        for fpost in b["post"]:
                            c = fpost(c)
                        nxt = _next_gord_name()
                        sdf = sdf.withColumn(nxt, c)
                        helpers.append(nxt)
                        hook_cols[k] = nxt
                    sdf = sdf.drop(*tmps)
                hook_attached = bool(hook_cols) or bool(ewm_cols)
                for k, (name, e) in enumerate(expanded):
                    if (e._is_agg or e._global_ordinal_fn is None
                            or k in hook_cols):
                        continue
                    if hook_attached:
                        # CHAINED attaches (round-9): every attach's side
                        # branches (chunk totals, kernel work frame)
                        # re-execute their input — with k chained hooks
                        # that multiplies into ~2^k re-runs of the whole
                        # pipeline (measured: q166's six attaches hit 19 s
                        # where one runs in ~0.5 s).  A LAZY localCheckpoint
                        # between attaches materializes each stage once,
                        # making chains linear (q166 execute 19.3 s →
                        # 0.75 s).  It is not free at construction: under
                        # AQE the lazy checkpoint builds its RDD through
                        # queryExecution.toRdd, which runs every upstream
                        # shuffle stage (and a sort's range sampler) right
                        # away — Spark jobs, not planning.  The measured
                        # alternative (persist) saves construct but pays
                        # it back with cache-write overhead at execute.
                        # Paid only from the SECOND hook on, so
                        # single-attach binds are untouched.
                        sdf = sdf.localCheckpoint(eager=False)
                    sdf, tmp = e._global_ordinal_fn(sdf)
                    hook_cols[k] = tmp
                    helpers.append(tmp)
                    hook_attached = True
            if one is not None:
                sdf = sdf.crossJoin(F.broadcast(one))
            cols = []
            for k, (name, e) in enumerate(expanded):
                if context == "select" and all_agg:
                    c = e._fn(sdf, None)          # plain aggregate → df.agg
                elif e._is_agg and k in scalar_plan:
                    c = F.col(scalar_plan[k])
                elif e._is_agg and (context == "with_columns" or any_agg):
                    c = e._fn(sdf, [])            # composed agg: global window
                elif k in hook_cols:
                    # ungrouped ordinal / grouped remap: two-pass attach instead
                    # of a single-task or per-row-array window
                    c = F.col(hook_cols[k])
                else:
                    c = e._fn(sdf, None)
                alias = name or e._name
                if alias:
                    c = c.alias(alias)
                cols.append((alias, c))
            # windows leave the output partition-sorted by their window key —
            # value-ordered ones (rank, rolling_*_by) by the value, and plain
            # ROW_IDX-ordered ones (shift/cum_*/rolling/… under over()) by
            # (keys, ROW_IDX): both scramble physical row order, so callers must
            # restore frame row order (polars preserves it).  Hook-bound exprs
            # (k in hook_cols) scramble too (round-7): the two-pass attachments
            # leave the chunk/join layout in place and rely on this deferred
            # restore instead of paying an eager re-sort inside every attach
            # (driver/bench handoffs skip the restore legitimately).  Of the
            # aggregates, only scalar-planned ones and df.agg are order-free.
            self._last_bind_scrambled = not (
                context == "select" and all_agg) and any(
                (e._scrambles_order or e._needs_order or k in hook_cols)
                and k not in scalar_plan
                for k, (_, e) in enumerate(expanded))
            self._last_bind_fast = fast_cols is not None
            self._last_bind_identities = {
                alias: _identity_source(e)
                for (alias, _c), (_nm, e) in zip(cols, expanded)}
        finally:
            binding.restore()
            _ORDER_CTX.pop()
        return sdf, cols, all_agg, helpers

    def _reshape(self, e, name) -> "LazyFrame":
        """Bind a row-count-changing expression through its ``_frame_fn``.
        ewm nodes under it attach first; the reshape reads their columns
        (a nested select skips the already attached nodes)."""
        nodes = _ewm_nodes([e])
        if not nodes:
            return e._frame_fn(self, name or e._name)
        base = self._ensure_row_index()
        binding = _ColumnBinding()
        try:
            sdf, _ = _attach_ewm(base._sdf_raw, nodes, binding)
            lf = LazyFrame(sdf)
            lf._order_dirty = True
            lf._idx_dense = base._idx_dense
            return e._frame_fn(lf, name or e._name)
        finally:
            binding.restore()

    # -- projections ----------------------------------------------------------
    def select(self, *exprs, **named) -> "LazyFrame":
        parsed = _parse_exprs(exprs, named)
        if any(e._frame_fn is not None for _, e in parsed):
            if len(parsed) != 1:
                if all(e._frame_fn is not None for _, e in parsed):
                    # several reshapes of equal length side by side
                    # (select(top_k(), bottom_k()) — expr.rb top_k doctest):
                    # bind each flat result and hstack positionally
                    from .operators.reshape import hstack as _hstack

                    out = None
                    for name, e in parsed:
                        part = self._reshape(e, name)
                        out = part if out is None else _hstack(out, part)
                    return out
                from .exceptions import InvalidOperationError

                raise InvalidOperationError(
                    "row-count-changing expressions (reshape) must be the "
                    "only expression in a select")
            name, e = parsed[0]
            return self._reshape(e, name)
        sdf, cols, all_agg, _helpers = self._bind_all(parsed, "select")
        if all_agg:
            return LazyFrame(sdf.agg(*[c for _, c in cols]))
        scrambled = self._last_bind_scrambled or self._order_dirty
        if scrambled and ROW_IDX in sdf.columns:
            # keep the (still valid) hidden index; the restore sort is
            # DEFERRED via _order_dirty — it materializes only if an
            # order-observing consumer reads the frame
            out = LazyFrame(sdf.select(*[c for _, c in cols], F.col(ROW_IDX)))
            out._order_dirty = True
            # row-preserving: density survives (fresh attach = dense)
            out._idx_dense = (self._idx_dense
                              or ROW_IDX not in self._sdf_raw.columns)
            return out
        # sort-key row-order provenance: survives when every key column is
        # an identity projection of this select; otherwise hidden __ord_i__
        # copies keep a deferred restore possible
        spec = self._order_cols
        idents = getattr(self, "_last_bind_identities", {})
        surv = None
        if spec:
            out_names = {a for a, _ in cols}
            if all(n in out_names and idents.get(n) == n
                   for n, _, _ in spec):
                surv = spec
        if scrambled and spec and ROW_IDX not in sdf.columns:
            if surv is None:
                hid = tuple((f"__ord_{i}__", d, nl)
                            for i, (n, d, nl) in enumerate(spec))
                out = LazyFrame(sdf.select(
                    *[c for _, c in cols],
                    *[F.col(n).alias(h)
                      for (n, _, _), (h, _, _) in zip(spec, hid)]))
                out._order_cols = hid
            else:
                out = LazyFrame(sdf.select(*[c for _, c in cols]))
                out._order_cols = surv
            out._order_dirty = True
            return out
        out = LazyFrame(sdf.select(*[c for _, c in cols]))
        out._order_cols = surv
        return out

    select_seq = select

    def with_columns(self, *exprs, **named) -> "LazyFrame":
        parsed = _parse_exprs(exprs, named)
        slits = [(n, e) for n, e in parsed
                 if getattr(e, "_series_lit", None) is not None]
        if slits:
            # series literals attach POSITIONALLY (row-index zip join —
            # lit.rb:18; cut include_breaks doctest); remaining exprs
            # re-enter the normal bind afterwards
            from .operators.reshape import hstack as _hstack

            cur = self
            for n, e in slits:
                nm = n or e._name or "literal"
                fr = e._series_lit.rename(nm).to_frame()
                if e._series_lit_dtype is not None:
                    fr = fr.select(col(nm).cast(
                        e._series_lit_dtype).alias(nm))
                if nm in cur.columns:
                    order = [c for c in cur.columns]
                    cur = _hstack(cur.drop(nm), fr).select(order)
                else:
                    cur = _hstack(cur, fr)
            rest = [e.alias(n) if n else e for n, e in parsed
                    if getattr(e, "_series_lit", None) is None]
            out = cur.with_columns(*rest) if rest else cur
            return out if isinstance(self, DataFrame) else out.lazy()
        sdf, cols, _, helpers = self._bind_all(parsed, "with_columns")
        mapping = {}
        for alias, c in cols:
            if alias is None:
                # fall back to Spark's inferred name (driver-side analysis only)
                alias = sdf.select(c).columns[0]
            mapping[alias] = c
        scrambled = self._last_bind_scrambled or self._order_dirty
        spec = self._order_cols
        hid = None
        base = sdf
        if (scrambled and ROW_IDX not in sdf.columns and spec
                and {n for n, _, _ in spec} & set(mapping)):
            # an order-key column is being overwritten while row order is
            # scrambled: stash hidden copies of the OLD values so the
            # deferred restore still sorts by the original keys
            hid = tuple((f"__ord_{i}__", d, nl)
                        for i, (n, d, nl) in enumerate(spec))
            base = sdf.withColumns({h: F.col(n) for (n, _, _), (h, _, _)
                                    in zip(spec, hid)})
        # withColumns keeps original column order and replaces in place
        out = base.withColumns(mapping)
        drop = [h for h in helpers if h not in mapping]
        if drop:
            out = out.drop(*drop)
        if scrambled and ROW_IDX in out.columns:
            lf = LazyFrame(out)     # keep the (still valid) hidden index
            lf._order_dirty = True  # deferred restore (see select)
            lf._idx_dense = (self._idx_dense
                             or ROW_IDX not in self._sdf_raw.columns)
            return lf
        lf = LazyFrame(strip_row_index(out)
                       if ROW_IDX not in self._sdf_raw.columns else out)
        lf._idx_dense = self._idx_dense and ROW_IDX in lf._sdf_raw.columns
        if spec and ROW_IDX not in out.columns:
            if hid is not None:
                lf._order_cols = hid
                lf._order_dirty = True
            elif not ({n for n, _, _ in spec} & set(mapping)):
                lf._order_cols = spec
                lf._order_dirty = scrambled
        return lf

    with_columns_seq = with_columns

    def with_column(self, expr) -> "LazyFrame":
        return self.with_columns(expr)

    def drop(self, *cols_) -> "LazyFrame":
        names = []
        for c in cols_:
            names.extend(c if isinstance(c, (list, tuple)) else [c])
        return LazyFrame(self._sdf.drop(*names))

    def rename(self, mapping) -> "LazyFrame":
        # data_frame.rb rename accepts a mapping or a name-transform callable
        if callable(mapping) and not isinstance(mapping, dict):
            mapping = {c: mapping(c) for c in self.columns}
        return LazyFrame(self._sdf.withColumnsRenamed(mapping))

    # -- filters ----------------------------------------------------------------
    def filter(self, *predicates, **constraints) -> "LazyFrame":
        preds = [wrap_expr(p) for p in predicates]
        complex_ = [e for e in preds
                    if e._needs_order or e._is_agg or e._scrambles_order
                    or e._global_ordinal_fn is not None
                    or e._grouped_remap_fn is not None]
        if complex_:
            # windowed / aggregate predicates are illegal inside a WHERE
            # clause (polars allows them: filter(x > x.mean()),
            # filter(cum_sum().over(g) > k)) — materialize them through the
            # full _bind_all machinery (scalar attach, two-pass hooks,
            # scramble marking), filter on the attached booleans, drop.
            tmps = [(f"__flt_{i}__", e) for i, e in enumerate(preds)]
            lf = self.with_columns(*[e.alias(n) for n, e in tmps])
            sdf = lf._sdf_raw
            for n, _ in tmps:
                sdf = sdf.filter(F.col(n))
            for name, v in constraints.items():
                sdf = sdf.filter(F.col(name) == v)
            sdf = sdf.drop(*[n for n, _ in tmps])
            if ROW_IDX in sdf.columns \
                    and ROW_IDX not in self._sdf_raw.columns:
                # index self-attached for this filter: its values are now
                # gapped (stale for positional ops) — restore physical row
                # order if a window scrambled it, then strip
                if lf._order_dirty:
                    sdf = sdf.orderBy(ROW_IDX)
                sdf = strip_row_index(sdf)
            out = LazyFrame(sdf)
            if ROW_IDX in sdf.columns:
                out._order_dirty = lf._order_dirty
            else:
                # no row index: keep the with_columns frame's sort-key
                # provenance (incl. hidden __ord_* copies still in sdf) so
                # a deferred sort(keys) survives a windowed-predicate
                # filter — rows must come back in sorted order
                out._order_cols = lf._order_cols
                out._order_dirty = (lf._order_dirty
                                    and lf._order_cols is not None)
            return out
        sdf = self._sdf_raw     # plain predicates are value-based: dirty-safe
        conds = [e._fn(sdf, None) for e in preds]
        for name, v in constraints.items():
            conds.append(F.col(name) == v)
        out = sdf
        for c in conds:
            out = out.filter(c)
        lf = LazyFrame(out)
        lf._order_cols = self._order_cols   # filters keep sort-key provenance
        lf._order_dirty = self._order_dirty and (
            ROW_IDX in out.columns or lf._order_cols is not None)
        return lf

    where = filter

    def drop_nulls(self, subset=None) -> "LazyFrame":
        subset = [subset] if isinstance(subset, str) else subset
        out = LazyFrame(self._sdf_raw.dropna(subset=subset))
        out._order_cols = self._order_cols
        out._order_dirty = self._order_dirty and (
            ROW_IDX in self._sdf_raw.columns or out._order_cols is not None)
        return out

    def drop_nans(self, subset=None) -> "LazyFrame":
        cols_ = subset or [f.name for f in self._sdf.schema.fields
                           if f.dataType.typeName() in ("double", "float")]
        cols_ = [cols_] if isinstance(cols_, str) else cols_
        out = self._sdf
        for c in cols_:
            out = out.filter(~F.isnan(F.col(c)) | F.col(c).isNull())
        return LazyFrame(out)

    def fill_null(self, value=None, strategy=None, limit=None) -> "LazyFrame":
        exprs = [col(c).fill_null(value, strategy, limit).alias(c) for c in self.columns]
        return self.with_columns(*exprs)

    def fill_nan(self, value) -> "LazyFrame":
        exprs = [col(c).fill_nan(value).alias(c)
                 for c in self.columns
                 if dict(self.schema)[c].typeName() in ("double", "float")]
        return self.with_columns(*exprs) if exprs else self

    # -- ordinal ops ---------------------------------------------------------------
    def sort(self, by, *more_by, descending: bool | list[bool] = False,
             nulls_last: bool = False, maintain_order: bool = False,
             reverse=None) -> "LazyFrame":
        if reverse is not None:  # deprecated polars-ruby alias for descending
            descending = reverse
        keys = [by] + list(more_by) if not isinstance(by, list) else list(by) + list(more_by)
        if isinstance(descending, bool):
            descending = [descending] * len(keys)
        sdf = strip_row_index(self._sdf)
        order = []
        for k, desc in zip(keys, descending):
            c = col(k)._fn(sdf, None) if isinstance(k, str) else wrap_expr(k)._fn(sdf, None)
            if desc:
                order.append(c.desc_nulls_last() if nulls_last else c.desc_nulls_first())
            else:
                order.append(c.asc_nulls_last() if nulls_last else c.asc_nulls_first())
        if maintain_order and ROW_IDX in self._sdf.columns:
            order.append(F.col(ROW_IDX).asc())
            return LazyFrame(sdf.orderBy(*order))
        if all(isinstance(k, str) for k in keys):
            # DEFERRED sort: record the key spec and keep the raw plan
            # unsorted — the `_sdf` restored view adds the orderBy only when
            # an order-observing consumer reads the frame, and ordered-
            # window binds order by these keys directly (exprs._ORDER_CTX),
            # so sort→window pipelines never execute the global range sort
            # at all, and sort→head compiles to TakeOrdered.  The hidden
            # index survives as the restore's stability tiebreak.
            out = LazyFrame(self._sdf)
            out._order_cols = tuple(
                (k, bool(d), bool(nulls_last))
                for k, d in zip(keys, descending))
            out._order_dirty = True
            return out
        return LazyFrame(sdf.orderBy(*order))

    def reverse(self) -> "LazyFrame":
        lf = self._ensure_row_index()
        return LazyFrame(strip_row_index(lf._sdf.orderBy(F.col(ROW_IDX).desc())))

    def limit(self, n: int = 5) -> "LazyFrame":
        return LazyFrame(self._sdf.limit(n))

    def head(self, n: int = 5) -> "LazyFrame":
        if n < 0:
            # polars: negative n keeps all but the LAST |n| rows
            out = self._with_total().filter(
                F.col(ROW_IDX) <= F.col("__total__") + n)
            return LazyFrame(strip_row_index(out.drop("__total__")))
        return self.limit(n)

    def _with_total(self):
        """Attach the max row index as a broadcast scalar column (no global
        window — a single-row aggregate cross-joined back, so the big side
        never funnels through one task).  DENSE index: the arithmetic
        treats ROW_IDX values as positions (round-5)."""
        lf = self._ensure_dense_index()
        total = lf._sdf.select(F.max(ROW_IDX).alias("__total__"))
        return lf._sdf.crossJoin(F.broadcast(total))

    def tail(self, n: int = 5) -> "LazyFrame":
        if n < 0:
            # polars: negative n skips the FIRST |n| rows
            return self.slice(-n, None)
        out = self._with_total().filter(F.col(ROW_IDX) > F.col("__total__") - n)
        return LazyFrame(strip_row_index(out.drop("__total__")))

    def slice(self, offset: int, length: int | None = None) -> "LazyFrame":
        if offset >= 0:
            lf = self._ensure_dense_index()  # values-as-positions
            c = F.col(ROW_IDX)
            cond = c >= offset
            if length is not None:
                cond = cond & (c < offset + length)
            return LazyFrame(strip_row_index(lf._sdf.filter(cond)))
        out = self._with_total()
        start = F.col("__total__") + 1 + offset
        cond = F.col(ROW_IDX) >= start
        if length is not None:
            cond = cond & (F.col(ROW_IDX) < start + length)
        return LazyFrame(strip_row_index(out.filter(cond).drop("__total__")))

    def gather_every(self, n: int, offset: int = 0) -> "LazyFrame":
        lf = self._ensure_dense_index()  # values-as-positions
        out = lf._sdf.filter((F.col(ROW_IDX) - offset) % n == 0).filter(
            F.col(ROW_IDX) >= offset)
        return LazyFrame(strip_row_index(out))

    take_every = gather_every

    def shift(self, n: int = 1, fill_value=None) -> "LazyFrame":
        exprs = [col(c).shift(n, fill_value).alias(c) for c in self.columns]
        return self.with_columns(*exprs)

    shift_and_fill = shift

    def with_row_index(self, name: str = "index", offset: int = 0) -> "LazyFrame":
        return LazyFrame(with_row_index(strip_row_index(self._sdf), name, offset))

    with_row_count = with_row_index

    def fetch(self, n_rows: int = 500):
        return DataFrame(self.limit(n_rows)._sdf)

    # -- uniqueness --------------------------------------------------------------------
    def unique(self, subset=None, keep: str = "any", maintain_order: bool = False) -> "LazyFrame":
        subset = [subset] if isinstance(subset, str) else subset
        if keep == "any":
            return LazyFrame(self._sdf.dropDuplicates(subset))
        spec = self._order_cols
        if keep in ("first", "last") and spec and ROW_IDX not in \
                self._sdf_raw.columns and all(
                    n in self._sdf_raw.columns for n, _, _ in spec):
            # deferred-sorted frame: "first in row order" = first under the
            # sort keys — dedupe with a keys-ordered window, no row index,
            # no executed global sort (classic sort→unique dedup pattern)
            part = [F.col(c) for c in (subset or self.columns)]
            order = self._spec_cols(spec)
            if keep == "last":
                # last in sort order = first under the fully reversed order
                # (direction and null placement both flip)
                flipped = []
                for (n, d, nl) in spec:
                    c = F.col(n)
                    if d:
                        flipped.append(c.asc_nulls_first() if nl
                                       else c.asc_nulls_last())
                    else:
                        flipped.append(c.desc_nulls_first() if nl
                                       else c.desc_nulls_last())
                order = flipped
            w = Window.partitionBy(*part).orderBy(*order)
            out = (self._sdf_raw.withColumn(
                "__rn__", F.row_number().over(w))
                .filter(F.col("__rn__") == 1).drop("__rn__"))
            res = LazyFrame(out)
            res._order_cols = spec
            res._order_dirty = True      # window scrambled physical order
            return res
        lf = self._ensure_row_index()
        part = [F.col(c) for c in (subset or self.columns)]
        if keep == "first":
            w = Window.partitionBy(*part).orderBy(F.col(ROW_IDX).asc())
            out = lf._sdf.withColumn("__rn__", F.row_number().over(w)).filter(
                F.col("__rn__") == 1).drop("__rn__")
        elif keep == "last":
            w = Window.partitionBy(*part).orderBy(F.col(ROW_IDX).desc())
            out = lf._sdf.withColumn("__rn__", F.row_number().over(w)).filter(
                F.col("__rn__") == 1).drop("__rn__")
        elif keep == "none":
            w = Window.partitionBy(*part)
            out = lf._sdf.withColumn("__cnt__", F.count(F.lit(1)).over(w)).filter(
                F.col("__cnt__") == 1).drop("__cnt__")
        else:
            raise ValueError(f"unknown keep {keep!r}")
        return LazyFrame(strip_row_index(out))

    # -- group by --------------------------------------------------------------------------
    def group_by(self, *keys, maintain_order: bool = False, **named_keys) -> LazyGroupBy:
        parsed = _parse_exprs(keys, named_keys)
        return LazyGroupBy(self, parsed, maintain_order)

    groupby = group_by

    def intersect(self, other: "LazyFrame") -> "LazyFrame":
        """Set intersection by full row (SURVEY §2.7 extension — Spark-free)."""
        return self.__class__(self.to_spark().intersect(other.to_spark()))

    def except_(self, other: "LazyFrame") -> "LazyFrame":
        """Set difference by full row (distinct rows of self not in other)."""
        return self.__class__(self.to_spark().exceptAll(other.to_spark()))

    difference = except_

    def group_by_cube(self, *keys, **named_keys) -> LazyGroupBy:
        """Spark-native extension (SURVEY §2.4: not in the reference): all
        2^k grouping-set combinations in ONE shuffle via `cube` — replaces
        2^k separate group_by passes over the data."""
        gb = LazyGroupBy(self, _parse_exprs(keys, named_keys))
        gb._grouping = "cube"
        return gb

    def group_by_rollup(self, *keys, **named_keys) -> LazyGroupBy:
        """Spark-native extension: hierarchical subtotals (k+1 grouping
        sets) in one shuffle via `rollup`."""
        gb = LazyGroupBy(self, _parse_exprs(keys, named_keys))
        gb._grouping = "rollup"
        return gb
    group = group_by

    def group_by_dynamic(self, index_column, every, period=None, offset=None,
                         closed="left", label="left", include_boundaries=False,
                         by=None, group_by=None,
                         start_by="window") -> DynamicGroupBy:
        return DynamicGroupBy(self, index_column, every, period, offset, closed,
                              label, include_boundaries, by or group_by,
                              start_by=start_by)

    groupby_dynamic = group_by_dynamic

    def rolling(self, index_column, period, offset=None, closed="right",
                by=None, group_by=None) -> RollingGroupBy:
        return RollingGroupBy(self, index_column, period, offset, closed, by or group_by)

    group_by_rolling = rolling
    groupby_rolling = rolling

    # -- joins ------------------------------------------------------------------------------
    def join(self, other: "LazyFrame", on=None, how: str = "inner", left_on=None,
             right_on=None, suffix: str = "_right", join_nulls: bool = False,
             coalesce: bool | None = None, broadcast: bool | None = None,
             validate: str = "m:m", allow_parallel: bool = True,
             force_parallel: bool = False) -> "LazyFrame":
        """Equi joins (lazy_frame.rb:1700). ``full`` keeps both key columns
        with the right one suffixed (doctest lazy_frame.rb:1648-1660).

        Scale notes: Catalyst/AQE picks broadcast vs shuffle join; pass
        ``broadcast=True`` to force a broadcast hint on the right side for
        known-small dims.
        """
        from .operators.joins import join as _join

        if validate not in (None, "m:m"):
            # key-uniqueness check (lazy_frame.rb join validate): one
            # map-side-combined agg per constrained side — polars also pays
            # a uniqueness pass when asked to validate
            from .exceptions import ComputeError

            lk = [on] if isinstance(on, str) else list(on or []) or \
                ([left_on] if isinstance(left_on, str) else list(left_on or []))
            rk = [on] if isinstance(on, str) else list(on or []) or \
                ([right_on] if isinstance(right_on, str) else list(right_on or []))
            def _unique(side, keys):
                mx = side._sdf.groupBy(*keys).count().agg(
                    F.max("count")).head()[0]
                return (mx or 0) <= 1
            if validate in ("1:1", "1:m") and not _unique(self, lk):
                raise ComputeError(f"join keys not unique on the left side ({validate})")
            if validate in ("1:1", "m:1") and not _unique(other, rk):
                raise ComputeError(f"join keys not unique on the right side ({validate})")
        return _join(self, other, on=on, how=how, left_on=left_on,
                     right_on=right_on, suffix=suffix, join_nulls=join_nulls,
                     coalesce=coalesce, broadcast=broadcast)

    def join_asof(self, other: "LazyFrame", on=None, left_on=None, right_on=None,
                  by=None, by_left=None, by_right=None, strategy: str = "backward",
                  tolerance=None, suffix: str = "_right") -> "LazyFrame":
        from .operators.asof_join import join_asof as _asof

        return _asof(self, other, on=on, left_on=left_on, right_on=right_on,
                     by=by, by_left=by_left, by_right=by_right,
                     strategy=strategy, tolerance=tolerance, suffix=suffix)

    def merge_sorted(self, other: "LazyFrame", key: str) -> "LazyFrame":
        out = self.to_spark().unionByName(other.to_spark())
        return LazyFrame(out.orderBy(F.col(key).asc()))

    def with_context(self, other):
        """lazy_frame.rb:1821 — make `other`'s columns visible to exprs.
        1-row contexts broadcast (cross join); equal-height contexts zip by
        row position.  Needs one count action to pick the plan."""
        others = other if isinstance(other, (list, tuple)) else [other]
        out = self
        for o in others:
            osdf = o.to_spark()
            if osdf.count() == 1:
                out = LazyFrame(out.to_spark().crossJoin(F.broadcast(osdf)))
            else:
                from .operators.reshape import hstack

                out = LazyFrame(hstack(out, o).to_spark())
        return out

    # -- nested ------------------------------------------------------------------------------
    def explode(self, *columns) -> "LazyFrame":
        names = []
        for c in columns:
            names.extend(c if isinstance(c, (list, tuple)) else [c])
        out = strip_row_index(self._sdf)
        if len(names) <= 1:
            for name in names:
                out = out.withColumn(name, F.explode_outer(F.col(name)))
            return LazyFrame(out)
        # multiple list columns explode in LOCKSTEP (polars zips them; a
        # per-column explode would cross-product).  arrays_zip pads unequal
        # lengths with null where polars raises — documented deviation.
        out = out.withColumn(
            "__zx__", F.explode_outer(F.arrays_zip(*[F.col(n) for n in names])))
        for n in names:
            out = out.withColumn(n, F.col("__zx__")[n])
        return LazyFrame(out.drop("__zx__"))

    def unnest(self, *columns) -> "LazyFrame":
        names = []
        for c in columns:
            names.extend(c if isinstance(c, (list, tuple)) else [c])
        out = self._sdf
        for name in names:
            # struct fields replace the column IN PLACE (data_frame.rb
            # unnest doctest: before, t_a..t_d, after)
            fields = [F.col(f"{name}.{sub.name}")
                      for sub in out.schema[name].dataType.fields]
            proj = []
            for c in out.columns:
                if c == name:
                    proj.extend(fields)
                else:
                    proj.append(F.col(c))
            out = out.select(*proj)
        return LazyFrame(out)

    # -- reshape (delegated) ---------------------------------------------------------------
    def unpivot(self, on=None, index=None, variable_name="variable", value_name="value") -> "LazyFrame":
        idx = [index] if isinstance(index, str) else (index or [])
        on_ = [on] if isinstance(on, str) else (on or [c for c in self.columns if c not in idx])
        sdf = strip_row_index(self._sdf)
        out = sdf.unpivot(idx, on_, variable_name, value_name)
        return LazyFrame(out)

    melt = unpivot

    # -- concat helpers used by functions.concat ---------------------------------------------
    def vstack(self, other: "LazyFrame") -> "LazyFrame":
        return LazyFrame(self.to_spark().unionByName(other.to_spark()))

    extend = vstack

    # -- execution -----------------------------------------------------------------------------
    def collect(self, **toggles) -> "DataFrame":
        """Optimizer toggles (type_coercion, predicate_pushdown, …) are
        accepted-but-ignored: Catalyst always applies them (SURVEY §4.1)."""
        return DataFrame(self._sdf)

    def collect_async(self, **toggles):
        return self.collect(**toggles)

    def profile(self, **toggles):
        return self.collect(**toggles)

    def lazy(self) -> "LazyFrame":
        return self

    def cache(self) -> "LazyFrame":
        return LazyFrame(self._sdf.cache())

    def explain(self, optimized: bool = True, format: str = "formatted") -> str:
        return self._sdf._sc is not None and self._sdf._jdf.queryExecution().explainString(
            self._sdf._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(format)
        )

    describe_plan = explain
    describe_optimized_plan = explain

    def write_json(self, file=None):
        """lazy_frame.rb:146 — serialize the LOGICAL PLAN (not data) to
        JSON.  The reference writes polars' DSL plan; here it's Spark's
        analyzed logical plan (`TreeNode.toJSON`) — same introspection use,
        not cross-engine round-trippable (neither is the reference's across
        versions).  Returns the JSON string when ``file`` is None."""
        s = self._sdf._jdf.queryExecution().analyzed().toJSON()
        if file is None:
            return s
        with open(file, "w") as f:
            f.write(s)
        return None

    # -- sinks (already out-of-core in Spark — SURVEY §2.1) -------------------------------------
    def _sink(self, path: str, fmt: str, mode: str, options: dict,
              suffix: str):
        """Shared sink: a path WITH the format's extension gets the
        reference's single-file form (csv_test.rb: File.read(path) sees one
        file) — written out-of-core through ONE task (coalesce(1), no
        driver collect) and moved into place; any other path keeps the
        scale-out directory sink (one file per partition)."""
        single = str(path).endswith(suffix)
        sdf = self.to_spark()
        if not single:
            sdf.write.mode(mode).format(fmt).options(**options).save(str(path))
            return None
        import glob as _glob
        import os
        import shutil
        import tempfile

        tmp = tempfile.mkdtemp(prefix="sink_")
        out_dir = os.path.join(tmp, "out")
        (sdf.coalesce(1).write.mode("overwrite").format(fmt)
         .options(**options).save(out_dir))
        part = _glob.glob(os.path.join(out_dir, "part-*"))[0]
        shutil.move(part, str(path))
        shutil.rmtree(tmp, ignore_errors=True)
        return None

    def sink_parquet(self, path: str, compression: str = "zstd", mode: str = "overwrite", **kw):
        return self._sink(path, "parquet", mode,
                          {"compression": compression}, ".parquet")

    def sink_csv(self, path: str, include_header: bool = True, separator: str = ",",
                 mode: str = "overwrite", **kw):
        return self._sink(path, "csv", mode,
                          {"header": include_header, "sep": separator}, ".csv")

    def sink_ndjson(self, path: str, mode: str = "overwrite", **kw):
        return self._sink(path, "json", mode, {}, ".ndjson")

    def sink_ipc(self, path: str, mode: str = "overwrite", **kw):
        """lazy_frame.rb:504 — distributed Arrow IPC sink.

        Spark has no native Arrow-IPC file sink, so this writes a
        *directory* of ``part-NNNNN.arrow`` files, one per partition, from
        inside the executors via ``mapInArrow`` (deviation from the
        reference's single file; same shape as ``sink_parquet``).  The
        target path must be on a filesystem visible to every executor
        (always true in local mode; a shared FS on a cluster)."""
        import os
        import shutil

        sdf = self.to_spark()
        if mode == "overwrite" and os.path.isdir(path):
            shutil.rmtree(path)
        os.makedirs(path, exist_ok=True)

        def _write(batches):
            import pyarrow as pa
            import pyarrow.ipc as ipc
            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            fpath = os.path.join(path, f"part-{pid:05d}.arrow")
            writer = None
            rows = 0
            for b in batches:
                if writer is None:
                    writer = ipc.new_file(fpath, b.schema)
                writer.write_batch(b)
                rows += b.num_rows
            if writer is not None:
                writer.close()
            yield pa.RecordBatch.from_pydict(
                {"path": [fpath if rows else None], "rows": [rows]})

        stats = sdf.mapInArrow(_write, schema="path string, rows bigint").collect()
        return sum(r.rows for r in stats)

    def first(self) -> "LazyFrame":
        return self.limit(1)

    def last(self) -> "LazyFrame":
        return self.tail(1)

    def _per_column_agg(self, make, eligible):
        """Frame-level aggregate over EVERY column (data_frame.rb sum
        doctest: shape keeps all columns; ineligible dtypes yield a typed
        null column)."""
        from .exprs import lit as _lit

        exprs = []
        for f in self._sdf.schema.fields:
            if f.name == ROW_IDX:
                continue
            if f.name in eligible:
                exprs.append(make(f.name))
            else:
                exprs.append(
                    _lit(None).cast(f.dataType).first().alias(f.name))
        return self.select(*exprs)

    def std(self, ddof: int = 1):
        return self._per_column_agg(
            lambda c: col(c).std(ddof), set(self._numeric_columns()))

    def var(self, ddof: int = 1):
        return self._per_column_agg(
            lambda c: col(c).var(ddof), set(self._numeric_columns()))

    def max(self):
        return self.select(*[col(c).max() for c in self.columns])

    def min(self):
        return self.select(*[col(c).min() for c in self.columns])

    def sum(self):
        # bool columns participate (count of trues — Expr.sum casts)
        return self._per_column_agg(
            lambda c: col(c).sum(),
            set(self._numeric_columns(include_bool=True)))

    def mean(self):
        # bool columns participate (fraction of trues — Expr.mean casts)
        return self._per_column_agg(
            lambda c: col(c).mean(),
            set(self._numeric_columns(include_bool=True)))

    def median(self):
        return self._per_column_agg(
            lambda c: col(c).median(), set(self._numeric_columns()))

    def quantile(self, q: float, interpolation: str = "nearest"):
        return self._per_column_agg(
            lambda c: col(c).quantile(q, interpolation),
            set(self._numeric_columns()))

    def _numeric_columns(self, include_bool: bool = False):
        num = ("byte", "short", "integer", "long", "float", "double", "decimal")
        if include_bool:
            num = num + ("boolean",)
        return [f.name for f in self._sdf.schema.fields
                if f.dataType.typeName().startswith(num) and f.name != ROW_IDX]

    def pipe(self, function, *args, **kwargs):
        return function(self, *args, **kwargs)

    def clone(self) -> "LazyFrame":
        return LazyFrame(self._sdf)

    def __repr__(self) -> str:
        # lazy_frame.rb to_s prints "naive plan:" + the unoptimized plan;
        # our plan is Catalyst's, shown unanalyzed
        try:
            plan = self._sdf._jdf.queryExecution().logical().toString()
        except Exception:
            plan = f"columns: {self.columns}"
        return ("naive plan: (run LazyFrame#explain to see the optimized "
                f"plan)\n{plan}")


def _lazy_clear(self, n: int = 0):
    from pyspark.sql import functions as F

    sdf = self._sdf
    if n == 0:
        return self.__class__(strip_row_index(sdf).limit(0))
    spark = sdf.sparkSession
    base = spark.range(n).select(
        *[F.lit(None).cast(f.dataType).alias(f.name)
          for f in sdf.schema.fields if f.name != ROW_IDX])
    return self.__class__(base)


def _lazy_interpolate(self):
    """Interpolate every numeric column (lazy_frame.rb interpolate)."""
    from pyspark.sql import types as T

    from .exprs import col

    numeric = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
               T.FloatType, T.DoubleType, T.DecimalType)
    exprs = []
    for f in self._sdf.schema.fields:
        if f.name == ROW_IDX:
            continue
        exprs.append(col(f.name).interpolate().alias(f.name)
                     if isinstance(f.dataType, numeric) else col(f.name))
    return self.select(*exprs)


def _lazy_set_sorted(self, *cols, descending: bool = False):
    return self  # Catalyst derives ordering from the plan


LazyFrame.clear = _lazy_clear
LazyFrame.cleared = _lazy_clear
LazyFrame.interpolate = _lazy_interpolate
LazyFrame.set_sorted = _lazy_set_sorted
LazyFrame.to_s = LazyFrame.__repr__ if hasattr(LazyFrame, "__repr__") else repr


def _short_dtype(t) -> str:
    """Spark type → polars short dtype label for the table repr."""
    from pyspark.sql import types as T

    if isinstance(t, T.ByteType):
        return "i8"
    if isinstance(t, T.ShortType):
        return "i16"
    if isinstance(t, T.IntegerType):
        return "i32"
    if isinstance(t, T.LongType):
        return "i64"
    if isinstance(t, T.FloatType):
        return "f32"
    if isinstance(t, T.DoubleType):
        return "f64"
    if isinstance(t, T.StringType):
        return "str"
    if isinstance(t, T.BooleanType):
        return "bool"
    if isinstance(t, T.DateType):
        return "date"
    if isinstance(t, (T.TimestampType, T.TimestampNTZType)):
        return "datetime[μs]"
    if isinstance(t, T.DayTimeIntervalType):
        return "duration[μs]"
    if isinstance(t, T.BinaryType):
        return "binary"
    if isinstance(t, T.DecimalType):
        return f"decimal[{t.precision},{t.scale}]"
    if isinstance(t, T.ArrayType):
        return f"list[{_short_dtype(t.elementType)}]"
    if isinstance(t, T.StructType):
        return f"struct[{len(t.fields)}]"
    if isinstance(t, T.NullType):
        return "null"
    return t.simpleString()


class _RowIter:
    """Enumerator-shaped row stream (data_frame.rb iter_rows): supports
    ``.map``/``.each``/``.to_a`` chaining like Ruby's Enumerator while
    staying a lazy iterator."""

    def __init__(self, gen):
        self._gen = iter(gen)

    def __iter__(self):
        return self._gen

    def __next__(self):
        return next(self._gen)

    def map(self, fn):
        return [fn(r) for r in self._gen]

    def each(self, fn):
        for r in self._gen:
            fn(r)

    def to_a(self):
        return list(self._gen)


class DataFrame(LazyFrame):
    """Eager frame (parity: lib/polars/data_frame.rb).

    Internally still a lazy Spark plan — the reference itself implements
    eager ops as lazy round-trips (data_frame.rb:1161-1163); materialization
    happens at export (to_pandas/rows/shape/…).
    """

    @classmethod
    def _from_lazy(cls, lf: LazyFrame) -> "DataFrame":
        # carry the DEFERRED order restore instead of baking the orderBy
        # into the plan (round-7): driver/bench handoffs read _raw_spark
        # and legitimately skip it; polars exports restore on _sdf reads
        out = cls(lf._sdf_raw)
        out._order_dirty = lf._order_dirty
        out._order_cols = lf._order_cols
        out._idx_dense = lf._idx_dense
        return out

    # eager variants return DataFrame
    def lazy(self) -> LazyFrame:
        return LazyFrame(self._sdf)

    def group_by(self, *keys, maintain_order: bool = False, **named) -> GroupBy:
        parsed = _parse_exprs(keys, named)
        return GroupBy(self.lazy(), parsed, maintain_order)

    groupby = group_by

    # -- exports -------------------------------------------------------------------
    @property
    def shape(self) -> tuple[int, int]:
        return (self.height, self.width)

    @property
    def height(self) -> int:
        return self.to_spark().count()

    def __len__(self) -> int:
        return self.height

    def to_pandas(self):
        return self.to_spark().toPandas()

    def to_arrow(self):
        import pyarrow as pa

        return pa.Table.from_pandas(self.to_pandas())

    def rows(self, named: bool = False):
        if named:
            return [r.asDict(recursive=True) for r in self.to_spark().collect()]
        return [tuple(r) for r in self.to_spark().collect()]

    def to_a(self) -> list[dict]:
        return [r.asDict(recursive=True) for r in self.to_spark().collect()]

    to_hashes = to_a
    to_dicts = to_a

    def to_h(self) -> dict[str, list]:
        """Column-name → value-list dict (data_frame.rb:478).  Built from
        collected Rows, NOT pandas: the pandas route coerces float nulls to
        NaN, losing the null/NaN distinction polars' to_h keeps (round-6)."""
        sdf = self.to_spark()
        rows = sdf.collect()
        return {c: [r[i] for r in rows]
                for i, c in enumerate(sdf.columns)}

    to_dict = to_h

    def iter_rows(self, named: bool = False, buffer_size: int = 500) -> "_RowIter":
        # Enumerator-shaped (data_frame.rb iter_rows returns an Enumerator:
        # `.map { |row| ... }` chains); streams via toLocalIterator
        if named:
            return _RowIter(r.asDict()
                            for r in self.to_spark().toLocalIterator())
        return _RowIter(tuple(r) for r in self.to_spark().toLocalIterator())

    def row(self, index: int | None = None, by_predicate=None, named: bool = False):
        """Single row by position or predicate (data_frame.rb:4378-4412).

        ``by_predicate`` must match exactly one row: more raises
        ``TooManyRowsReturned``, zero raises ``NoRowsReturned``.
        """
        from .exceptions import NoRowsReturned, TooManyRowsReturned
        from .exprs import Expr

        if index is not None and by_predicate is not None:
            raise ValueError("Cannot set both 'index' and 'by_predicate'; mutually exclusive")
        if isinstance(index, Expr):
            raise TypeError("Expressions should be passed to the 'by_predicate' param")
        if index is not None:
            row = self.rows()[index]
        elif by_predicate is not None:
            if not isinstance(by_predicate, Expr):
                raise TypeError(
                    f"Expected by_predicate to be an expression; found {type(by_predicate).__name__}")
            rows = [tuple(r) for r in self.filter(by_predicate).to_spark().collect()]
            if len(rows) > 1:
                raise TooManyRowsReturned(f"Predicate returned {len(rows)} rows")
            if len(rows) == 0:
                raise NoRowsReturned("Predicate returned no rows")
            row = rows[0]
        else:
            raise ValueError("One of 'index' or 'by_predicate' must be set")
        if named:
            return dict(zip(self.columns, row))
        return row

    def item(self) -> Any:
        rows = self.to_spark().limit(2).collect()
        if len(rows) != 1 or len(rows[0]) != 1:
            raise ValueError("item() requires a 1x1 frame")
        return rows[0][0]

    def get_column(self, name: str):
        from .series import Series

        return Series._from_spark(self.to_spark().select(name), name)

    def to_series(self, index: int = 0):
        from .series import Series

        name = self.columns[index]
        return Series._from_spark(self.to_spark().select(name), name)

    # -- column container surface (data_frame.rb:309-2780) -------------------
    def get_columns(self) -> list:
        return [self.to_series(i) for i in range(len(self.columns))]

    def each(self):
        return iter(self.get_columns())

    def each_row(self, named: bool = True):
        # data_frame.rb:4521 — iterate rows (toLocalIterator: no full collect)
        for r in self.to_spark().toLocalIterator():
            yield r.asDict() if named else tuple(r)

    def get_column_index(self, name: str) -> int:
        return self.columns.index(name)

    def is_empty(self) -> bool:
        return self.to_spark().isEmpty()

    empty = is_empty

    def equals(self, other, null_equal: bool = True) -> bool:
        """Row-order-sensitive frame equality (data_frame.rb:1273) without
        collecting either side (advice r2): both frames get the two-pass row
        index attached, and equality is count parity + an empty
        ``exceptAll`` on (index, columns) — distributed anti-join, nulls
        compare equal (multiset semantics)."""
        a, b = self.to_spark(), other.to_spark()
        if a.columns != b.columns or [f.dataType for f in a.schema.fields] != \
                [f.dataType for f in b.schema.fields]:
            return False
        ai = with_row_index(a, "__eq_idx__")
        bi = with_row_index(b, "__eq_idx__")
        if ai.count() != bi.count():
            return False
        return ai.exceptAll(bi).isEmpty()

    frame_equal = equals

    def fold(self, operation):
        # data_frame.rb:4330 — horizontal fold of columns into one Series
        acc = self.to_series(0)
        for i in range(1, len(self.columns)):
            acc = operation(acc, self.to_series(i))
        return acc

    def n_unique(self, subset=None) -> int:
        sdf = self.to_spark()
        cols = subset if subset is not None else sdf.columns
        cols = [cols] if isinstance(cols, (str, Expr)) else list(cols)
        bound = [wrap_expr(c)._fn(sdf, None) if isinstance(c, Expr) else c
                 for c in cols]
        return sdf.select(*bound).distinct().count()

    def product(self) -> "DataFrame":
        # per-column Expr.product: exact F.product with polars dtype rules
        # (i64 for int/bool columns — data_frame.rb product doctest)
        cols = [c for c in self.columns]
        out = self.lazy().select(*[col(c).product().alias(c) for c in cols])
        return DataFrame(out._sdf)

    def to_struct(self, name: str = ""):
        from pyspark.sql import functions as F
        from .series import Series

        nm = name or "struct"
        sdf = self.to_spark()
        return Series._from_spark(
            sdf.select(F.struct(*sdf.columns).alias(nm)), nm)

    def clear(self, n: int = 0) -> "DataFrame":
        # data_frame.rb:2760 — same schema, 0 (or n all-null) rows
        sdf = self.to_spark()
        if n == 0:
            return DataFrame(sdf.limit(0))
        from pyspark.sql import functions as F

        spark = sdf.sparkSession
        base = spark.range(n).select(
            *[F.lit(None).cast(f.dataType).alias(f.name)
              for f in sdf.schema.fields])
        return DataFrame(base)

    cleared = clear

    # -- axis=1 (row-wise) aggregate forms (data_frame.rb:3727-3845) ---------
    def max(self, axis: int = 0):
        if axis == 1:
            from .functions import max_horizontal

            return self.select(max_horizontal(*self.columns).alias("max")
                               ).to_series()
        return super().max()

    def min(self, axis: int = 0):
        if axis == 1:
            from .functions import min_horizontal

            return self.select(min_horizontal(*self.columns).alias("min")
                               ).to_series()
        return super().min()

    def sum(self, axis: int = 0, null_strategy: str = "ignore"):
        if axis == 1:
            from pyspark.sql import types as T

            from .exprs import col as _col
            from .functions import sum_horizontal

            # polars names the horizontal sum after the FIRST column, and
            # with any string column present the row "sum" is the string
            # concatenation of all values (data_frame.rb sum doctest: "16a")
            nm = self.columns[0]
            if any(isinstance(f.dataType, T.StringType)
                   for f in self._sdf.schema.fields if f.name != ROW_IDX):
                from .functions import concat_str

                e = concat_str([_col(c) for c in self.columns])
            elif null_strategy == "propagate":
                e = _col(self.columns[0])
                for c in self.columns[1:]:
                    e = e + _col(c)
            else:
                e = sum_horizontal(*self.columns)
            return self.select(e.alias(nm)).to_series()
        return super().sum()

    def mean(self, axis: int = 0, null_strategy: str = "ignore"):
        if axis == 1:
            from .exprs import col as _col
            from .functions import mean_horizontal

            if null_strategy == "propagate":
                e = _col(self.columns[0])
                for c in self.columns[1:]:
                    e = e + _col(c)
                e = e / len(self.columns)
            else:
                e = mean_horizontal(*self.columns)
            return self.select(e.alias("mean")).to_series()
        return super().mean()

    # -- in-place column mutation (thin-wrapper reassignment) ----------------
    def drop_in_place(self, name: str):
        s = self.get_column(name)
        self._sdf = self.to_spark().drop(name)
        return s

    def delete(self, name: str):
        # data_frame.rb delete — nil (None) when the column doesn't exist
        if name not in self.columns:
            return None
        return self.drop_in_place(name)

    def insert_column(self, index: int, series) -> "DataFrame":
        cols = list(self.columns)
        merged = self.hstack(series.to_frame())
        cols.insert(index if index >= 0 else len(cols) + index + 1, series.name)
        self._sdf = merged.to_spark().select(*cols)
        return self

    def replace_column(self, index: int, series) -> "DataFrame":
        from pyspark.sql import functions as F

        old = self.columns[index]
        merged = self.hstack(series.rename("__repl__").to_frame())
        self._sdf = merged.to_spark().select(
            *[F.col("__repl__").alias(series.name) if c == old else F.col(c)
              for c in self.columns])
        return self

    def replace(self, column: str, new_col) -> "DataFrame":
        return self.replace_column(self.get_column_index(column),
                                   new_col.rename(column))

    def shrink_to_fit(self, in_place: bool = False):
        return self  # memory layout is the JVM's concern

    @property
    def flags(self) -> dict:
        return {c: {"SORTED_ASC": False, "SORTED_DESC": False}
                for c in self.columns}

    def to_s(self) -> str:
        return self.__repr__()

    # -- element-wise comparison / arithmetic (data_frame.rb:185-300,
    # 5124-5187).  Frame-vs-frame zips positionally (hstack row-index join);
    # scalars broadcast per column; bare arrays are rejected like the
    # reference (`_prepare_other_arg`).
    def _comp(self, other, fn):
        from .operators.reshape import hstack as _hstack

        cols = self.columns
        if isinstance(other, LazyFrame):
            if cols != other.columns:
                raise ValueError("DataFrame columns do not match")
            r = DataFrame(other.to_spark().toDF(
                *[f"{c}__POLARS_CMP_OTHER" for c in cols]))
            combined = _hstack(self, r).to_spark()
            return DataFrame(combined.select(
                *[fn(F.col(c), F.col(f"{c}__POLARS_CMP_OTHER")).alias(c)
                  for c in cols]))
        return DataFrame(self.to_spark().select(
            *[fn(F.col(c), F.lit(other)).alias(c) for c in cols]))

    def __eq__(self, other):
        if other is None or isinstance(other, (list, tuple, dict)):
            return NotImplemented
        return self._comp(other, lambda a, b: a == b)

    def __ne__(self, other):
        if other is None or isinstance(other, (list, tuple, dict)):
            return NotImplemented
        return self._comp(other, lambda a, b: a != b)

    def __gt__(self, other):
        return self._comp(other, lambda a, b: a > b)

    def __lt__(self, other):
        return self._comp(other, lambda a, b: a < b)

    def __ge__(self, other):
        return self._comp(other, lambda a, b: a >= b)

    def __le__(self, other):
        return self._comp(other, lambda a, b: a <= b)

    __hash__ = object.__hash__  # defining __eq__ would otherwise drop it

    def _arith(self, other, fn, int_preserving: bool = False):
        from .operators.reshape import hstack as _hstack
        from .series import Series as _Series

        cols = self.columns
        ints = ("byte", "short", "integer", "long")

        def _out(a, b, name, left_type):
            r = fn(a, b)
            if int_preserving and left_type.typeName() in ints:
                # div_df on integer frames stays integral (truncating),
                # matching the reference's dtype-preserving frame arithmetic
                r = r.cast(left_type)
            return r.alias(name)

        types = {f.name: f.dataType for f in self.to_spark().schema.fields}
        if isinstance(other, _Series):
            r = DataFrame(other.to_frame().to_spark().toDF("__arith_rhs__"))
            combined = _hstack(self, r).to_spark()
            return DataFrame(combined.select(
                *[_out(F.col(c), F.col("__arith_rhs__"), c, types[c])
                  for c in cols]))
        if isinstance(other, LazyFrame):
            n = len(other.columns)
            r = DataFrame(other.to_spark().toDF(
                *[f"__arith_{i}__" for i in range(n)]))
            combined = _hstack(self, r).to_spark()
            return DataFrame(combined.select(
                *[_out(F.col(c), F.col(f"__arith_{i % n}__"), c, types[c])
                  for i, c in enumerate(cols)]))
        if isinstance(other, (list, tuple)):
            raise ValueError("Operation not supported.")
        return DataFrame(self.to_spark().select(
            *[_out(F.col(c), F.lit(other), c, types[c]) for c in cols]))

    def __add__(self, other):
        return self._arith(other, lambda a, b: a + b)

    def __sub__(self, other):
        return self._arith(other, lambda a, b: a - b)

    def __mul__(self, other):
        return self._arith(other, lambda a, b: a * b)

    def __truediv__(self, other):
        return self._arith(other, lambda a, b: a / b, int_preserving=True)

    def __mod__(self, other):
        return self._arith(other, lambda a, b: a % b)

    def __iter__(self):
        # data_frame.rb:309 each — iterate column Series
        return iter(self.get_columns())

    def __getitem__(self, key):
        if isinstance(key, str):
            return self.get_column(key)
        # df[row, col] two-arg form (data_frame.rb:316): int/slice row
        # selection combined with a column name or list
        if (isinstance(key, tuple) and len(key) == 2
                and not all(isinstance(k, str) for k in key)):
            row_sel, col_sel = key
            # integer column positions (data_frame.rb:316 df[0.., 0])
            if isinstance(col_sel, int) and not isinstance(col_sel, bool):
                col_sel = self.columns[col_sel]
            elif (isinstance(col_sel, (list, tuple)) and col_sel
                  and all(isinstance(c, int) and not isinstance(c, bool)
                          for c in col_sel)):
                col_sel = [self.columns[c] for c in col_sel]
            if isinstance(col_sel, str):
                s = self.get_column(col_sel)
                if isinstance(row_sel, int):
                    h = self.height
                    i = row_sel if row_sel >= 0 else h + row_sel
                    vals = s.slice(i, 1).to_a()
                    if not vals:
                        raise IndexError(
                            f"index {row_sel} is out of bounds for sequence "
                            f"of length {h}")
                    return vals[0]
                if isinstance(row_sel, slice):
                    start = row_sel.start or 0
                    length = (None if row_sel.stop is None
                              else row_sel.stop - start)
                    return s.slice(start, length)
            cols = [col_sel] if isinstance(col_sel, str) else list(col_sel)
            sub = DataFrame(self.to_spark().select(*cols))
            if isinstance(row_sel, int):
                i = row_sel if row_sel >= 0 else self.height + row_sel
                return DataFrame._from_lazy(sub.lazy().slice(i, 1))
            if isinstance(row_sel, slice):
                return sub[row_sel]
            raise TypeError(f"cannot index DataFrame with {key!r}")
        if isinstance(key, (list, tuple)) and all(isinstance(k, str) for k in key):
            return DataFrame(self.to_spark().select(*key))
        if isinstance(key, slice):
            start = key.start or 0
            stop = key.stop
            length = None if stop is None else stop - start
            return DataFrame._from_lazy(self.lazy().slice(start, length))
        # data_frame.rb:316 extended row selections: boolean mask (Expr or
        # Series — positional hstack zip), or an integer position list
        from .exprs import Expr as _Expr
        from .series import Series as _Series

        if isinstance(key, _Expr):
            return DataFrame._from_lazy(self.lazy().filter(key))
        if isinstance(key, _Series):
            if key.dtype.typeName() == "boolean":
                from .operators.reshape import hstack as _hstack

                m = DataFrame(key.to_frame().to_spark().toDF("__mask__"))
                z = _hstack(self, m).to_spark()
                return DataFrame(z.filter(F.col("__mask__")).drop("__mask__"))
            key = key.to_a()
        if isinstance(key, (list, tuple)) and all(
                isinstance(k, int) and not isinstance(k, bool) for k in key):
            h = None
            idx = []
            for k in key:
                if k < 0:
                    h = self.height if h is None else h
                    k = h + k
                idx.append(k)
            rix = "__get_rix__"
            sdf = with_row_index(self.to_spark(), rix)
            out = (sdf.filter(F.col(rix).isin(idx))
                   .withColumn("__ord__", F.array_position(
                       F.lit(idx).cast("array<bigint>"), F.col(rix)))
                   .orderBy("__ord__").drop(rix, "__ord__"))
            return DataFrame(out)
        raise TypeError(f"cannot index DataFrame with {key!r}")

    def __setitem__(self, key, value):
        """data_frame.rb:418 []= — column assignment (Series / array /
        scalar broadcast) and (row, column) cell assignment."""
        from .exprs import lit as _lit
        from .series import Series as _Series

        if isinstance(key, tuple) and len(key) == 2:
            row, cname = key
            h = self.height
            i = row if row >= 0 else h + row
            if not 0 <= i < h:
                raise IndexError(
                    f"index {row} is out of bounds for sequence of length {h}")
            rix = "__set_rix__"
            sdf = with_row_index(self.to_spark(), rix)
            dtype = dict((f.name, f.dataType) for f in sdf.schema.fields)[cname]
            self._sdf = sdf.withColumn(
                cname, F.when(F.col(rix) == i, F.lit(value).cast(dtype))
                .otherwise(F.col(cname))).orderBy(rix).drop(rix)
            return
        if not isinstance(key, str):
            raise TypeError(f"cannot set DataFrame item with key {key!r}")
        if isinstance(value, (list, tuple)):
            value = _Series(key, list(value))
        if isinstance(value, _Series):
            if value.len() != self.height:
                raise ValueError(
                    "lengths don't match: unable to add a column of length "
                    f"{value.len()} to a DataFrame of height {self.height}")
            from .operators.reshape import hstack as _hstack

            cols = self.columns
            base = self if key not in cols else DataFrame(
                self.to_spark().drop(key))
            merged = _hstack(base, DataFrame(
                value.to_frame().to_spark().toDF(key)))
            order = cols if key in cols else cols + [key]
            self._sdf = merged.to_spark().select(*order)
            return
        # scalar broadcast
        self._sdf = self.with_columns(_lit(value).alias(key))._sdf

    # -- writers (data_frame.rb:694-941) -----------------------------------------------
    def write_parquet(self, path, compression: str = "zstd", mode: str = "overwrite",
                      partition_by=None, **kw):
        if hasattr(path, "write"):
            # IO target (parquet_test.rb) — driver-side single-file export
            import pyarrow as pa
            import pyarrow.parquet as pq

            pq.write_table(pa.Table.from_pandas(self.to_pandas()), path)
            return None
        w = self.to_spark().write.mode(mode)
        if partition_by:
            w = w.partitionBy(*([partition_by] if isinstance(partition_by, str) else partition_by))
        w.parquet(str(path), compression=compression)
        return None

    def write_csv(self, path: str | None = None, include_header: bool = True,
                  separator: str = ",", **kw):
        """Single-file eager CSV export like the reference (csv_test.rb:
        ``File.read(path)`` sees one file) — a driver-side API; use
        ``sink_csv`` for the distributed directory sink.  Accepts a path,
        an IO object, or None (returns the CSV string)."""
        import io as _io

        buf = _io.StringIO()
        self.to_pandas().to_csv(buf, index=False, header=include_header,
                                sep=separator)
        s = buf.getvalue()
        if path is None:
            return s
        if hasattr(path, "write"):
            path.write(s)
            return None
        with open(str(path), "w") as f:
            f.write(s)
        return None

    def write_json(self, path: str | None = None, pretty: bool = False,
                   row_oriented: bool = False, **kw):
        """Single-file JSON like the reference (data_frame.rb:584) — a
        driver-side export API (collects), not a distributed sink; use
        write_ndjson/sink_ndjson for scale-out output."""
        import json as _json

        if row_oriented:
            payload = self.to_a()
        else:
            # column-oriented envelope matches the reference byte shape
            # (data_frame.rb:579 doctest): polars dtype names + the legacy
            # bit_settings field, compact separators
            from .datatypes import polars_dtype_name

            pdf = self.to_pandas()
            payload = {"columns": [
                {"name": c, "datatype": polars_dtype_name(self.schema[c]),
                 "bit_settings": "", "values": pdf[c].tolist()}
                for c in self.columns]}
        s = _json.dumps(payload, indent=2 if pretty else None, default=str,
                        separators=(",", ":") if not pretty else None)
        if path is None:
            return s
        if hasattr(path, "write"):
            path.write(s)
            return None
        with open(str(path), "w") as f:
            f.write(s)
        return None

    def write_ndjson(self, path: str | None = None, **kw):
        """Single-file eager NDJSON export (json_test.rb) — driver-side;
        ``sink_ndjson`` is the distributed directory sink.  Accepts a path,
        an IO object, or None (returns the string)."""
        import json as _json

        s = "".join(_json.dumps(r, separators=(",", ":"), default=str) + "\n"
                    for r in self.to_a())
        if path is None:
            return s
        if hasattr(path, "write"):
            path.write(s)
            return None
        with open(str(path), "w") as f:
            f.write(s)
        return None

    def write_avro(self, path: str, compression: str = "uncompressed",
                   **kw):
        """data_frame.rb write_avro(file, compression:) — ONE Avro Object
        Container File via the pure-Python codec (round-7; no spark-avro
        jar in this distribution).  Eager single-file write like the
        reference; rows stream through ``toLocalIterator`` so driver
        memory stays one partition deep."""
        from .sources.avro_codec import spark_schema_to_avro, write_container

        codec = {"uncompressed": "null", "deflate": "deflate",
                 None: "null"}.get(compression)
        if codec is None:
            raise ValueError(
                f"write_avro: unsupported compression {compression!r} "
                "(supported: 'uncompressed', 'deflate')")
        sdf = self.to_spark()
        av = spark_schema_to_avro(sdf.schema)
        names = sdf.columns
        rows = ([row[n] for n in names] for row in sdf.toLocalIterator())
        write_container(str(path), av, rows, codec=codec)

    def to_csv(self, path=None, **kw):
        # deprecated reference alias (data_frame.rb to_csv)
        return self.write_csv(path, **kw)

    def to_numpy(self):
        return self.to_pandas().to_numpy()

    to_numo = to_numpy  # numo is ruby's numpy

    def write_ipc_stream(self, path, **kw):
        """data_frame.rb write_ipc_stream — Arrow STREAMING format (no
        footer; distinct from the random-access file format write_ipc
        emits; io/ipc.rb:150)."""
        import pyarrow as pa
        import pyarrow.ipc as ipc

        table = pa.Table.from_pandas(self.to_pandas())
        with ipc.new_stream(str(path), table.schema) as w:
            w.write_table(table)

    def write_ipc(self, path=None, **kw):
        """Arrow random-access file.  path=None returns the bytes
        (ipc_test.rb: output starts with the ARROW magic)."""
        import pyarrow as pa
        import pyarrow.feather as feather

        table = pa.Table.from_pandas(self.to_pandas())
        if path is None:
            import io as _io

            buf = _io.BytesIO()
            feather.write_feather(table, buf)
            return buf.getvalue()
        feather.write_feather(table, path)
        return None

    def write_delta(self, path, **kw):
        raise NotImplementedError("delta-rs not bundled; use write_parquet")

    # -- reshape (eager-only in the reference: data_frame.rb:2999-3180) ------------------
    def pivot(self, on, index=None, values=None, aggregate_function: str = "first",
              separator: str = "_", sort_columns: bool = False):
        from .operators.reshape import pivot as _pivot

        return _pivot(self, on, index, values, aggregate_function, separator)

    def transpose(self, include_header: bool = False, header_name: str = "column",
                  column_names=None):
        from .operators.reshape import transpose as _transpose

        out = _transpose(self, include_header, header_name)
        if column_names is not None:
            names = list(column_names)
            keep = out.columns[:1] if include_header else []
            datacols = out.columns[len(keep):]
            return out.rename(dict(zip(datacols, names)))
        return out

    def unstack(self, step: int, how: str = "vertical", columns=None,
                fill_values=None):
        from .operators.reshape import unstack as _unstack

        return _unstack(self, step, how, columns, fill_values)

    def to_dummies(self, columns=None, separator: str = "_", drop_first: bool = False):
        from .operators.reshape import to_dummies as _dummies

        return _dummies(self, columns, separator, drop_first)

    def partition_by(self, groups, *more_groups, maintain_order: bool = True,
                     as_dict: bool = False, include_key: bool = True):
        groups = [groups] if isinstance(groups, str) else list(groups)
        groups += list(more_groups)
        # maintain_order accepted for parity; group frames keep input order
        # either way (filter preserves the plan's row order)
        keys = [tuple(r) for r in self.to_spark().select(*groups).distinct().collect()]
        frames = []
        for key in keys:
            cond = F.lit(True)
            for g, v in zip(groups, key):
                cond = cond & (F.col(g) == F.lit(v))
            sub = self.to_spark().filter(cond)
            if not include_key:
                sub = sub.drop(*groups)
            frames.append(DataFrame(sub))
        if as_dict:
            return {k if len(k) > 1 else k[0]: f for k, f in zip(keys, frames)}
        return frames

    def describe(self):
        """data_frame.rb:1195 — stats over EVERY column: numeric/bool cast
        f64, other dtypes carry min/max (and null for mean/std/median) as
        strings; count is the frame height for all columns."""
        from pyspark.sql import types as T

        numish = set(self._numeric_columns(include_bool=True))
        fields = [f for f in self._sdf.schema.fields if f.name != ROW_IDX]
        h = self.height
        agg_exprs = []
        for f in fields:
            c = f.name
            if c in numish:
                # bool columns describe as 0/1 doubles (describe doctest)
                base = (col(c).cast("i8")
                        if isinstance(f.dataType, T.BooleanType) else col(c))
                agg_exprs += [
                    col(c).null_count().cast("double").alias(f"{c}__n"),
                    base.mean().cast("double").alias(f"{c}__m"),
                    base.std().cast("double").alias(f"{c}__s"),
                    base.min().cast("double").alias(f"{c}__lo"),
                    base.max().cast("double").alias(f"{c}__hi"),
                    base.median().cast("double").alias(f"{c}__md"),
                ]
            else:
                agg_exprs += [
                    col(c).null_count().cast("string").alias(f"{c}__n"),
                    col(c).min().cast("string").alias(f"{c}__lo"),
                    col(c).max().cast("string").alias(f"{c}__hi"),
                ]
        vals = self.lazy().select(*agg_exprs).collect().rows()[0]
        stats = ["count", "null_count", "mean", "std", "min", "max",
                 "median"]
        data, i = {}, 0
        for f in fields:
            c = f.name
            if c in numish:
                n, m, s, lo, hi, md = vals[i:i + 6]
                i += 6
                data[c] = [float(h), n, m, s, lo, hi, md]
            else:
                n, lo, hi = vals[i:i + 3]
                i += 3
                data[c] = [str(h), n, None, None, lo, hi, None]
        import pandas as pd

        pdf = pd.DataFrame({"describe": stats,
                            **{c: data[c] for c in data}})
        spark = self._sdf.sparkSession
        schema = T.StructType(
            [T.StructField("describe", T.StringType())] + [
                T.StructField(f.name, T.DoubleType() if f.name in numish
                              else T.StringType())
                for f in fields])
        return DataFrame(spark.createDataFrame(pdf, schema=schema))

    def hstack(self, other) -> "DataFrame":
        from .operators.reshape import hstack as _hstack
        from .series import Series

        if isinstance(other, Series):
            other = other.to_frame()
        elif isinstance(other, (list, tuple)):
            # data_frame.rb hstack([series, ...])
            cols = None
            for s in other:
                f = s.to_frame() if isinstance(s, Series) else s
                cols = f if cols is None else _hstack(cols, f)
            other = cols
        return _hstack(self, other)

    def vstack(self, other) -> "DataFrame":
        return DataFrame(self.to_spark().unionByName(other.to_spark()))

    def upsample(self, time_column: str, every: str, by=None,
                 group_by=None, maintain_order: bool = False):
        from .operators.upsample import upsample as _upsample

        # maintain_order accepted for parity (the grid join is stable here)
        return _upsample(self, time_column, every,
                         by if by is not None else group_by)

    def map_rows(self, function, return_dtype=None, inference_size: int = 256):
        """data_frame.rb:2438 — python fn over row tuples → mapInPandas
        (Arrow-batched; SURVEY §2.9)."""
        import pandas as pd

        if return_dtype is None:
            sample = [function(tuple(r)) for r in self.to_spark().limit(inference_size).collect()]
            spark = self._sdf.sparkSession
            probe = spark.createDataFrame(
                [tuple(s) if isinstance(s, (tuple, list)) else (s,) for s in sample])
            from pyspark.sql import types as _T

            # polars map_rows naming: tuple returns → column_0..n; a bare
            # scalar return → one column named "apply" (map_rows doctest)
            scalar_out = bool(sample) and not isinstance(
                sample[0], (tuple, list))
            schema = _T.StructType([
                _T.StructField(
                    "apply" if scalar_out else f"column_{i}",
                    f.dataType, True)
                for i, f in enumerate(probe.schema.fields)])
        else:
            from .datatypes import to_spark_type

            schema = to_spark_type(return_dtype)

        def mapper(batches):
            for pdf in batches:
                out = [function(tuple(row)) for row in pdf.itertuples(index=False)]
                out = [t if isinstance(t, (tuple, list)) else (t,) for t in out]
                yield pd.DataFrame(out, columns=[f.name for f in schema.fields])

        return DataFrame(self.to_spark().mapInPandas(mapper, schema))

    apply = map_rows

    def sample(self, n: int | None = None, fraction: float | None = None,
               with_replacement: bool = False, seed: int | None = None,
               frac: float | None = None, shuffle: bool = False):
        if frac is not None:   # reference kw name (data_frame.rb sample)
            fraction = frac
        if fraction is None:
            total = self.height
            fraction = min(1.0, (n or 1) * 1.2 / max(total, 1))
        out = self.to_spark().sample(with_replacement, fraction, seed)
        if n is not None:
            out = out.limit(n)
        return DataFrame(out)

    def n_chunks(self, strategy: str = "first"):
        # Chunks are a physical polars detail with no Spark analogue
        # (SURVEY §1.1) — logically every frame is ONE chunk (data_frame.rb
        # n_chunks doctest); partition counts live on to_spark().rdd.
        n = 1
        if strategy == "all":
            return [n for _ in self.columns]
        if strategy != "first":
            raise ValueError(
                f"strategy: {strategy!r} not understood (expected one of "
                "{'first', 'all'})")
        return n

    def rechunk(self) -> "DataFrame":
        return self

    def estimated_size(self, unit: str = "b"):
        """data_frame.rb:942 — heap-size estimate, scaled to unit."""
        sz = int(self.to_pandas().memory_usage(deep=True).sum())
        scale = {"b": 1, "kb": 2**10, "mb": 2**20, "gb": 2**30, "tb": 2**40}
        if unit not in scale:
            raise ValueError(
                f"unit must be one of {{'b', 'kb', 'mb', 'gb', 'tb'}}, "
                f"got {unit!r}")
        return sz if unit == "b" else sz / scale[unit]

    def plot(self, x=None, y=None, type=None, group=None, stacked=None) -> dict:
        """Vega-Lite chart spec as a plain dict (parity: lib/polars/plot.rb:6
        — the reference wraps the same spec in Vega::LiteChart; we return the
        spec itself, renderable by any vega-lite host).  Collects the frame
        (plots are driver-small by nature, as in the reference)."""
        from pyspark.sql import types as T

        cols = self.columns
        if len(cols) != 2 and (x is None or y is None):
            raise ValueError("Must specify columns")
        x = x or cols[0]
        y = y or cols[1]
        schema = self.schema

        def _is(col, kinds):
            return isinstance(schema[col], kinds)

        numeric = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                   T.FloatType, T.DoubleType, T.DecimalType)
        datelike = (T.DateType, T.TimestampType, T.TimestampNTZType)
        if type is None:
            if _is(x, numeric) and _is(y, numeric):
                type = "scatter"
            elif _is(x, T.StringType) and _is(y, numeric):
                type = "column"
            elif _is(x, datelike) and _is(y, numeric):
                type = "line"
            else:
                raise ValueError("Cannot determine type. Use the type option.")
        keep = list(dict.fromkeys([c for c in (x, y, group) if c is not None]))
        data = self.select(*[col(c) for c in keep]).collect().to_a()
        config = {"axis": {"labelFontSize": 12}}
        if type in ("line", "area"):
            x_type = ("quantitative" if _is(x, numeric)
                      else "temporal" if _is(x, datelike) else "nominal")
            enc = {"x": {"field": x, "type": x_type,
                         "scale": {"type": "utc"} if x_type == "temporal" else {}},
                   "y": {"field": y, "type": "quantitative"}}
            if group:
                enc["color"] = {"field": group}
            mark = {"type": type, "tooltip": True, "interpolate": "cardinal",
                    "point": {"size": 60}}
        elif type == "pie":
            if group is not None:
                raise ValueError("Cannot use group option with pie chart")
            enc = {"color": {"field": x, "type": "nominal", "sort": "none",
                             "axis": {"title": None},
                             "legend": {"labelFontSize": 12}},
                   "theta": {"field": y, "type": "quantitative"}}
            mark = {"type": "arc", "tooltip": True}
            return {"data": {"values": data}, "mark": mark, "encoding": enc,
                    "view": {"stroke": None}}
        elif type == "column":
            enc = {"x": {"field": x, "type": "nominal", "sort": "none",
                         "axis": {"labelAngle": 0}},
                   "y": {"field": y, "type": "quantitative"}}
            if group:
                enc["color"] = {"field": group}
                if not stacked:
                    enc["xOffset"] = {"field": group}
            mark = {"type": "bar", "tooltip": True}
        elif type == "bar":
            enc = {"y": {"field": x, "type": "nominal", "sort": "none",
                         "axis": {"labelAngle": 0}},
                   "x": {"field": y, "type": "quantitative"}}
            if group:
                enc["color"] = {"field": group}
                if not stacked:
                    enc["yOffset"] = {"field": group}
            mark = {"type": "bar", "tooltip": True}
        elif type == "scatter":
            enc = {"x": {"field": x, "type": "quantitative", "scale": {"zero": False}},
                   "y": {"field": y, "type": "quantitative", "scale": {"zero": False}},
                   "size": {"value": 60}}
            if group:
                enc["color"] = {"field": group}
            mark = {"type": "circle", "tooltip": True}
        else:
            raise ValueError(f"Invalid type: {type}")
        return {"data": {"values": data}, "mark": mark, "encoding": enc,
                "config": config}

    def glimpse(self) -> str:
        lines = [f"Rows: {self.height}", f"Columns: {self.width}"]
        for name, t in self.schema.items():
            lines.append(f"$ {name} <{t.simpleString()}>")
        return "\n".join(lines)

    def null_count(self) -> "DataFrame":
        return DataFrame._from_lazy(self.lazy().select(
            *[col(c).null_count().alias(c) for c in self.columns]))

    def is_duplicated(self):
        from .series import Series

        lf = self._ensure_row_index()
        w = Window.partitionBy(*[F.col(c) for c in self.columns])
        out = lf._sdf.withColumn("__dup__", F.count(F.lit(1)).over(w) > 1)
        # unnamed like polars (data_frame.rb is_duplicated doctest)
        return Series._from_spark(out.orderBy(ROW_IDX).select("__dup__"), "")

    def is_unique(self):
        from .series import Series

        lf = self._ensure_row_index()
        w = Window.partitionBy(*[F.col(c) for c in self.columns])
        out = lf._sdf.withColumn("__uni__", F.count(F.lit(1)).over(w) == 1)
        return Series._from_spark(out.orderBy(ROW_IDX).select("__uni__"), "")

    def hash_rows(self, seed: int = 0):
        from .series import Series

        out = self.to_spark().select(
            F.xxhash64(*[F.col(c) for c in self.columns], F.lit(seed)).alias("hash"))
        return Series._from_spark(out, "hash")

    def __repr__(self) -> str:
        # polars-style box table (data_frame.rb to_s renders the same rust
        # fmt table; matched loosely — header + dtype row + up to 10 rows)
        try:
            rows = [tuple(r) for r in self.to_spark().limit(11).collect()]
            truncated = len(rows) > 10
            rows = rows[:10]
            names = self.columns
            dts = [_short_dtype(t) for t in self.dtypes]

            def _fmt(v):
                if v is None:
                    return "null"
                if isinstance(v, float):
                    return f"{v:.6g}"
                return str(v)

            cells = [[_fmt(v) for v in r] for r in rows]
            if truncated:
                cells.append(["…"] * len(names))
            widths = [max(len(names[i]), len(dts[i]), 3,
                          *[len(c[i]) for c in cells] or [0])
                      for i in range(len(names))]

            def _line(l, m, r, fill="─"):
                return l + m.join(fill * (w + 2) for w in widths) + r

            def _row(vals, sep="┆"):
                return ("│ " + f" {sep} ".join(v.ljust(w)
                        for v, w in zip(vals, widths)) + " │")

            h = len(rows) if not truncated else self.height
            out = [f"shape: ({h}, {len(names)})",
                   _line("┌", "┬", "┐"), _row(names),
                   _row(["---"] * len(names)), _row(dts),
                   _line("╞", "╪", "╡", "═")]
            out += [_row(c) for c in cells]
            out.append(_line("└", "┴", "┘"))
            return "\n".join(out)
        except Exception:
            return f"<DataFrame {self.columns}>"


# Eager parity: polars eager DataFrame methods return DataFrame, not
# LazyFrame (the reference's eager ops are lazy round-trips that re-wrap —
# data_frame.rb:1161-1163).  Wrap every frame-returning LazyFrame method.
def _eagerize(name):
    base = getattr(LazyFrame, name)

    def f(self, *args, **kwargs):
        out = base(self, *args, **kwargs)
        if isinstance(out, LazyFrame) and not isinstance(out, DataFrame):
            return DataFrame(out._sdf)
        return out

    f.__name__ = name
    f.__doc__ = base.__doc__
    return f


for _m in [
    "select", "with_columns", "with_column", "filter", "drop", "rename",
    "drop_nulls", "drop_nans", "fill_null", "fill_nan", "sort", "reverse",
    "limit", "head", "tail", "slice", "gather_every", "shift",
    "with_row_index", "unique", "join", "join_asof", "merge_sorted",
    "with_context", "explode", "unnest", "unpivot", "melt", "take_every",
    "vstack", "median", "quantile", "first", "last", "std", "var",
    "interpolate",
]:
    if not hasattr(DataFrame, "__dict__") or _m not in DataFrame.__dict__:
        setattr(DataFrame, _m, _eagerize(_m))
del _m

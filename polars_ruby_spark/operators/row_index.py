"""Scalable row-index materialization.

The reference's frames have implicit stable row order (eager Arrow memory —
``/root/reference/lib/polars/data_frame.rb:21``); Spark DataFrames do not.
Every ordinal operator (``head/tail/slice/shift/reverse/cum_*``,
``with_row_index`` ``lazy_frame.rb:2124``, ``unique(keep: "first")``
``lazy_frame.rb:2432``) is defined here against a hidden ``__row_idx__``
column.

Design for 100 TB: we do NOT use ``row_number().over(Window.orderBy(...))``
with no partition key — that funnels the whole table through one task.
Instead the index is ONE plan node: ``distributed_sequence_id()`` (the
expression behind pandas-on-Spark's default index) plans to Spark's
``AttachDistributedSequence``, which runs ``zipWithIndex`` over the
child's partitions — a per-partition count job, then ``offset + local
position`` assigned in place, with no shuffle and no join.  The output
keeps the child's partitions, each a contiguous ascending index range in
partition order.

After an ``orderBy``, Spark's range partitioner emits globally sorted
partitions, so this same construction yields the *sorted* row index — which
is why sort() simply drops and re-derives the index.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.internal import InternalFunction

from ..session import ROW_IDX

_PID = "__rix_pid__"
_OFF = "__rix_off__"


def _has_global_sort(plan: str) -> bool:
    """True when the optimized plan holds a global Sort (``Sort [...], true``)."""
    return any("Sort [" in line and "], true" in line
               for line in plan.splitlines())


# logical nodes whose re-evaluation may land on a DIFFERENT partition
# layout or row order (AQE coalescing, broadcast materialization,
# parallelize splits): every plan branch that reads the index evaluates
# the sequence over its own copy of the input, and a layout flip between
# two copies gives one row two indices — observed as mismatched
# self-joins on join/LocalRelation inputs (round-11).  Narrow chains over
# file scans (Relation/Filter/Project/Generate) recompute identically and
# skip the pin.
_UNSTABLE_NODES = ("Join", "Aggregate", "Window", "Sort", "Repartition",
                   "LocalRelation", "GlobalLimit", "Sample", "Union",
                   "Deduplicate", "MapInArrow", "ArrowEvalPython",
                   "FlatMapGroupsInArrow", "CollectMetrics", "Expand")


def _layout_unstable(plan: str) -> bool:
    return any(node in plan for node in _UNSTABLE_NODES)


def with_row_index(sdf: DataFrame, name: str = ROW_IDX, offset: int = 0) -> DataFrame:
    """Add a 0-based (plus ``offset``) Long row index in current plan order,
    as the first column.

    Parity: ``LazyFrame#with_row_index`` (``lazy_frame.rb:2124``), except the
    dtype is Long (Spark has no UInt32 — SURVEY §1.3).

    One plan node: ``distributed_sequence_id`` plans to Spark's
    ``AttachDistributedSequence`` (``zipWithIndex`` over the child's
    partitions), so each partition holds a contiguous ascending index range
    in partition order.  Sorted and layout-unstable inputs are pinned by a
    lazy ``localCheckpoint`` first: every downstream branch that
    re-evaluates the index then reads the same materialized partitions and
    sees the same index.
    """
    if name in sdf.columns:
        sdf = sdf.drop(name)
    try:
        plan = sdf._jdf.queryExecution().optimizedPlan().toString()
    except Exception:
        plan = None
    pinned = plan is None or _has_global_sort(plan) or _layout_unstable(plan)
    if pinned:
        sdf = sdf.localCheckpoint(eager=False)
    idx = InternalFunction.distributed_sequence_id()
    if offset:
        idx = idx + F.lit(offset)
    out = sdf.select(idx.alias(name), "*")
    if name == ROW_IDX:
        # Plan-level provenance tag (round-8): this exact DataFrame's
        # partitions are contiguous ascending ROW_IDX ranges in
        # spark_partition_id order, and when ``pinned`` the layout they
        # come from is materialized once.  Partition-prefix consumers
        # (chunked_by_index, the ewm attaches) read the tag to use the
        # partition id as their chunk key instead of building one.
        out._plsq_idx_pinned = pinned
    return out


def strip_row_index(sdf: DataFrame) -> DataFrame:
    if ROW_IDX in sdf.columns:
        return sdf.drop(ROW_IDX)
    return sdf


# -- global (ungrouped) ordinal attachments ---------------------------------
#
# Ungrouped cum_*/reverse/shuffle previously built Window.partitionBy()
# (empty) .orderBy(ROW_IDX) — the whole table funnels through ONE task.
# These helpers give each a multi-task plan: contiguous ROW_IDX chunks
# (chunked_by_index), per-chunk local work, an O(chunks)-row offset table
# combined with a window over that tiny frame, and a broadcast join back.

_CUM_AGG = {"sum": F.sum, "min": F.min, "max": F.max,
            "count": F.count, "product": F.product}
# how per-partition totals combine across partitions
_CUM_COMBINE = {"sum": F.sum, "min": F.min, "max": F.max,
                "count": F.sum, "product": F.product}

_CHK = "__rix_chk__"
_CHK_STATS = ("__rix_mn__", "__rix_mx__")


def chunked_by_index(sdf: DataFrame, n_chunks: int | None = None):
    """Attach a DETERMINISTIC contiguous-range chunk id over ROW_IDX.

    Every consumer branch must compute IDENTICAL chunk values, so the id is
    never a sampled range layout (round-7 dropped the repartitionByRange +
    localCheckpoint pin that diverged between branches).  Two sources:

    * a fresh pinned ``with_row_index`` output (``_plsq_idx_pinned``): its
      partitions are already contiguous ascending ROW_IDX ranges read back
      from one materialized layout, so the chunk id is
      ``spark_partition_id()`` — no stats aggregate, no join;
    * anything else: ``chunk = floor((idx - min) / width)`` with
      ``width = ceil((max - min + 1) / C)`` and min/max attached as a
      broadcast one-row aggregate — a pure row function of the data.

    Balance caveat (documented trade) for the stats form: chunks are equal
    INDEX-WIDTH, not equal row count — on a frame whose surviving rows
    concentrate in a narrow index range after filtering, occupancy skews
    (worst case one chunk = one task, i.e. the naive global-window shape,
    never wrong).  Dense or uniformly-gapped indexes stay balanced within
    ±1 row.

    The two consuming branches each recompute the (column-pruned) input —
    measured cheaper than a lazy localCheckpoint or a persist(MEMORY_ONLY)
    hint, which both hold the full width where the totals branch reads two
    columns.
    """
    if getattr(sdf, "_plsq_idx_pinned", False):
        return sdf.withColumn(_CHK, F.spark_partition_id())
    if n_chunks is None:
        try:
            n_chunks = int(sdf.sparkSession.conf.get(
                "spark.sql.shuffle.partitions", "200"))
        except Exception:
            n_chunks = 200
    mn, mx = _CHK_STATS
    stats = sdf.groupBy().agg(F.min(ROW_IDX).alias(mn),
                              F.max(ROW_IDX).alias(mx))
    base = sdf.crossJoin(F.broadcast(stats))
    span = F.col(mx) - F.col(mn) + F.lit(1)
    # integer-exact at any scale: chunk WIDTH (≤ span/C + 1 ≤ 2^53 for any
    # real index range) divides the offset, rather than multiplying the
    # offset by C (which would exceed double exactness near 10^16)
    width = F.greatest(F.ceil(span / F.lit(int(n_chunks))), F.lit(1))
    chunk = F.floor((F.col(ROW_IDX) - F.col(mn)) / width).cast("long")
    return base.withColumn(_CHK, chunk).drop(mn, mx)


def attach_global_cum_multi(sdf: DataFrame, items: list) -> DataFrame:
    """Ungrouped cumulative aggregates over global row order, batched
    (round-6): ALL same-frame cum_* bindings share ONE chunk exchange,
    ONE per-chunk totals aggregate and ONE broadcast offsets join —
    each binding paid all of them on its own before (q107: three chained
    attaches → one).  A lone binding is a one-item batch.
    ``items``: ``[(value_fn, kind, reverse, out), …]``.

    Two-pass chunk prefix: contiguous ROW_IDX chunks, a local prefix
    aggregate inside each chunk, per-chunk totals combined into exclusive
    offsets by a window over the O(chunks)-row totals table,
    broadcast-joined back and merged.  No single-task window.
    """
    assert ROW_IDX in sdf.columns
    # DETERMINISTIC chunk ids (round-7): the former repartitionByRange +
    # localCheckpoint pinned one SAMPLED layout for both branches (divergent
    # boundaries corrupted the offsets, surfaced at sf0.1) but paid ~1 s of
    # physical planning at every plan construction plus a materialization.
    # Chunk ids are a pure row function, so the data branch and the
    # column-pruned totals branch agree by construction — no pin needed.
    base = chunked_by_index(sdf)
    tot_aggs, off_cols = [], []
    locals_ = {}
    for i, (value_fn, kind, reverse, out_name) in enumerate(items):
        aggf, comb = _CUM_AGG[kind], _CUM_COMBINE[kind]
        c = value_fn(base)
        dirn = F.col(ROW_IDX).desc() if reverse else F.col(ROW_IDX).asc()
        locals_[f"__gc_loc_{i}__"] = aggf(c).over(
            Window.partitionBy(_CHK).orderBy(dirn)
            .rowsBetween(Window.unboundedPreceding, 0))
        tot_aggs.append(aggf(c).alias(f"__gc_tot_{i}__"))
        pdir = F.col(_CHK).desc() if reverse else F.col(_CHK).asc()
        off_cols.append(comb(F.col(f"__gc_tot_{i}__")).over(
            Window.orderBy(pdir).rowsBetween(
                Window.unboundedPreceding, -1)).alias(f"__gc_off_{i}__"))
    base = base.withColumns(locals_)
    offsets = base.groupBy(_CHK).agg(*tot_aggs).select(_CHK, *off_cols)
    joined = base.join(F.broadcast(offsets), _CHK, "left")
    res_cols = {}
    for i, (_vf, kind, _rev, out_name) in enumerate(items):
        local = F.col(f"__gc_loc_{i}__")
        off = F.col(f"__gc_off_{i}__")
        if kind == "min":
            res = F.least(local, off)
        elif kind == "max":
            res = F.greatest(local, off)
        elif kind == "count":
            res = (local + F.coalesce(off, F.lit(0))).cast("long")
        elif kind == "product":
            res = F.when(local.isNull() & off.isNull(),
                         F.lit(None)).otherwise(
                F.coalesce(local, F.lit(1.0)) * F.coalesce(off, F.lit(1.0)))
        else:  # sum
            res = F.when(local.isNull() & off.isNull(),
                         F.lit(None)).otherwise(
                F.coalesce(local, F.lit(0)) + F.coalesce(off, F.lit(0)))
        res_cols[out_name] = res
    drops = ([_CHK] + [f"__gc_loc_{i}__" for i in range(len(items))]
             + [f"__gc_off_{i}__" for i in range(len(items))])
    # order left dirty for the caller's deferred restore (round-7)
    return joined.withColumns(res_cols).drop(*drops)


def attach_global_reverse(sdf: DataFrame, value_fn, out_name: str) -> DataFrame:
    """Attach the column reversed over global row order: row j takes the
    value of row max+min-j via an equi-join on the remapped index (one
    shuffle hash join on a unique long key — no per-row O(n) arrays, no
    single-task window).  The index bounds attach as a broadcast one-row
    aggregate (round-7: the former driver-side ``count()`` ran a job at
    every plan construction, and count is wrong on gapped indexes anyway —
    reflection around (min+max) is the exact remap for any contiguous
    index; gapped indexes never reach this hook, reverse consumers
    re-rank dense first)."""
    assert ROW_IDX in sdf.columns
    c = value_fn(sdf)
    mn, mx = _CHK_STATS
    stats = sdf.groupBy().agg(F.min(ROW_IDX).alias(mn),
                              F.max(ROW_IDX).alias(mx))
    rev = (sdf.crossJoin(F.broadcast(stats))
           .select((F.col(mn) + F.col(mx) - F.col(ROW_IDX)).alias(ROW_IDX),
                   c.alias(out_name)))
    # order left dirty for the caller's deferred restore (round-7)
    return sdf.join(rev, ROW_IDX, "left")


def attach_global_shuffle(sdf: DataFrame, value_fn, seed, out_name: str) -> DataFrame:
    """Attach a seed-deterministic global permutation of the column: sort the
    (key, value) projection by a per-row hash (range-partitioned sort), derive
    the destination index with ``with_row_index`` over the sorted frame,
    and join back on the original index.  All stages multi-task."""
    assert ROW_IDX in sdf.columns
    c = value_fn(sdf)
    key = (F.xxhash64(F.col(ROW_IDX), F.lit(seed)) if seed is not None
           else (F.rand() * 1e18).cast("long"))
    vals = sdf.select(F.col(ROW_IDX).alias("__gs_src__"), c.alias(out_name),
                      key.alias("__gs_key__"))
    shuffled = vals.orderBy(F.col("__gs_key__"), F.col("__gs_src__")).select(out_name)
    indexed = with_row_index(shuffled, ROW_IDX)
    # round-7: order left dirty for the caller's deferred restore
    return sdf.join(indexed, ROW_IDX, "left")


def attach_global_rle_id(sdf: DataFrame, value_fn, out_name: str) -> DataFrame:
    """Attach ungrouped run ids (gaps-and-islands) without a single-task
    window.  Change flags need the PREVIOUS row's value across partition
    boundaries: a per-partition last-value table (O(partitions) rows) is
    lag'd and broadcast back, so each partition's first row compares against
    its predecessor partition's last value; the change flags then prefix-sum
    through the same chunk-offset construction as
    attach_global_cum_multi."""
    assert ROW_IDX in sdf.columns
    # deterministic chunk ids replace the range pin + checkpoint (round-7;
    # see attach_global_cum_multi / chunked_by_index): the change-flag and totals
    # branches agree on chunk membership as a pure row function
    base = chunked_by_index(sdf)
    c = value_fn(base)
    wp = Window.partitionBy(_CHK).orderBy(F.col(ROW_IDX).asc())
    bnd = base.groupBy(_CHK).agg(F.max_by(c, F.col(ROW_IDX)).alias("__gr_lastv__"))
    prevb = bnd.select(
        _CHK,
        F.lag("__gr_lastv__").over(Window.orderBy(_CHK)).alias("__gr_prev__"),
        # distinguishes "no predecessor chunk" from a genuinely-null
        # last value (a null FIRST row null-safe-equals the missing prev
        # and would start run ids at -1)
        F.lag(F.lit(1)).over(Window.orderBy(_CHK)).isNotNull()
        .alias("__gr_hasp__"))
    joined = base.join(F.broadcast(prevb), _CHK, "left")
    change = F.when(
        F.row_number().over(wp) == 1,
        F.when(F.col("__gr_hasp__") & c.eqNullSafe(F.col("__gr_prev__")),
               0).otherwise(1),
    ).otherwise(F.when(~c.eqNullSafe(F.lag(c, 1).over(wp)), 1).otherwise(0))
    flagged = joined.withColumn("__gr_chg__", change)
    local = F.sum("__gr_chg__").over(wp.rowsBetween(Window.unboundedPreceding, 0))
    totals = flagged.groupBy(_CHK).agg(F.sum("__gr_chg__").alias("__gr_tot__"))
    offsets = totals.select(
        _CHK,
        F.sum("__gr_tot__").over(
            Window.orderBy(F.col(_CHK).asc())
            .rowsBetween(Window.unboundedPreceding, -1)).alias(_OFF))
    out = (flagged.join(F.broadcast(offsets), _CHK, "left")
           .withColumn(out_name,
                       (local + F.coalesce(F.col(_OFF), F.lit(0)) - 1)
                       .cast("long"))
           .drop(_CHK, _OFF, "__gr_prev__", "__gr_hasp__", "__gr_chg__"))
    # order left dirty for the caller's deferred restore (round-7)
    return out


def attach_grouped_rank_zip(sdf: DataFrame, value_fn, key_fns, out_name: str,
                            order_fn, extra_fns=None) -> DataFrame:
    """Grouped positional remap (sort/reverse/shuffle under ``over(keys)``).

    Semantics: the i-th row of a group (counting in frame row order) takes
    the group's i-th value under ``order_fn``'s ordering.  Formulated as a
    rank-zip equi-join — ``pos`` = ordinal by row order, ``rnk`` = ordinal
    by the remap ordering, join on (keys, pos == rnk) — two row_number
    windows plus one shuffled join, all multi-task, O(1) state per row.

    Replaces the former ``collect_list().over(unbounded)`` + per-row
    ``array_sort``/``element_at`` binding, whose per-row array made grouped
    remaps O(|group|²) time AND bytes (q66 at sf0.1: >90 s in one TimSort
    task with an interpreted comparator; this shape: sub-second).

    ``order_fn(vals_df) -> [Column...]`` builds the ordering over a frame
    holding the group keys, ``__gz_val__`` and ``ROW_IDX``.  ``extra_fns``
    optionally adds ordering-only columns ``__gz_o{i}__`` to that frame
    (sort_by orders the value column by OTHER expressions).
    """
    assert ROW_IDX in sdf.columns
    keys = key_fns(sdf)
    kn = [f"__gz_k{i}__" for i in range(len(keys))]
    base = sdf.select("*", *[k.alias(n) for k, n in zip(keys, kn)])
    pos = F.row_number().over(
        Window.partitionBy(*kn).orderBy(F.col(ROW_IDX).asc()))
    left = base.withColumn("__gz_pos__", pos)
    extras = ([e.alias(f"__gz_o{i}__")
               for i, e in enumerate(extra_fns(base))] if extra_fns else [])
    vals = base.select(*kn, ROW_IDX, value_fn(base).alias("__gz_val__"),
                       *extras)
    rnk = F.row_number().over(
        Window.partitionBy(*kn).orderBy(*order_fn(vals)))
    ranked = vals.select(
        *[F.col(n).alias(f"__gz_r{i}__") for i, n in enumerate(kn)],
        F.col("__gz_val__").alias(out_name),
        rnk.alias("__gz_rnk__"))
    cond = F.col("__gz_pos__") == F.col("__gz_rnk__")
    for i in range(len(kn)):
        cond = cond & F.col(f"__gz_k{i}__").eqNullSafe(F.col(f"__gz_r{i}__"))
    joined = left.join(ranked, cond, "left")
    drop = kn + ["__gz_pos__", "__gz_rnk__"] + [f"__gz_r{i}__" for i in range(len(kn))]
    # round-7: order left dirty for the caller's deferred restore (hook
    # binds mark the frame scrambled; exports sort, driver handoffs skip)
    return joined.drop(*drop)


def _global_rank_prefix_tab(counts: DataFrame) -> DataFrame:
    """Distinct-value ``(__gr_v__, __gr_c__)`` counts → the rank prefix
    table ``(__gr_v__, __gr_c__, __gr_d__ dense ordinal, __gr_b__
    strict-lesser prefix)`` via a partition-offset prefix (sort the much
    smaller distinct table, index it, per-partition prefix sums,
    broadcast offsets).  Shared by
    :func:`attach_global_rank_multi` and the ungrouped-spearman rank
    join (round-11)."""
    sc = with_row_index(counts.orderBy(F.col("__gr_v__").asc()), "__gr_d__")
    scp = sc.withColumn(_PID, F.spark_partition_id())
    per = scp.groupBy(_PID).agg(F.sum("__gr_c__").alias("__gr_s__"))
    off = per.select(
        _PID, F.coalesce(
            F.sum("__gr_s__").over(
                Window.orderBy(_PID).rowsBetween(
                    Window.unboundedPreceding, -1)),
            F.lit(0)).alias("__gr_off__"))
    within = F.coalesce(
        F.sum("__gr_c__").over(
            Window.partitionBy(_PID).orderBy(F.col("__gr_d__"))
            .rowsBetween(Window.unboundedPreceding, -1)), F.lit(0))
    return (scp.join(F.broadcast(off), _PID, "left")
            .withColumn("__gr_b__", (F.col("__gr_off__") + within)
                        .cast("long"))
            .select("__gr_v__", "__gr_c__", "__gr_d__", "__gr_b__"))


def global_avg_rank_join_multi(sdf: DataFrame, cols: list) -> DataFrame:
    """Join per-value AVERAGE ranks for several columns onto ``sdf``
    (round-11; the ungrouped-spearman sub-job shape).

    ``cols``: ``[(in_col, out_col), …]``.  Every column's distinct-prefix
    table hangs off ``sdf`` DIRECTLY — nesting :func:`attach_global_rank_
    multi` calls would drag the first attach's join into the second's
    counts branch (the counts aggregate cannot be pruned through a join),
    re-executing it once per additional column.  Null values never match
    the left join and rank null; NaN groups and joins as a single
    greatest value, matching the attach's ordering exactly."""
    out = sdf
    for in_c, out_c in cols:
        counts = (sdf.where(F.col(in_c).isNotNull())
                  .groupBy(F.col(in_c).alias("__gr_v__"))
                  .agg(F.count(F.lit(1)).alias("__gr_c__")))
        tab = _global_rank_prefix_tab(counts)
        avg = (F.col("__gr_b__").cast("double") * 2
               + F.col("__gr_c__").cast("double") + 1) / 2
        out = out.join(
            tab.select(F.col("__gr_v__").alias(in_c), avg.alias(out_c)),
            in_c, "left")
    return out


def attach_global_rank_multi(sdf: DataFrame, value_fn, items: list) -> DataFrame:
    """Batched UNGROUPED value ranks from ONE distinct-value prefix table
    (round-10; the ewm/cum/rolling_by batching lesson applied to rank).

    ``items``: ``[(method, descending, out_name), …]`` — every method and
    BOTH directions over the same value column share one attach:

    1. ``counts = groupBy(v).count()`` over the non-null values (hash
       agg, parallel);
    2. sort the counts ASCENDING by value (range exchange over the much
       smaller distinct table) and compute, with a partition-offset
       prefix over it, each distinct value's ``before`` (rows with
       strictly-lesser value — exclusive prefix sum of the counts) and
       ``dense`` ordinal;
    3. join back on the value (AQE picks broadcast when the distinct
       table is small) and derive every method locally:
       min = before+1, max = before+cnt, dense = ordinal+1,
       average = (2·before + cnt + 1)/2, ordinal = before + row_number
       over a window PARTITIONED BY the value (tie-break by frame row
       order — requires the hidden ROW_IDX, which hook-bearing binds
       pin).  DESCENDING ranks are count-complement arithmetic on the
       SAME ascending columns — ``before' = N − before − cnt`` rows rank
       strictly greater, ``dense' = D − dense`` — so a mixed batch still
       builds one table (N and D ride a broadcast one-row aggregate of
       the counts, attached only when a descending item needs them).

    Null values rank null (the left join never matches them); NaN
    groups, orders and joins as a single greatest value in Spark,
    matching the keyless window's ordering exactly — in BOTH directions
    (desc_nulls_last puts NaN first; the complement does the same).
    """
    v = value_fn(sdf)
    base = sdf.withColumn("__gr_v__", v)
    counts = (base.where(F.col("__gr_v__").isNotNull())
              .groupBy("__gr_v__")
              .agg(F.count(F.lit(1)).alias("__gr_c__")))
    tab = _global_rank_prefix_tab(counts)
    if any(desc for _m, desc, _o in items):
        # complement terms: N = non-null rows, D = distinct values — a
        # one-row aggregate of the O(distinct) counts table, broadcast
        tot = counts.agg(F.sum("__gr_c__").alias("__gr_n__"),
                         F.count(F.lit(1)).alias("__gr_nd__"))
        tab = tab.crossJoin(F.broadcast(tot))
    joined = base.join(tab, "__gr_v__", "left")
    c = F.col("__gr_c__")
    rn = None
    if any(m == "ordinal" for m, _d, _o in items):
        assert ROW_IDX in sdf.columns
        # shared by both directions: ordinal ties break by FRAME row
        # order, and the tie block's base offset is direction-specific
        rn = F.row_number().over(
            Window.partitionBy("__gr_v__").orderBy(F.col(ROW_IDX).asc()))
    rand_rns = {}
    for m, _d, _o in items:
        if m.startswith("random"):
            # late round-10: rank("random") — ordinal with a SEEDED
            # pseudo-random tie permutation (meta_random ref:
            # expr.rb:5649).  Same value-partitioned window as ordinal,
            # ordered by xxhash64(row index, seed); hash collisions
            # tie-break on the row index so the permutation is
            # deterministic under any shuffle layout.
            assert ROW_IDX in sdf.columns
            sd = int(m.partition(":")[2] or 0)
            if sd not in rand_rns:
                rand_rns[sd] = F.row_number().over(
                    Window.partitionBy("__gr_v__").orderBy(
                        F.xxhash64(F.col(ROW_IDX), F.lit(sd)).asc(),
                        F.col(ROW_IDX).asc()))
    res_cols = {}
    for method, descending, out_name in items:
        if descending:
            b = (F.col("__gr_n__") - F.col("__gr_b__") - c).cast("long")
            d = (F.col("__gr_nd__") - F.col("__gr_d__") - 1).cast("long")
        else:
            b, d = F.col("__gr_b__"), F.col("__gr_d__")
        if method == "min":
            r = (b + 1).cast("long")
        elif method == "max":
            r = (b + c).cast("long")
        elif method == "dense":
            r = (d + 1).cast("long")
        elif method == "average":
            r = (b.cast("double") * 2 + c.cast("double") + 1) / 2
        elif method == "ordinal":
            r = (b + rn).cast("long")
        elif method.startswith("random"):
            r = (b + rand_rns[int(method.partition(":")[2] or 0)]) \
                .cast("long")
        else:
            raise ValueError(f"unknown rank method {method!r}")
        res_cols[out_name] = F.when(F.col("__gr_v__").isNotNull(), r)
    out = joined.withColumns(res_cols)
    return out.select(*sdf.columns, *[o for _m, _d, o in items])


def attach_global_fill_multi(sdf: DataFrame, items: list) -> DataFrame:
    """Batched UNGROUPED fill-family attaches (round-10): every same-frame
    forward/backward fill AND interpolate binding shares ONE deterministic
    chunk exchange, ONE per-chunk totals aggregate and ONE broadcast
    offsets join — each previously paid all three on its own, plus a lazy
    localCheckpoint between chained attaches (q166: three fill-family
    attaches → one; composed hook×hook pairs merge through the same call).

    ``items``: ``[(value_fn, kind, out_name), …]`` with kind ∈
    ``{"ff", "bf", "linear", "nearest"}`` — items may read DIFFERENT
    columns (each carries its own struct-extreme carry through the shared
    totals table, like ``attach_global_cum_multi``).

    Shape (per round-9's solo forms, now shared):

    * per-chunk local pass — two directional running frames over the SAME
      chunk partitioning, ascending and descending by ROW_IDX (one
      exchange, two in-partition sorts).  The descending frame replaces
      ``rowsBetween(0, unboundedFollowing)``, whose Spark implementation
      RE-SCANS the remainder per row (O(rows²/chunks), measured ~17 s of
      a 20 s execute at sf0.1);
    * cross-chunk carries — per-item ``max(struct(idx, v[, pos]))``
      forward / ``min`` backward over the non-null rows: lexicographic
      struct extremes are order-insensitive where a groupBy first/last is
      not, so the carry is deterministic under any shuffle layout;
    * ONE shared ascending (partition, order) spec hosts every carry in a
      single Window node over the O(chunks) totals — and the audit
      (rightly) can only sanction a keyless window whose DIRECT input is
      the chunk-keyed aggregate.

    Fills work for ANY dtype (no cast); interpolate positions are the
    dense hidden row index itself, so gaps spanning chunk boundaries
    interpolate over their true global distance.
    """
    assert ROW_IDX in sdf.columns
    base = chunked_by_index(sdf)
    wp = (Window.partitionBy(_CHK).orderBy(F.col(ROW_IDX).asc())
          .rowsBetween(Window.unboundedPreceding, 0))
    wb = (Window.partitionBy(_CHK).orderBy(F.col(ROW_IDX).desc())
          .rowsBetween(Window.unboundedPreceding, 0))
    w_chk = Window.orderBy(F.col(_CHK).asc())
    fwd_carry = w_chk.rowsBetween(Window.unboundedPreceding, -1)
    bwd_carry = w_chk.rowsBetween(1, Window.unboundedFollowing)
    rn = (F.col(ROW_IDX) + 1).cast("double")
    locals_, tot_aggs, off_cols, finishers = {}, [], [], []
    for i, (value_fn, kind, out_name) in enumerate(items):
        c = value_fn(base)
        if kind == "pnn":
            # PREVIOUS non-null (exclusive of the current row) — the
            # pct_change(1) operand: last non-null at index ≤ i-1.  The
            # chunk-prefix carry is always valid here (carry.i < chunk
            # start ≤ i), so the exclusive frame is the only difference
            # from "ff"; one more item in the SAME shared attach instead
            # of a fill stage + a lag-kernel stage (r11).
            pair = F.when(c.isNotNull(), F.struct(
                F.col(ROW_IDX).alias("i"), c.alias("v")))
            wp1 = (Window.partitionBy(_CHK).orderBy(F.col(ROW_IDX).asc())
                   .rowsBetween(Window.unboundedPreceding, -1))
            locals_[f"__gm_l{i}__"] = F.last(
                pair, ignorenulls=True).over(wp1)
            tot_aggs.append(F.max(pair).alias(f"__gm_t{i}__"))
            off_cols.append(
                F.last(F.col(f"__gm_t{i}__"), ignorenulls=True)
                .over(fwd_carry).alias(f"__gm_o{i}__"))

            def fin(i=i):
                return F.coalesce(F.col(f"__gm_l{i}__"),
                                  F.col(f"__gm_o{i}__")).getField("v")

            finishers.append((fin, out_name))
            continue
        if kind in ("lag", "lead"):
            # RAW adjacent row at distance exactly 1 (round-11): diff(1)/
            # pct_change arithmetic and shift(±1) ride the fill batch
            # instead of a chained sliding-kernel stage — the chunk-edge
            # struct carry is exact at distance 1, and struct ordering
            # compares the UNIQUE leading idx first so any value dtype
            # rides along without being compared.  The [-1,-1]/[1,1]
            # row frame stays inside the shared chunk exchange.
            fwd = kind == "lag"
            pair = F.struct(F.col(ROW_IDX).alias("i"), c.alias("v"))
            w1 = (Window.partitionBy(_CHK).orderBy(F.col(ROW_IDX).asc())
                  .rowsBetween(-1, -1) if fwd else
                  Window.partitionBy(_CHK).orderBy(F.col(ROW_IDX).asc())
                  .rowsBetween(1, 1))
            locals_[f"__gm_l{i}__"] = F.last(pair).over(w1)
            tot_aggs.append((F.max(pair) if fwd else F.min(pair))
                            .alias(f"__gm_t{i}__"))
            off_cols.append(
                (F.last(F.col(f"__gm_t{i}__"), ignorenulls=True)
                 .over(fwd_carry) if fwd else
                 F.first(F.col(f"__gm_t{i}__"), ignorenulls=True)
                 .over(bwd_carry)).alias(f"__gm_o{i}__"))

            def fin(i=i, fwd=fwd):
                src = F.coalesce(F.col(f"__gm_l{i}__"),
                                 F.col(f"__gm_o{i}__"))
                want = F.col(ROW_IDX) + F.lit(-1 if fwd else 1)
                return F.when(src.getField("i") == want,
                              src.getField("v"))

            finishers.append((fin, out_name))
            continue
        if kind in ("ff", "bf") or kind.partition(":")[0] in ("ff", "bf"):
            base_kind, _, lim_s = kind.partition(":")
            limit = int(lim_s) if lim_s else None
            backward = base_kind == "bf"
            pair = F.when(c.isNotNull(), F.struct(
                F.col(ROW_IDX).alias("i"), c.alias("v")))
            if limit is None:
                locals_[f"__gm_l{i}__"] = F.last(c, ignorenulls=True).over(
                    wb if backward else wp)
            else:
                # LIMITED fills (late round-10): the same chunk exchange +
                # struct-extreme carry as the unbounded form — the struct
                # already carries the source ROW_IDX, so the polars
                # ``limit=k`` semantics ("fill iff the source non-null is
                # within k rows") is ONE distance predicate on top.  The
                # old route bound a KEYLESS bounded-frame window (one task
                # for the whole frame).
                locals_[f"__gm_l{i}__"] = F.last(
                    pair, ignorenulls=True).over(wb if backward else wp)
            tot_aggs.append((F.min(pair) if backward else F.max(pair))
                            .alias(f"__gm_t{i}__"))
            carry_src = (F.col(f"__gm_t{i}__") if limit is not None
                         else F.col(f"__gm_t{i}__").getField("v"))
            off_cols.append(
                (F.first(carry_src, ignorenulls=True).over(bwd_carry)
                 if backward
                 else F.last(carry_src, ignorenulls=True).over(fwd_carry))
                .alias(f"__gm_o{i}__"))

            if limit is None:
                def fin(i=i):
                    return F.coalesce(F.col(f"__gm_l{i}__"),
                                      F.col(f"__gm_o{i}__"))
            else:
                def fin(i=i, limit=limit, backward=backward):
                    src = F.coalesce(F.col(f"__gm_l{i}__"),
                                     F.col(f"__gm_o{i}__"))
                    dist = ((src.getField("i") - F.col(ROW_IDX))
                            if backward
                            else (F.col(ROW_IDX) - src.getField("i")))
                    return F.when(dist <= limit, src.getField("v"))

            finishers.append((fin, out_name))
        elif kind in ("linear", "nearest"):
            cd = c.cast("double")
            locals_[f"__gm_pv{i}__"] = F.last(cd, ignorenulls=True).over(wp)
            locals_[f"__gm_pr{i}__"] = F.last(
                F.when(c.isNotNull(), rn), ignorenulls=True).over(wp)
            locals_[f"__gm_nv{i}__"] = F.last(cd, ignorenulls=True).over(wb)
            locals_[f"__gm_nr{i}__"] = F.last(
                F.when(c.isNotNull(), rn), ignorenulls=True).over(wb)
            # the raw value column rides along for the final identity case
            locals_[f"__gm_c{i}__"] = cd
            pair = F.when(c.isNotNull(), F.struct(
                F.col(ROW_IDX).alias("i"), cd.alias("v"), rn.alias("r")))
            tot_aggs.append(F.max(pair).alias(f"__gm_tf{i}__"))
            tot_aggs.append(F.min(pair).alias(f"__gm_tb{i}__"))
            off_cols.append(F.last(F.col(f"__gm_tf{i}__"),
                                   ignorenulls=True).over(fwd_carry)
                            .alias(f"__gm_of{i}__"))
            off_cols.append(F.first(F.col(f"__gm_tb{i}__"),
                                    ignorenulls=True).over(bwd_carry)
                            .alias(f"__gm_ob{i}__"))

            def fin(i=i, kind=kind):
                cd_ = F.col(f"__gm_c{i}__")
                pv = F.coalesce(F.col(f"__gm_pv{i}__"),
                                F.col(f"__gm_of{i}__").getField("v"))
                pr = F.coalesce(F.col(f"__gm_pr{i}__"),
                                F.col(f"__gm_of{i}__").getField("r"))
                nv = F.coalesce(F.col(f"__gm_nv{i}__"),
                                F.col(f"__gm_ob{i}__").getField("v"))
                nr = F.coalesce(F.col(f"__gm_nr{i}__"),
                                F.col(f"__gm_ob{i}__").getField("r"))
                if kind == "nearest":
                    filled = F.when((rn - pr) <= (nr - rn), pv).otherwise(nv)
                else:
                    filled = pv + (nv - pv) * (rn - pr) / (nr - pr)
                return F.when(cd_.isNotNull(), cd_).otherwise(
                    F.when(pv.isNotNull() & nv.isNotNull(), filled))

            finishers.append((fin, out_name))
        else:
            raise ValueError(f"unknown fill kind {kind!r}")
    base = base.withColumns(locals_)
    offs = (base.groupBy(_CHK).agg(*tot_aggs).select(_CHK, *off_cols))
    joined = base.join(F.broadcast(offs), _CHK, "left")
    out = joined.withColumns({nm: fin() for fin, nm in finishers})
    helper_cols = [c_ for c_ in out.columns
                   if c_.startswith("__gm_") or c_ == _CHK]
    return out.drop(*helper_cols)

"""Core slice: Q1-style scan→filter→group→agg→sort, exprs, projections."""

from __future__ import annotations

import datetime as dt
import math

import polars_ruby_spark as pl


def test_flagship_q1(spark, lineitem):
    out = (
        lineitem
        .filter(pl.col("l_shipdate") <= pl.lit("1998-09-02").cast(pl.Datetime))
        .group_by("l_returnflag", "l_linestatus")
        .agg(
            pl.col("l_quantity").sum().alias("sum_qty"),
            pl.col("l_extendedprice").sum().alias("sum_base_price"),
            (pl.col("l_extendedprice") * (1 - pl.col("l_discount"))).sum().alias("sum_disc_price"),
            pl.col("l_quantity").mean().alias("avg_qty"),
            pl.col("l_discount").mean().alias("avg_disc"),
            pl.len().alias("count_order"),
        )
        .sort("l_returnflag", "l_linestatus")
        .collect()
    )
    rows = out.to_a()
    assert len(rows) > 0
    assert rows == sorted(rows, key=lambda r: (r["l_returnflag"], r["l_linestatus"]))
    total = sum(r["count_order"] for r in rows)
    full = lineitem.filter(
        pl.col("l_shipdate") <= pl.lit("1998-09-02").cast(pl.Datetime)).collect().height
    assert total == full
    for r in rows:
        assert abs(r["avg_qty"] * r["count_order"] - r["sum_qty"]) < 1e-6 * max(1, r["sum_qty"])


def test_select_exprs(spark, lineitem):
    out = (
        lineitem.select(
            (pl.col("l_extendedprice") * (1 - pl.col("l_discount"))).alias("net"),
            pl.col("l_quantity").cast(pl.Int32).alias("qty_int"),
            pl.when(pl.col("l_discount") > 0.05).then(pl.lit("hi")).otherwise(pl.lit("lo")).alias("disc_band"),
        )
        .limit(10)
        .collect()
    )
    rows = out.to_a()
    assert len(rows) == 10
    assert set(out.columns) == {"net", "qty_int", "disc_band"}
    assert all(r["disc_band"] in ("hi", "lo") for r in rows)


def test_filter_and_boolean(spark, lineitem):
    df = lineitem.filter(
        (pl.col("l_quantity") > 25) & (pl.col("l_returnflag") == "R")
    ).collect()
    rows = df.to_a()
    assert all(r["l_quantity"] > 25 and r["l_returnflag"] == "R" for r in rows)


def test_with_columns(spark, lineitem):
    out = lineitem.with_columns(
        (pl.col("l_extendedprice") * pl.col("l_tax")).alias("tax_amt"),
        pl.col("l_quantity").cast("int").alias("l_quantity"),
    ).limit(5).collect()
    assert "tax_amt" in out.columns
    assert out.schema["l_quantity"].simpleString() == "int"


def test_sort_head_slice(spark, orders):
    out = orders.sort("o_totalprice", descending=True).head(5).collect()
    prices = [r["o_totalprice"] for r in out.to_a()]
    assert prices == sorted(prices, reverse=True)
    sliced = orders.sort("o_orderkey").slice(10, 5).collect()
    keys = [r["o_orderkey"] for r in sliced.to_a()]
    all_keys = sorted(r["o_orderkey"] for r in orders.collect().to_a())
    assert keys == all_keys[10:15]


def test_unique_and_value_counts(spark, orders):
    statuses = orders.select("o_orderstatus").unique().collect()
    assert statuses.height == len(set(r["o_orderstatus"] for r in orders.collect().to_a()))


def test_agg_context_implicit_implode(spark, orders):
    out = orders.group_by("o_orderstatus").agg(
        pl.col("o_totalprice").sum().alias("total"),
        pl.col("o_orderpriority").alias("priorities"),
    ).collect()
    rows = out.to_a()
    for r in rows:
        assert isinstance(r["priorities"], list)
        assert len(r["priorities"]) > 0


def test_group_agg_shortcuts(spark, orders):
    out = orders.group_by("o_orderstatus").len().collect()
    assert out.height >= 1
    assert "len" in out.columns


def test_eager_exports(spark, orders):
    df = orders.limit(3).collect()
    assert df.shape == (3, 6)
    assert len(df.rows()) == 3
    h = df.to_h()
    assert set(h.keys()) == set(df.columns)


def test_to_h_null_not_nan(spark):
    """to_h keeps float nulls as None (data_frame.rb:478) — the pandas
    export coerced them to NaN (round-6 fix)."""
    df = pl.DataFrame({"a": [1.0, None, float("nan")]})
    vals = df.to_h()["a"]
    assert vals[0] == 1.0
    assert vals[1] is None
    assert math.isnan(vals[2])
    assert df.to_dict()["a"][1] is None


def test_when_chain(spark):
    df = pl.from_hash({"x": [1, 5, 10]})
    out = df.lazy().select(
        pl.when(pl.col("x") < 3).then(pl.lit("small"))
        .when(pl.col("x") < 7).then(pl.lit("mid"))
        .otherwise(pl.lit("big")).alias("bucket")
    ).collect()
    assert [r["bucket"] for r in out.to_a()] == ["small", "mid", "big"]


def test_fill_null_and_strategies(spark):
    df = pl.from_hash({"x": [1.0, None, 3.0, None, 5.0]})
    filled = df.lazy().select(pl.col("x").fill_null(0).alias("x")).collect()
    assert [r["x"] for r in filled.to_a() if r["x"] is not None] == [1.0, 0.0, 3.0, 0.0, 5.0]
    ff = df.lazy().select(pl.col("x").forward_fill().alias("x")).collect()
    assert [r["x"] for r in ff.to_a()] == [1.0, 1.0, 3.0, 3.0, 5.0]


def test_with_row_index(spark, orders):
    out = orders.with_row_index("idx").collect()
    idxs = sorted(r["idx"] for r in out.to_a())
    assert idxs == list(range(out.height))


def test_horizontal_and_fold(spark):
    df = pl.from_hash({"a": [1, 2], "b": [10, 20], "c": [100, 200]})
    out = df.lazy().select(
        pl.sum_horizontal("a", "b", "c").alias("s"),
        pl.max_horizontal("a", "b", "c").alias("m"),
        pl.fold(pl.lit(0), lambda acc, x: acc + x, ["a", "b", "c"]).alias("f"),
    ).collect()
    rows = out.to_a()
    assert [r["s"] for r in rows] == [111, 222]
    assert [r["m"] for r in rows] == [100, 200]
    assert [r["f"] for r in rows] == [111, 222]


def test_sql_context(spark, orders):
    ctx = pl.SQLContext(orders=orders)
    out = ctx.execute(
        "SELECT o_orderstatus, count(*) AS n FROM orders GROUP BY o_orderstatus"
    ).collect()
    assert out.height >= 1


def test_cast_null_on_error(spark):
    df = pl.from_hash({"s": ["1", "x", "3"]})
    out = df.lazy().select(pl.col("s").cast(pl.Int64).alias("i")).collect()
    assert [r["i"] for r in out.to_a()] == [1, None, 3]


def test_interpolate(spark):
    df = pl.from_hash({"x": [1.0, None, None, 4.0, None]})
    out = df.lazy().select(pl.col("x").interpolate().alias("x")).collect()
    assert [r["x"] for r in out.to_a()] == [1.0, 2.0, 3.0, 4.0, None]


def test_interpolate_over_groups(spark):
    df = pl.from_hash({"i": [0, 1, 2, 3, 4], "g": ["a", "b", "a", "b", "a"],
                       "x": [0.0, 10.0, None, None, 4.0]})
    out = (df.lazy().with_columns(pl.col("x").interpolate().over("g").alias("xi"))
           .sort("i").collect())
    vals = [r["xi"] for r in out.to_a()]
    # group a: 0, null, 4 -> midpoint 2.0 (per-group ordinal, not global gap)
    assert vals[2] == 2.0
    assert vals[3] is None  # trailing null in group b stays null


def test_qcut(spark):
    df = pl.from_hash({"x": [1.0, 2.0, 3.0, 4.0]})
    out = df.lazy().select(pl.col("x").qcut(2, labels=["lo", "hi"]).alias("b")).collect()
    assert [r["b"] for r in out.to_a()] == ["lo", "lo", "hi", "hi"]


def test_replace_mapping(spark):
    df = pl.from_hash({"s": ["a", "b", "c"]})
    out = df.lazy().select(
        pl.col("s").replace({"a": "A"}).alias("keep"),
        pl.col("s").replace_strict({"a": "A"}, default="?").alias("strict"),
    ).collect()
    rows = out.to_a()
    assert [r["keep"] for r in rows] == ["A", "b", "c"]
    assert [r["strict"] for r in rows] == ["A", "?", "?"]


def test_ewm_var_std_match_pandas(spark):
    import pandas as pd

    vals = [3.0, 1.0, 4.0, 1.0, 5.0, 9.0]
    df = pl.from_hash({"v": vals})
    out = df.lazy().select(
        pl.col("v").ewm_var(alpha=0.5).round(6).alias("ev"),
        pl.col("v").ewm_std(alpha=0.5).round(6).alias("es"),
    ).collect()
    rows = out.to_a()
    ref = pd.Series(vals).ewm(alpha=0.5)
    # first row: pandas NaN (ddof), polars 0.0 (expr.rb:6398 doctest) — we
    # follow the reference
    for got, exp in zip([r["ev"] for r in rows], ref.var().round(6)):
        assert got == (0.0 if exp != exp else exp)
    for got, exp in zip([r["es"] for r in rows], ref.std().round(6)):
        assert got == (0.0 if exp != exp else exp)


def test_value_counts(spark):
    df = pl.from_hash({"s": ["a", "b", "a", "a"]})
    vc = df.collect().get_column("s").value_counts(sort=True)
    rows = vc.to_a()
    assert rows[0] == {"s": "a", "count": 3}
    assert rows[1] == {"s": "b", "count": 1}


def test_group_by_dynamic_closed_and_label(spark):
    import datetime as dt

    ts = [dt.datetime(2024, 1, 1, h, m) for h, m in
          [(0, 0), (0, 30), (1, 0), (1, 30), (2, 0)]]
    df = pl.from_hash({"ts": ts, "v": [1, 2, 3, 4, 5]})

    left = {r["ts"]: r["n"] for r in
            df.lazy().group_by_dynamic("ts", every="1h").agg(pl.len().alias("n"))
            .collect().to_a()}
    # closed=left: boundary rows open each hour -> 2,2,1
    assert [left[k] for k in sorted(left)] == [2, 2, 1]

    right = {r["ts"]: r["n"] for r in
             df.lazy().group_by_dynamic("ts", every="1h", closed="right")
             .agg(pl.len().alias("n")).collect().to_a()}
    # closed=right: (start,end] -> 00:00 falls in the 23:00 window; 1,2,2
    assert sorted(right.values(), key=lambda n: n) == [1, 2, 2]

    dp = {r["ts"]: r["n"] for r in
          df.lazy().group_by_dynamic("ts", every="1h", label="datapoint")
          .agg(pl.len().alias("n")).collect().to_a()}
    # labels are the first datapoint of each window, not the window start
    assert set(dp) == {ts[0], ts[2], ts[4]}

    # closed=both: [start, start+every] — boundary rows land in BOTH
    # adjacent windows; every row here is on a boundary
    both = {r["ts"]: (r["n"], r["sv"]) for r in
            df.lazy().group_by_dynamic("ts", every="1h", closed="both")
            .agg(pl.len().alias("n"), pl.col("v").sum().alias("sv"))
            .collect().to_a()}
    assert both == {
        dt.datetime(2023, 12, 31, 23): (1, 1),
        dt.datetime(2024, 1, 1, 0): (3, 6),   # 1,2,3
        dt.datetime(2024, 1, 1, 1): (3, 12),  # 3,4,5
        dt.datetime(2024, 1, 1, 2): (1, 5),
    }

    # closed=none: (start, start+every) — boundary rows belong to NO window
    none = {r["ts"]: r["n"] for r in
            df.lazy().group_by_dynamic("ts", every="1h", closed="none")
            .agg(pl.len().alias("n")).collect().to_a()}
    assert none == {dt.datetime(2024, 1, 1, 0): 1,
                    dt.datetime(2024, 1, 1, 1): 1}

    # label=right composes with the enumerated path
    both_r = {r["ts"]: r["n"] for r in
              df.lazy().group_by_dynamic("ts", every="1h", closed="both",
                                         label="right")
              .agg(pl.len().alias("n")).collect().to_a()}
    assert both_r[dt.datetime(2024, 1, 1, 0)] == 1  # the 23:00–00:00 window


def test_weighted_rolling_and_skew(spark):
    import pandas as pd

    vals = [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0]
    df = pl.from_hash({"v": vals})
    out = df.lazy().select(
        pl.col("v").rolling_mean(3, weights=[1.0, 2.0, 3.0]).round(6).alias("wm"),
        pl.col("v").rolling_skew(4).round(6).alias("sk"),
        pl.col("v").rolling_skew(4, bias=False).round(6).alias("sku"),
    ).collect().to_a()
    s = pd.Series(vals)
    ref_wm = s.rolling(3).apply(lambda w: (w * [1, 2, 3]).sum() / 6).round(6)
    ref_sk = s.rolling(4).apply(
        lambda w: (((w - w.mean()) ** 3).mean())
        / (((w - w.mean()) ** 2).mean()) ** 1.5).round(6)
    # pandas rolling skew IS the unbiased G1 = g1*sqrt(n(n-1))/(n-2)
    ref_sku = s.rolling(4).skew().round(6)
    for i, r in enumerate(out):
        assert r["wm"] == (None if ref_wm[i] != ref_wm[i] else ref_wm[i])
        assert r["sk"] == (None if ref_sk[i] != ref_sk[i] else ref_sk[i])
        assert r["sku"] == (None if ref_sku[i] != ref_sku[i] else ref_sku[i])


def test_rolling_std_by_time(spark):
    import datetime as dtm

    ts = [dtm.datetime(2024, 1, 1, 0, m) for m in [0, 10, 20, 40, 50]]
    df = pl.from_hash({"ts": ts, "v": [1.0, 2.0, 3.0, 4.0, 5.0]})
    out = df.lazy().select(
        pl.col("v").rolling_std_by("ts", "30m").round(6).alias("s"),
    ).collect().to_a()
    # windows (right-closed, 30m lookback): {1},{1,2},{1,2,3},{3,4},{4,5}
    import statistics
    exp = [None,
           round(statistics.stdev([1.0, 2.0]), 6),
           round(statistics.stdev([1.0, 2.0, 3.0]), 6),
           round(statistics.stdev([3.0, 4.0]), 6),
           round(statistics.stdev([4.0, 5.0]), 6)]
    assert [r["s"] for r in out] == exp


def test_group_by_dynamic_calendar_monthly(spark):
    ts = [dt.datetime(2024, 1, 5), dt.datetime(2024, 1, 20),
          dt.datetime(2024, 2, 29), dt.datetime(2024, 3, 1)]
    df = pl.from_hash({"ts": ts, "v": [1, 2, 3, 4]})
    out = {r["ts"].month: r["n"] for r in
           df.lazy().group_by_dynamic("ts", every="1mo").agg(pl.len().alias("n"))
           .collect().to_a()}
    assert out == {1: 2, 2: 1, 3: 1}


def test_join_asof_strategies_and_global_bucketing(spark):
    left = pl.from_hash({"t": [1.0, 3.0, 5.0, 7.0], "lid": [1, 2, 3, 4]})
    right = pl.from_hash({"t": [2.0, 5.0, 6.0], "val": ["a", "b", "c"]})
    # global (no `by`) path goes through the range-bucketed two-pass plan
    for strat, want in [("backward", [None, "a", "b", "c"]),
                        ("forward", ["a", "b", "b", None]),  # equal-t matches
                        ("nearest", ["a", "a", "b", "c"])]:
        got = [r["val"] for r in
               (left.lazy().join_asof(right.lazy(), on="t", strategy=strat)
                .sort("lid").collect().to_a())]
        assert got == want, (strat, got)


def test_extract_groups_and_shuffle(spark):
    df = pl.from_hash({"i": [0, 1], "s": ["a1-b2", "c3-d4"]})
    out = df.lazy().select(
        pl.col("s").str.extract_groups(r"([a-z])(\d)").alias("g")).collect().to_a()
    assert out[0]["g"] == {"1": "a", "2": "1"}

    dfn = pl.from_hash({"i": list(range(20)), "v": list(range(20))})
    res = (dfn.lazy().with_columns(pl.col("v").shuffle(seed=7).alias("x"))
           .sort("i").collect().to_a())
    xs = [r["x"] for r in res]
    assert sorted(xs) == list(range(20))      # a permutation
    assert xs != list(range(20))              # actually shuffled
    res2 = (dfn.lazy().with_columns(pl.col("v").shuffle(seed=7).alias("x"))
            .sort("i").collect().to_a())
    assert xs == [r["x"] for r in res2]       # seed-deterministic


def test_expr_surface_extras(spark):
    """rle, agg-context slices, named operator aliases, bounds, meta."""
    df = pl.from_hash({"s": [1, 1, 2, 1, None, 1, 3, 3]})
    runs = [(r["s"]["len"], r["s"]["value"]) for r in
            df.select(pl.col("s").rle().alias("s")).collect().to_a()]
    assert runs == [(2, 1), (1, 2), (1, 1), (1, None), (1, 1), (2, 3)]

    g = pl.from_hash({"g": ["a", "a", "a", "b"], "v": [1, 2, 3, 4]})
    row = {r["g"]: r for r in g.group_by("g").agg(
        pl.col("v").head(2).alias("h"),
        pl.col("v").tail(1).alias("t"),
        pl.col("v").slice(1, 2).alias("sl"),
        pl.col("v").gather([0, -1]).alias("ga"),
    ).to_a()}
    assert row["a"]["h"] == [1, 2] and row["a"]["t"] == [3]
    assert row["a"]["sl"] == [2, 3] and row["a"]["ga"] == [1, 3]
    assert row["b"]["h"] == [4]

    d = pl.from_hash({"a": [1, 2], "b": [True, False]})
    out = d.select(
        pl.col("a").add(1).alias("p"),
        pl.col("a").ge(2).alias("ge"),
        pl.col("b").xor(True).alias("x"),
        pl.col("b").is_not().alias("n"),
        pl.col("a").lower_bound().alias("lo"),
        pl.col("a").upper_bound().alias("hi"),
    ).to_a()[0]
    assert (out["p"], out["ge"], out["x"], out["n"]) == (2, False, False, False)
    assert out["lo"] == -(1 << 63) and out["hi"] == (1 << 63) - 1

    e = pl.col("x").alias("y")
    assert e.meta.output_name() == "y"
    # undo_aliases returns the pre-alias chain: col("x"), output name "x"
    # (meta_expr.rb:166 — previously this stripped the name to None)
    assert e.meta.undo_aliases().meta.output_name() == "x"
    assert not e.meta.has_multiple_outputs()
    assert d.select(pl.col("a").keep_name()).columns == ["a"]
    assert d.select(pl.col("a").map_alias(lambda n: n + "_z")).columns == ["a_z"]


def test_namespace_surface_extras(spark):
    """dt.combine/datetime/with_time_unit, str.to_time/parse_int,
    list.sample, arr.explode/to_list."""
    df = pl.from_hash({"ts": [dt.datetime(2024, 5, 1, 12, 30, 15)],
                       "s": ["01:02:03"], "hx": ["ff"], "l": [[1, 2, 3, 4, 5]]})
    out = df.select(
        pl.col("ts").dt.datetime().alias("d"),
        pl.col("ts").dt.combine(dt.time(6, 30)).alias("cmb"),
        pl.col("ts").dt.combine(pl.col("s").str.to_time()).alias("cmb2"),
        pl.col("ts").dt.with_time_unit("ns").alias("wtu"),
        pl.col("ts").dt.cast_time_unit("ns").alias("ctu"),
        pl.col("s").str.to_time().alias("t"),
        pl.col("hx").str.parse_int(16).alias("pi"),
        pl.col("l").list.sample(2, seed=7).alias("smp"),
        pl.col("l").arr.to_list().alias("tl"),
    ).collect().to_a()[0]
    assert out["d"] == dt.datetime(2024, 5, 1, 12, 30, 15)
    assert out["cmb"] == dt.datetime(2024, 5, 1, 6, 30)
    assert out["cmb2"] == dt.datetime(2024, 5, 1, 1, 2, 3)
    assert out["wtu"].year == 1970  # µs count reinterpreted as ns
    assert out["ctu"] == out["d"]   # storage is µs: value-preserving
    assert out["t"] == 3723 * 10**9 and out["pi"] == 255
    assert len(out["smp"]) == 2 and set(out["smp"]) <= {1, 2, 3, 4, 5}
    assert out["tl"] == [1, 2, 3, 4, 5]
    ex = df.select(pl.col("l").arr.explode().alias("e")).collect().to_a()
    assert [r["e"] for r in ex] == [1, 2, 3, 4, 5]


def test_module_function_delegates(spark):
    """Polars.* module functions (functions/aggregation, ranges, duration)."""
    df = pl.from_hash({"g": ["a", "a", "b"], "v": [1.0, 3.0, 5.0],
                       "d0": [dt.date(2024, 1, 1)] * 3,
                       "d1": [dt.date(2024, 1, 4)] * 3})
    agg = {r["g"]: r for r in df.group_by("g").agg(
        pl.median("v").alias("md"), pl.implode("v").alias("im"),
        pl.head("v", 1).alias("h")).to_a()}
    assert agg["a"]["md"] == 2.0 and agg["a"]["im"] == [1.0, 3.0]
    assert agg["b"]["h"] == [5.0]

    row = df.select(pl.n_unique("g").alias("nu"),
                    pl.cum_sum("v").alias("cs")).to_a()
    assert [r["nu"] for r in row] == [2, 2, 2]
    assert [r["cs"] for r in row] == [1.0, 4.0, 9.0]

    # sole-select arg_where → one row per match (functions/lazy.rb:1092)
    assert df.select(pl.arg_where(pl.col("v") > 2).alias("aw")
                     ).to_a() == [{"aw": 1}, {"aw": 2}]
    # grouped agg context keeps the list convention
    assert df.group_by("g").agg(pl.arg_where(pl.col("v") > 0).alias("aw")) \
             .sort("g").to_a()[0]["aw"] is not None
    dr = df.select(pl.date_ranges("d0", "d1").alias("dr")).to_a()[0]["dr"]
    assert len(dr) == 4 and dr[0] == dt.date(2024, 1, 1)
    plus = df.select((pl.col("d0").cast(pl.Datetime)
                      + pl.duration(days=1, hours=6)).alias("p")).to_a()[0]["p"]
    assert plus == dt.datetime(2024, 1, 2, 6, 0)
    assert pl.select(pl.lit(2).alias("two")).to_a() == [{"two": 2}]
    # eager range → Series of values (reference functions/range semantics)
    tr = pl.time_range(dt.time(1), dt.time(3), "1h", eager=True).to_a()
    assert tr == [3600 * 10**9, 7200 * 10**9, 10800 * 10**9]
    # lazy range → Expr, sole-select row generator
    dr2 = pl.select(pl.datetime_range(dt.datetime(2024, 1, 1),
                                      dt.datetime(2024, 1, 2), "6h").alias("t"))
    assert len(dr2.to_a()) == 5
    assert pl.ones(2).to_a() == [1.0, 1.0]  # eager default → Series 'ones'
    fe = df.select(pl.from_epoch(pl.lit(86400), "s").alias("fe")).to_a()[0]["fe"]
    assert fe == dt.datetime(1970, 1, 2)
    corr = df.select(pl.pearson_corr("v", "v").round(6).alias("c")).to_a()[0]["c"]
    assert corr == 1.0


def test_driver_entry_contract(spark):
    """The driver smoke-checks entry(spark): rows>0, stable schema
    (SKILL.md known-good evidence shape)."""
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) == 6
    assert df.columns == ["l_returnflag", "l_linestatus", "sum_qty",
                          "sum_base_price", "sum_disc_price", "sum_charge",
                          "avg_qty", "avg_price", "avg_disc", "count_order"]
    first = rows[0]
    assert (first["l_returnflag"], first["l_linestatus"]) == ("A", "F")
    assert first["sum_qty"] == 13096.0
    qs, os_ = e.queries(), e.oracle_sql()
    missing = set(os_) - set(qs)
    assert not missing  # every oracle key must have a query


def test_replace_strict_raises_on_unmapped(spark):
    """expr.rb:7071 — strict mapping without default raises at execution;
    compiled to a JVM raise_error in the fallback branch (no extra job)."""
    import pytest as _pytest

    df = pl.from_hash({"s": ["a", "b", "c"]})
    # all values mapped: fine
    out = df.lazy().select(pl.col("s").replace_strict(
        {"a": 1, "b": 2, "c": 3}).alias("v")).collect().to_a()
    assert [r["v"] for r in out] == [1, 2, 3]
    # unmapped value: execution-time error
    with _pytest.raises(Exception, match="replace_strict"):
        df.lazy().select(pl.col("s").replace_strict({"a": 1}).alias("v")).collect().to_a()
    # explicit default=None null-fills
    out2 = df.lazy().select(pl.col("s").replace_strict(
        {"a": 1}, default=None).alias("v")).collect().to_a()
    assert [r["v"] for r in out2] == [1, None, None]


def test_expr_sample_with_replacement(spark):
    """With-replacement draws: deterministic seeded draw table joined back
    on the row index — n rows out, duplicates possible, reproducible."""
    df = pl.from_hash({"x": [10, 20, 30, 40, 50]})
    out1 = df.lazy().select(pl.col("x").sample(n=8, with_replacement=True,
                                               seed=7)).collect().to_a()
    out2 = df.lazy().select(pl.col("x").sample(n=8, with_replacement=True,
                                               seed=7)).collect().to_a()
    vals1 = sorted(r["x"] for r in out1)
    assert len(vals1) == 8                      # more draws than rows
    assert set(vals1) <= {10, 20, 30, 40, 50}
    assert vals1 == sorted(r["x"] for r in out2)  # seed-reproducible


def test_sort_under_over_rank_zip(spark):
    """Grouped sort/reverse/shuffle remap via rank-zip join: values, null
    placement (polars: nulls first unless nulls_last), and plan shape (no
    collect_list / per-row arrays)."""
    df = pl.from_hash({"i": list(range(8)),
                       "g": ["a", "b", "a", "b", "a", "b", "a", "b"],
                       "v": [3.0, 10.0, None, 30.0, 1.0, None, 2.0, 20.0]})
    out = (df.lazy().with_columns(
        pl.col("v").sort().over("g").alias("s_asc"),
        pl.col("v").sort(descending=True).over("g").alias("s_desc"),
        pl.col("v").sort(nulls_last=True).over("g").alias("s_nl"),
        pl.col("v").reverse().over("g").alias("rev"),
    ).sort("i").collect().to_a())
    # group a rows (i=0,2,4,6), values [3.0, None, 1.0, 2.0]
    a = [r for r in out if r["g"] == "a"]
    assert [r["s_asc"] for r in a] == [None, 1.0, 2.0, 3.0]   # nulls first
    assert [r["s_desc"] for r in a] == [None, 3.0, 2.0, 1.0]  # nulls first
    assert [r["s_nl"] for r in a] == [1.0, 2.0, 3.0, None]    # nulls last
    assert [r["rev"] for r in a] == [2.0, 1.0, None, 3.0]
    b = [r for r in out if r["g"] == "b"]
    assert [r["s_asc"] for r in b] == [None, 10.0, 20.0, 30.0]

    # composed post-over lift keeps the attachment (round on top)
    out2 = (df.lazy().with_columns(
        pl.col("v").sort().over("g").round(1).alias("s"))
        .sort("i").collect().to_a())
    assert [r["s"] for r in out2 if r["g"] == "a"] == [None, 1.0, 2.0, 3.0]

    # plan shape: no collect_list window (the O(g²) remap) in the plan
    plan = (df.lazy().with_columns(
        pl.col("v").sort().over("g").alias("s"))
        .to_spark()._jdf.queryExecution().executedPlan().toString())
    assert "collect_list" not in plan

    # grouped shuffle: a permutation of each group, seed-stable
    s1 = (df.lazy().with_columns(
        pl.col("v").shuffle(seed=3).over("g").alias("p")).sort("i").collect().to_a())
    s2 = (df.lazy().with_columns(
        pl.col("v").shuffle(seed=3).over("g").alias("p")).sort("i").collect().to_a())
    assert [r["p"] for r in s1] == [r["p"] for r in s2]
    for grp in ("a", "b"):
        got = sorted((r["p"] is None, r["p"] or 0) for r in s1 if r["g"] == grp)
        want = sorted((r["v"] is None, r["v"] or 0) for r in s1 if r["g"] == grp)
        assert got == want


def test_rle_distributed_frame_path(spark):
    """Sole-select rle routes through gaps-and-islands (no single-cell fold);
    runs and order match the sequential semantics."""
    df = pl.from_hash({"x": [1, 1, 2, 2, 2, 1, None, None, 3]})
    out = df.lazy().select(pl.col("x").rle().alias("r")).collect().to_a()
    runs = [(r["r"]["len"], r["r"]["value"]) for r in out]
    assert runs == [(2, 1), (3, 2), (1, 1), (2, None), (1, 3)]


def test_group_by_dynamic_start_by(spark):
    """lazy_frame.rb start_by: 'datapoint' anchors each group's window grid
    at its first point; weekday names align weekly windows."""
    import datetime as dtm

    ev = pl.from_hash({"ts": [dtm.datetime(2024, 1, 1, 0, 37),
                              dtm.datetime(2024, 1, 1, 1, 10),
                              dtm.datetime(2024, 1, 1, 2, 40)], "v": [1, 2, 3]})
    out = ev.lazy().group_by_dynamic("ts", every="1h", start_by="datapoint").agg(
        pl.col("v").sum().alias("s")).sort("ts").collect().to_a()
    assert [(r["ts"].minute, r["s"]) for r in out] == [(37, 3), (37, 3)]

    ev2 = pl.from_hash({"ts": [dtm.datetime(2024, 1, 3), dtm.datetime(2024, 1, 9)]})
    out2 = ev2.lazy().group_by_dynamic("ts", every="1w", start_by="monday").agg(
        pl.len().alias("n")).sort("ts").collect().to_a()
    assert [r["ts"].day for r in out2] == [1, 8]  # Mondays

    ev3 = pl.from_hash({"g": ["a", "a", "b"],
                        "ts": [dtm.datetime(2024, 1, 1, 0, 10),
                               dtm.datetime(2024, 1, 1, 0, 50),
                               dtm.datetime(2024, 1, 1, 0, 45)]})
    out3 = ev3.lazy().group_by_dynamic("ts", every="1h", by="g",
                                       start_by="datapoint").agg(
        pl.len().alias("n")).sort("g").collect().to_a()
    assert [(r["g"], r["ts"].minute, r["n"]) for r in out3] == [("a", 10, 2), ("b", 45, 1)]


def test_reference_doctest_parity_batch19(spark):
    """Nineteenth harvest batch (testing/meta/date_time tests):
    assert_frame_equal checks dtypes by default with the reference's
    messages (testing_test.rb), calendar offset_by preserves time-of-day,
    SQLContext kwargs registration, meta pop/root_names on bare cols."""
    import datetime as dtm

    import pytest as _pytest

    import polars_ruby_spark as pl
    from polars_ruby_spark.testing import (
        assert_frame_equal, assert_frame_not_equal, assert_series_not_equal)

    df = pl.DataFrame({"a": [1, 2, 3]})
    assert_frame_equal(df, df)
    with _pytest.raises(AssertionError, match="dtypes do not match"):
        assert_frame_equal(df, pl.DataFrame({"a": [1.0, 2.0, 3.0]}))
    assert_frame_equal(df, pl.DataFrame({"a": [1.0, 2.0, 3.0]}),
                       check_dtype=False)
    with _pytest.raises(AssertionError, match=r"in left DataFrames"):
        assert_frame_equal(df, pl.DataFrame({"b": [1, 2, 3]}))
    with _pytest.raises(AssertionError, match="frames are equal"):
        assert_frame_not_equal(df, df)
    with _pytest.raises(AssertionError, match="Series are equal"):
        assert_series_not_equal(pl.Series([1, 2]), pl.Series([1, 2]))

    t = pl.DataFrame({"a": [dtm.datetime(2024, 3, 15, 10, 30, 45)]})
    out = t.select(pl.col("a").dt.offset_by("1y").alias("x"),
                   pl.col("a").dt.offset_by("-1y2mo").alias("y")).to_a()[0]
    assert out["x"] == dtm.datetime(2025, 3, 15, 10, 30, 45)
    assert out["y"] == dtm.datetime(2023, 1, 15, 10, 30, 45)

    res = pl.SQLContext(frame=pl.LazyFrame({"a": [1, 2, 3],
                                            "b": ["x", None, "z"]})).execute(
        "SELECT b, a*2 AS two_a FROM frame WHERE b IS NOT NULL")
    assert res.collect().to_a() == [{"b": "x", "two_a": 2},
                                    {"b": "z", "two_a": 6}]

    assert pl.col("a").meta.pop() == []
    assert pl.col("a").meta.root_names() == ["a"]
    assert pl.col("a").meta.output_name() == "a"


def test_session_disables_dataframe_debugging(spark):
    """The bootstrap turns off PySpark 4's per-call call-site capture
    (spark.python.sql.dataFrameDebugging.enabled): each wrapped DataFrame/
    Column call otherwise pays ~3 py4j round-trips of pure driver overhead
    — measured 30-40% of plan-construction time on expression-heavy
    operators (round-11).  Engine errors carry their own operator context,
    so nothing user-visible depends on the enriched call sites."""
    from pyspark.sql import SparkSession

    from polars_ruby_spark.session import configure

    opts = configure(SparkSession.builder)._options
    assert opts.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    # ... and the JVM-side twin (Origin capture with a walked stack trace
    # per Dataset/Column op — ~20-25% of every plan construct, round-11)
    assert opts.get("spark.sql.dataFrameQueryContext.enabled") == "false"
    # the live test session inherited it, and errors still surface normally
    assert spark.conf.get(
        "spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert spark.conf.get(
        "spark.sql.dataFrameQueryContext.enabled") == "false"
    # the generated-code cache holds the engine's working set, and its keys
    # carry no AQE stage id in the class name
    from polars_ruby_spark.session import _CODEGEN_CACHE_ENTRIES

    assert opts.get("spark.sql.codegen.cache.maxEntries") == str(
        _CODEGEN_CACHE_ENTRIES)
    assert opts.get("spark.sql.codegen.useIdInClassName") == "false"
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        _CODEGEN_CACHE_ENTRIES)
    assert spark.conf.get("spark.sql.codegen.useIdInClassName") == "false"
    import pytest as _pytest
    with _pytest.raises(Exception):
        spark.sql("select definitely_not_a_column from range(1)").collect()


def test_codegen_cache_keeps_the_working_set(spark, sf_dir):
    """A second round of the interactive attach/ewm queries compiles no
    generated class.  One round uses more classes than Spark's default
    cache of 100 holds, so with Spark's defaults each class is evicted
    before the next round needs it, and q165's pipelines also miss because
    AQE numbers its codegen stages differently from run to run, which put
    a different stage id into each class name."""
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as e

    qs = e.queries()
    names = ("q107_global_ordinals", "q132_ewm_single_series",
             "q165_ungrouped_rank_attach", "q166_ungrouped_fills_lag_attach")
    compiles = (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
                .METRIC_COMPILATION_TIME())

    def one_round():
        for name in names:
            qs[name](spark, sf_dir).toPandas()

    one_round()
    before = compiles.getCount()
    one_round()
    assert compiles.getCount() - before == 0


def test_session_env_counts_reject_malformed(monkeypatch):
    """SPARK_GRAFT_CPUS takes ``*`` or a positive integer and
    SPARK_GRAFT_SHUFFLE a positive integer; anything else is a ValueError
    naming the variable, raised before any session starts."""
    import pytest

    from polars_ruby_spark.session import _env_count

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert _env_count("SPARK_GRAFT_CPUS", "*", star=True) == "*"
    for ok in ("*", "3", " 2 "):
        monkeypatch.setenv("SPARK_GRAFT_CPUS", ok)
        assert _env_count("SPARK_GRAFT_CPUS", "*", star=True) == ok.strip()
    for bad in ("", "0", "-2", "2.5", "four", "4]", "local[4]", "\u0663"):
        monkeypatch.setenv("SPARK_GRAFT_CPUS", bad)
        with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
            _env_count("SPARK_GRAFT_CPUS", "*", star=True)
    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE", "16")
    assert _env_count("SPARK_GRAFT_SHUFFLE", "32") == "16"
    for bad in ("*", "0", "1e3", "sixteen"):
        monkeypatch.setenv("SPARK_GRAFT_SHUFFLE", bad)
        with pytest.raises(ValueError, match="SPARK_GRAFT_SHUFFLE"):
            _env_count("SPARK_GRAFT_SHUFFLE", "32")


def test_session_respects_user_blas_threads(monkeypatch):
    """The bootstrap pins each of OMP/OPENBLAS/MKL_NUM_THREADS to 1 in the
    Python workers only when the driver's environment does not set it."""
    from pyspark.sql import SparkSession

    from polars_ruby_spark.session import configure

    names = ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS")
    for name in names:
        monkeypatch.delenv(name, raising=False)
    opts = configure(SparkSession.builder)._options
    assert {n: opts.get(f"spark.executorEnv.{n}") for n in names} == dict.fromkeys(names, "1")
    monkeypatch.setenv("OPENBLAS_NUM_THREADS", "4")
    opts = configure(SparkSession.builder)._options
    assert {n: opts.get(f"spark.executorEnv.{n}") for n in names} == {
        "OMP_NUM_THREADS": "1", "OPENBLAS_NUM_THREADS": None, "MKL_NUM_THREADS": "1"}


def test_session_memoizes_jvm_reflection(spark):
    """The bootstrap memoizes PySpark's per-call JVM reflection: every
    ``F.*`` builtin otherwise re-resolves the static ``functions`` member
    through two py4j reflection round-trips, and every ``_to_seq``/
    ``_to_list`` re-resolves ``PythonUtils.toSeq``/``toList`` the same way
    — together ~40% of the py4j traffic of an attach-family plan construct
    (round-11).  The cached JavaMembers are immutable per gateway, keyed on
    the live ``sc._jvm`` identity."""
    from pyspark.sql import functions as F
    from pyspark.sql.classic import column as _ccol
    from pyspark.sql.functions import builtin as _builtin

    assert getattr(_builtin._get_jvm_function, "_plsq_cached", False)
    sc = spark.sparkContext
    # memoized: same JavaMember object on repeat resolution
    m1 = _builtin._get_jvm_function("upper", sc)
    m2 = _builtin._get_jvm_function("upper", sc)
    assert m1 is m2
    # and the resolved members still work end-to-end
    df = spark.range(3).select(
        F.upper(F.lit("ab")).alias("u"),
        (F.col("id") + 1).alias("n"))
    rows = df.collect()
    assert [r["u"] for r in rows] == ["AB"] * 3
    assert [r["n"] for r in rows] == [1, 2, 3]
    # the seq bridge round-trips a multi-column select correctly
    out = _ccol._to_seq(sc, [F.col("id")._jc, F.lit(5)._jc])
    assert out.length() == 2


def test_list_eval_moments_match_direct_agg(spark):
    """Round-11: _arr_reduce's skew/kurtosis bind the mean and moments as
    lambda variables (the captured-subtree form re-evaluated the O(d) mean
    PER ELEMENT — O(d²) per row).  Values must stay bit-identical to
    Spark's skewness/kurtosis aggregates over the same elements."""
    import math

    import pytest
    from pyspark.sql import functions as F

    rows = [
        [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0],
        [1.0, 1.0, 1.0],            # zero variance -> null
        [2.5, None, 7.0, -1.0],     # null element excluded
        [4.2],                      # single element
    ]
    df = pl.from_hash({"k": list(range(len(rows))), "v": rows})
    got = {r["k"]: r for r in df.lazy().select(
        pl.col("k"),
        pl.col("v").list.eval(pl.element().skew()).list.first().alias("sk"),
        pl.col("v").list.eval(pl.element().kurtosis()).list.first().alias("ku"),
    ).collect().to_a()}
    sdf = spark.createDataFrame(
        [(i, v) for i, vals in enumerate(rows) for v in vals
         if v is not None], ["k", "v"])
    ref = {r["k"]: r for r in sdf.groupBy("k").agg(
        F.skewness("v").alias("sk"), F.kurtosis("v").alias("ku")).collect()}
    for k in got:
        for c in ("sk", "ku"):
            g, e = got[k][c], ref[k][c]
            if e is None or (isinstance(e, float) and math.isnan(e)):
                assert g is None or (isinstance(g, float) and math.isnan(g))
            else:
                assert g == pytest.approx(e, abs=1e-12), (k, c, g, e)

"""Frame-level convenience ops (SURVEY §2.8 encoding / §2.7 / exports)."""

import polars_ruby_spark as pl


def test_transpose(spark):
    df = pl.from_hash({"a": [1, 2], "b": [3, 4]}).collect()
    t = df.transpose(include_header=True)
    rows = {r["column"]: r for r in t.to_a()}
    assert set(rows) == {"a", "b"}
    assert [rows["a"][c] for c in t.columns if c != "column"] == [1, 2]


def test_describe(spark, orders):
    d = orders.collect().describe()
    rows = {r[d.columns[0]]: r for r in d.to_a()}
    assert "mean" in rows and "max" in rows and "null_count" in rows


def test_partition_by(spark, orders):
    parts = orders.collect().partition_by("o_orderstatus", as_dict=True)
    assert len(parts) >= 2
    for k, f in parts.items():
        vals = {r["o_orderstatus"] for r in f.to_a()}
        assert vals == {k if not isinstance(k, tuple) else k[0]}


def test_sample_deterministic_bounds(spark, orders):
    full = orders.collect().height
    s = orders.collect().sample(fraction=0.2, seed=42)
    assert 0 < s.height < full
    s2 = orders.collect().sample(fraction=0.2, seed=42)
    assert s.height == s2.height  # same seed, same plan


def test_hash_rows(spark):
    df = pl.from_hash({"a": [1, 2, 1], "b": ["x", "y", "x"]}).collect()
    h = df.hash_rows()
    vals = h.to_list()
    assert vals[0] == vals[2] and vals[0] != vals[1]


def test_align_frames(spark):
    a = pl.from_hash({"k": [1, 2], "v": [10, 20]})
    b = pl.from_hash({"k": [2, 3], "w": [200, 300]})
    fa, fb = pl.align_frames(a, b, on="k")
    ka = [r["k"] for r in fa.collect().to_a()]
    kb = [r["k"] for r in fb.collect().to_a()]
    assert ka == kb == [1, 2, 3]


def test_with_context(spark):
    a = pl.from_hash({"x": [1, 2, 3]})
    b = pl.from_hash({"y": [10.0]})
    out = a.lazy().with_context(b.lazy()).select(
        (pl.col("x") + pl.col("y")).alias("s")).collect()
    assert [r["s"] for r in out.to_a()] == [11.0, 12.0, 13.0]


def test_collect_all(spark, orders):
    l1 = orders.select("o_orderkey")
    l2 = orders.group_by("o_orderstatus").agg(pl.len().alias("n"))
    r1, r2 = pl.collect_all([l1, l2])
    assert r1.height > 0 and r2.height >= 1


def test_glimpse_and_estimated_size(spark, orders):
    df = orders.limit(10).collect()
    text = df.glimpse()
    assert "o_orderkey" in str(text)
    assert df.estimated_size() > 0


def test_unstack(spark):
    df = pl.from_hash({"x": [1, 2, 3, 4, 5, 6]}).collect()
    out = df.unstack(step=3)
    rows = out.to_a()
    assert out.columns == ["x_0", "x_1"]
    assert [r["x_0"] for r in rows] == [1, 2, 3]
    assert [r["x_1"] for r in rows] == [4, 5, 6]
    outh = df.unstack(step=3, how="horizontal")
    rh = outh.to_a()
    assert [r["x_0"] for r in rh] == [1, 3, 5]
    assert [r["x_1"] for r in rh] == [2, 4, 6]


def test_plan_pushdown_guard(spark, sf_dir):
    """Regression guard: filters and projections must reach the parquet scan
    (no UDF-above-scan pattern; SURVEY §4.1)."""
    lf = pl.scan_parquet(sf_dir + "/orders.parquet", spark=spark)
    plan = (lf.filter(pl.col("o_totalprice") > 1000.0)
            .select("o_orderkey", "o_totalprice")
            .to_spark()._jdf.queryExecution().executedPlan().toString())
    assert "PushedFilters: [" in plan and "GreaterThan(o_totalprice,1000.0)" in plan
    assert "ReadSchema" in plan
    import re
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and len(m.group(1).split(",")) == 2  # only the 2 selected cols


def test_dataframe_constructor_variants(spark):
    """DataFrame.new parity (data_frame.rb:41): hash, rows, pandas, empty."""
    import pandas as pd

    assert pl.DataFrame({"a": [1, 2, 3]}).filter(pl.col("a") > 1).height == 2
    assert pl.DataFrame([{"a": 1}, {"a": 2}]).height == 2
    assert pl.DataFrame().shape == (0, 0)
    assert pl.DataFrame(pd.DataFrame({"x": [1.5]})).to_a() == [{"x": 1.5}]
    lf = pl.LazyFrame({"a": [1, 2]})
    assert lf.select(pl.col("a").sum().alias("s")).collect().to_a() == [{"s": 3}]


def _plan(sdf) -> str:
    return sdf._jdf.queryExecution().executedPlan().toString()


def test_plan_small_dim_join_broadcasts(spark, sf_dir):
    """Joining the nation dim must plan a BroadcastHashJoin — a shuffled
    SortMergeJoin on a 25-row dim would shuffle the big side for nothing."""
    cust = pl.scan_parquet(sf_dir + "/customer.parquet", spark=spark)
    nat = pl.scan_parquet(sf_dir + "/nation.parquet", spark=spark)
    j = cust.join(nat, left_on="c_nationkey", right_on="n_nationkey")
    plan = _plan(j.to_spark())
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_plan_cosine_topk_no_cartesian(spark, sf_dir):
    """ANN scoring must not plan a cartesian/nested-loop pair explosion —
    the corpus is scanned once and scored in Arrow batches (SCALE.md)."""
    from polars_ruby_spark.operators import similarity

    e = pl.scan_parquet(sf_dir + "/embeddings.parquet", spark=spark)._sdf
    q = e.limit(10)
    plan = _plan(similarity.cosine_topk(q, e, k=3))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "MapInPandas" in plan


def test_plan_dynamic_closed_both_single_shuffle(spark, sf_dir):
    """closed=both enumeration must stay one hash-agg shuffle — the explode
    is partition-local (no extra Exchange beyond the aggregate's own).
    The polars sorted-output contract (r11) is a DEFERRED order spec: the
    raw plan stays one Exchange; the export view adds at most the order
    restore's range exchange over the already-aggregated output."""
    ev = pl.scan_parquet(sf_dir + "/events.parquet", spark=spark)
    out = ev.group_by_dynamic("ts", every="1h", closed="both").agg(
        pl.len().alias("n"))
    raw = _plan(out._raw_spark() if hasattr(out, "_raw_spark")
                else out._sdf_raw)
    assert raw.count("Exchange") == 1
    assert "Generate explode" in raw  # the candidate-start enumeration
    plan = _plan(out.to_spark())
    assert plan.count("Exchange") <= 2  # + the deferred order restore


def test_frame_container_surface(spark):
    """data_frame.rb container ops: get_columns/fold/insert/replace/clear…"""
    df = pl.DataFrame({"a": [1, 2, 3], "b": [4.0, 0.5, 2.0]})
    assert [s.name for s in df.get_columns()] == ["a", "b"]
    assert df.get_column_index("b") == 1
    assert not df.is_empty() and df.clear().shape == (0, 2)
    assert df.clear(2).to_a() == [{"a": None, "b": None}] * 2
    assert df.equals(pl.DataFrame({"a": [1, 2, 3], "b": [4.0, 0.5, 2.0]}))
    assert not df.equals(df.clear(3))
    assert df.n_unique() == 3 and pl.DataFrame({"x": [1, 1, 2]}).n_unique() == 2
    assert df.product().to_a() == [{"a": 6.0, "b": 4.0}]
    assert df.fold(lambda a, b: a + b).to_list() == [5.0, 2.5, 5.0]
    assert next(df.each_row()) == {"a": 1, "b": 4.0}

    d2 = pl.DataFrame({"a": [1, 2, 3]})
    d2.insert_column(1, pl.Series("z", [9, 8, 7]))
    assert d2.columns == ["a", "z"]
    assert d2.drop_in_place("z").to_list() == [9, 8, 7]
    assert d2.columns == ["a"]
    d2.replace("a", pl.Series("a", [5, 5, 5]))
    assert d2.to_a() == [{"a": 5}] * 3

    lf = pl.LazyFrame({"x": [1.0, None, 3.0]})
    assert [r["x"] for r in lf.interpolate().collect().to_a()] == [1.0, 2.0, 3.0]
    assert lf.set_sorted("x") is lf


def test_series_container_surface(spark):
    """series.rb-specific ops that can't delegate to the Expr layer."""
    s = pl.Series("a", [1, 2, 3])
    # append MUTATES the receiver (series_test.rb) — use a throwaway
    assert pl.Series("a", [1, 2, 3]).append(
        pl.Series("b", [4, 5])).to_list() == [1, 2, 3, 4, 5]
    assert s.extend_constant(9, 2).to_list() == [1, 2, 3, 9, 9]
    assert s.zip_with(pl.Series("m", [True, False, True]),
                      pl.Series("o", [10, 20, 30])).to_list() == [1, 20, 3]
    assert s.new_from_index(1, 3).to_list() == [2, 2, 2]
    assert s.scatter([0, 2], [100, 300]).to_list() == [100, 2, 300]
    assert s.set(pl.Series("m", [False, True, False]), 0).to_list() == [1, 0, 3]
    assert pl.Series("x", [1, None, 3]).eq_missing(
        pl.Series("y", [1, None, 4])).to_list() == [True, True, False]
    assert pl.Series("t", [False, True, True]).arg_true().to_list() == [1, 2]
    assert s.is_numeric() and not s.is_float() and not s.is_utf8()
    assert not s.has_validity()
    assert s.equals(pl.Series("z", [1, 2, 3])) and not s.equals(s.clear(3))
    assert list(s.each()) == [1, 2, 3]
    assert s.clear().to_list() == [] and s.clear(2).to_list() == [None, None]
    assert s.to_numpy().tolist() == [1, 2, 3]


def test_cube_rollup_extension(spark):
    """group_by_cube/rollup: grouping sets in one pass (Spark extension)."""
    df = pl.from_hash({"a": ["x", "x", "y"], "b": [1, 2, 1], "v": [10, 20, 30]})
    cube = df.lazy().group_by_cube("a", "b").agg(pl.len().alias("n")).collect()
    assert cube.height == 8  # 3 data pairs + 2 a-subs + 2 b-subs + total
    total = [r for r in cube.to_a() if r["a"] is None and r["b"] is None]
    assert total[0]["n"] == 3
    roll = df.lazy().group_by_rollup("a", "b").agg(pl.len().alias("n")).collect()
    assert roll.height == 6  # (a,b) pairs + per-a subtotals + grand total

    # round-5: pre-stage aggs (spearman, cumulative_eval) under cube/rollup
    # via grouping-set expansion — each set a plain groupBy with its own
    # pre-stage, subtotal keys null-filled, unioned
    from polars_ruby_spark import functions as plf

    sp = pl.DataFrame({
        "g": ["a"] * 4 + ["b"] * 4,
        "u": [1.0, 2.0, 3.0, 4.0] * 2,
        "v": [1.0, 4.0, 9.0, 16.0, 16.0, 9.0, 4.0, 1.0],
    })
    out = (sp.lazy().group_by_rollup("g")
           .agg(plf.corr(pl.col("u"), pl.col("v"),
                         method="spearman").alias("s"),
                pl.len().alias("n"))
           .collect().to_a())
    got = {r["g"]: (r["s"], r["n"]) for r in out}
    assert got == {"a": (1.0, 4), "b": (-1.0, 4), None: (0.0, 8)}
    ce = (sp.lazy().group_by_rollup("g")
          .agg(pl.col("u").cumulative_eval(pl.element().sum()).alias("cs"))
          .collect().to_a())
    cs = {r["g"]: r["cs"] for r in ce}
    assert cs["a"] == [1.0, 3.0, 6.0, 10.0]
    assert cs[None] == [1.0, 3.0, 6.0, 10.0, 11.0, 13.0, 16.0, 20.0]


def test_exceptions_and_row_by_predicate(spark):
    """row(by_predicate:) raises the reference's exception hierarchy
    (data_frame.rb:4378-4412, exceptions.rb:1-33)."""
    import pytest

    df = pl.from_hash({"foo": [1, 2, 3], "bar": [6, 7, 8], "ham": ["a", "b", "c"]})
    assert df.row(2) == (3, 8, "c")
    assert df.row(2, named=True) == {"foo": 3, "bar": 8, "ham": "c"}
    assert df.row(by_predicate=pl.col("ham") == "b") == (2, 7, "b")
    with pytest.raises(pl.TooManyRowsReturned):
        df.row(by_predicate=pl.col("foo") > 1)
    with pytest.raises(pl.NoRowsReturned):
        df.row(by_predicate=pl.col("foo") > 99)
    with pytest.raises(pl.RowsException):
        df.row(by_predicate=pl.col("foo") > 99)
    assert issubclass(pl.NoRowsReturned, pl.RowsException)
    assert issubclass(pl.RowsException, pl.Error)
    with pytest.raises(ValueError):
        df.row(1, by_predicate=pl.col("foo") > 1)
    with pytest.raises(ValueError):
        df.row()
    assert str(pl.Todo()) == "not implemented yet"


def test_reshape(spark):
    """Expr/Series reshape (expr.rb:6233): 2-D fold, -1 inference, flatten
    roundtrip, exact-division validation, sole-expression rule."""
    import pytest

    df = pl.DataFrame({"foo": list(range(1, 10))})
    sq = df.lazy().select(pl.col("foo").reshape([3, 3])).collect()
    assert [list(v) for v in sq.to_h()["foo"]] == [[1, 2, 3], [4, 5, 6], [7, 8, 9]]
    flat = sq.lazy().select(pl.col("foo").reshape([9])).collect()
    assert flat.to_h()["foo"] == list(range(1, 10))
    inf = df.lazy().select(pl.col("foo").reshape([-1, 3]).alias("rows")).collect()
    assert [list(v) for v in inf.to_h()["rows"]] == [[1, 2, 3], [4, 5, 6], [7, 8, 9]]
    assert pl.Series("a", [1, 2, 3, 4]).reshape([2, 2]).to_list() == [[1, 2], [3, 4]]
    with pytest.raises(ValueError):
        df.lazy().select(pl.col("foo").reshape([4, 2])).collect()
    with pytest.raises(pl.InvalidOperationError):
        df.lazy().select(pl.col("foo").reshape([3, 3]), pl.col("foo"))


def test_expr_value_counts_sample_append(spark):
    """Row-count-changing Expr ops (expr.rb:6526/6338/813): value_counts
    struct output + sort/normalize, seeded deterministic sample, append."""
    df = pl.DataFrame({"id": ["a", "b", "b", "c", "c", "c"],
                       "x": [1, 2, 3, 4, 5, 6]})
    vc = df.select(pl.col("id").value_counts(sort=True)).to_a()
    assert [r["id"] for r in vc] == [{"id": "c", "count": 3},
                                     {"id": "b", "count": 2},
                                     {"id": "a", "count": 1}]
    norm = df.select(pl.col("id").value_counts(normalize=True, sort=True)).to_a()
    assert abs(norm[0]["id"]["proportion"] - 0.5) < 1e-12

    s1 = df.select(pl.col("x").sample(n=3, seed=1)).to_a()
    s2 = df.select(pl.col("x").sample(n=3, seed=1)).to_a()
    assert len(s1) == 3 and s1 == s2  # seeded → deterministic
    fr = df.select(pl.col("x").sample(frac=0.5, seed=7)).to_a()
    assert 0 < len(fr) < 6

    ap = df.select(pl.col("x").append(pl.col("x"))).to_a()
    assert [r["x"] for r in ap] == [1, 2, 3, 4, 5, 6] * 2
    up = df.select(pl.col("x").append(pl.col("id"))).to_a()  # upcast → str
    assert [r["x"] for r in up] == ["1", "2", "3", "4", "5", "6",
                                    "a", "b", "b", "c", "c", "c"]


def test_plan_summary(spark, orders):
    from polars_ruby_spark.plans import plan_summary

    lf = orders.filter(pl.col("o_totalprice") > 1000).group_by(
        "o_orderstatus").agg(pl.len().alias("n"))
    s = plan_summary(lf)
    assert s["exchanges"] == 1 and s["pushed_filters"]
    assert s["python_stages"] == 0 and s["scans"] >= 1


def test_aqe_skew_join_splits_hot_partition(spark):
    """The session defaults (adaptive.skewJoin on) split a hot join key at
    runtime: final adaptive plan carries SortMergeJoin(skew=true) — the
    safety net for skewed keys the static planner can't see (SCALE.md)."""
    from pyspark.sql import functions as F

    saved = {k: spark.conf.get(k, None) for k in
             ["spark.sql.autoBroadcastJoinThreshold",
              "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
              "spark.sql.adaptive.advisoryPartitionSizeInBytes",
              "spark.sql.adaptive.skewJoin.skewedPartitionFactor"]}
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32KB")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        left = (spark.range(500_000)
                .withColumn("k", F.when(F.col("id") % 10 < 9, 0)
                            .otherwise(F.col("id") % 1000))
                .withColumn("pay", F.md5(F.col("id").cast("string"))))
        right = spark.range(1000).withColumn("k", F.col("id") % 1000)
        j = left.join(right, "k", "inner").groupBy().count()
        assert j.collect()[0][0] == 500_000
        s = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in s
        assert "skew=true" in s
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_arg_sort_paths_and_spearman(spark):
    """arg_sort: sole-select = scalable sort projection; grouped over() =
    bounded ordered-collect remap; spearman corr = two-stage rank+corr."""
    import pytest

    from polars_ruby_spark import functions as plf

    df = pl.DataFrame({"g": ["a", "a", "b", "b"], "v": [3.0, 1.0, 4.0, 2.0]})
    perm = df.select(pl.col("v").arg_sort()).to_a()
    assert [r["v"] for r in perm] == [1, 3, 0, 2]
    # polars evaluates over() per sub-series: indices are GROUP-LOCAL
    grouped = df.with_columns(pl.col("v").arg_sort().over("g").alias("p")).to_a()
    assert [r["p"] for r in grouped] == [1, 0, 1, 0]
    with pytest.raises(pl.InvalidOperationError):
        df.select(pl.col("v").arg_sort(), pl.col("g"))  # ungrouped wide use

    sp = pl.DataFrame({"x": [1.0, 2.0, 3.0, 4.0], "y": [1.0, 4.0, 9.0, 16.0]})
    out = sp.select(plf.corr(pl.col("x"), pl.col("y"),
                             method="spearman").alias("s")).to_a()
    assert abs(out[0]["s"] - 1.0) < 1e-9  # monotone → spearman exactly 1


def test_arg_sort_by_sole_select(spark):
    from polars_ruby_spark import functions as plf

    df = pl.DataFrame({"a": [3, 1, 2], "b": [1, 1, 0]})
    out = df.select(plf.arg_sort_by([pl.col("b"), pl.col("a")]).alias("i")).to_a()
    assert [r["i"] for r in out] == [2, 1, 0]  # sort by (b, a)


def test_list_eval_rank_kernel_parity(spark):
    """Round-11: element().rank() (average) and rank/count normalizations
    inside list.eval run in the vectorized Arrow kernel instead of the
    O(d²) per-element HOF.  Values must match the HOF route bit-for-bit
    across ties, nulls, NaN, ±inf, ±0 and both directions; the kernel
    node must actually be planned; pure aggregates keep the
    one-element-list route."""
    import struct

    nan = float("nan")
    lists = [[3.0, 1.0, 2.0, 2.0, 5.0], [1.0, 1.0, 1.0],
             [nan, 1.0, nan, 2.0], [None, 3.0, None, 1.0, 3.0],
             [], None, [7.5],
             [float("inf"), -float("inf"), 0.0, -0.0, nan, None]]
    df = pl.DataFrame({"id": list(range(len(lists))), "v": lists})

    def bits(x):
        return None if x is None else struct.pack("<d", x)

    for desc in (False, True):
        kern_e = pl.element().rank(descending=desc) / pl.col("").count()
        hof_e = pl.element().rank(descending=desc) / pl.col("").count()
        hof_e._np_prog = None  # force the interpreted HOF route
        q = df.select(pl.col("id"), pl.col("v").list.eval(kern_e).alias("r"))
        plan = q.lazy()._sdf._jdf.queryExecution() \
            .executedPlan().toString()
        assert "ArrowEvalPython" in plan or "EvalPython" in plan, plan[:400]
        got = {r["id"]: r["r"] for r in q.to_a()}
        exp = {r["id"]: r["r"] for r in df.select(
            pl.col("id"), pl.col("v").list.eval(hof_e).alias("r")).to_a()}
        for i in got:
            if exp[i] is None:
                assert got[i] is None
                continue
            assert len(got[i]) == len(exp[i]), (desc, i)
            for g, e in zip(got[i], exp[i]):
                assert bits(g) == bits(e), (desc, i, got[i], exp[i])
    # pure aggregate still yields the one-element list, not a broadcast
    pure = df.select(pl.col("v").list.eval(pl.col("").count()).alias("c"))
    assert [r["c"] for r in pure.to_a()][:4] == [[5], [3], [4], [3]]


def test_ungrouped_quantile_selection_parity(spark):
    """Round-11: whole-frame exact median/quantile run as distributed
    selection over the distinct-value prefix table (a percentile buffer
    per distinct key exploded q21 to 38 s at sf1.0).  The selection's
    arithmetic must replicate Spark's Percentile (linear) and
    _q_from_sorted (other modes) BIT-for-bit, across ties, single rows,
    infinities, ints and nulls — and the median must come back as a
    plan literal (no percentile aggregate anywhere in the plan)."""
    import random
    import struct

    from pyspark.sql import functions as F

    rng = random.Random(23)
    cases = []
    for n in (1, 2, 3, 4, 7, 50):
        cases.append([rng.uniform(-1e6, 1e6) for _ in range(n)])
        cases.append([float(rng.randint(-3, 3)) for _ in range(n)])  # ties
    cases.append([float("inf"), 1.0, -float("inf"), 2.0, 2.0])
    cases.append([1.0, None, 3.0, None, 2.0])
    # (an all-null NullType column folds element_at(arr, 0) at analysis
    # and errors on the non-linear modes — pre-existing behavior on both
    # the aggregate and the selection path, not asserted here)

    def bits(x):
        return None if x is None else struct.pack("<d", x)

    for vals in cases:
        df = pl.DataFrame({"v": vals})
        for q, interp in ((0.5, "median"), (0.25, "linear"), (0.9, "linear"),
                          (1.0, "linear"), (0.0, "lower"), (0.37, "lower"),
                          (0.37, "higher"), (0.37, "midpoint"),
                          (0.37, "nearest"), (0.5, "nearest")):
            if interp == "median":
                got = df.select(pl.col("v").median().alias("m")).to_a()[0]["m"]
                exp = df.lazy()._sdf.agg(F.median("v")).collect()[0][0]
            else:
                got = df.select(pl.col("v").quantile(q, interp)
                                .alias("m")).to_a()[0]["m"]
                sdf = df.lazy()._sdf
                if interp == "linear":
                    exp = sdf.agg(F.percentile("v", F.lit(q))).collect()[0][0]
                else:
                    from polars_ruby_spark.exprs import _q_from_sorted
                    arr = F.array_sort(F.filter(
                        F.collect_list("v"), lambda x: x.isNotNull()))
                    e = F.when(F.size(arr) > 0,
                               _q_from_sorted(arr, q, interp)).cast("double")
                    exp = sdf.agg(e).collect()[0][0]
            assert bits(got) == bits(exp), (vals, q, interp, got, exp)
    # int columns keep the double result dtype of the aggregate path
    from pyspark.sql import types as T

    di = pl.DataFrame({"v": [3, 1, 2]})
    out = di.select(pl.col("v").median().alias("m"))
    assert out.schema["m"] == T.DoubleType()
    assert out.to_a()[0]["m"] == 2.0
    # the q21 shape (n_unique + median in one select) must carry NO
    # percentile aggregate — the buffer-per-distinct-key rewrite is gone
    big = pl.DataFrame({"k": [1, 1, 2, 2, 3], "v": [1.0, 2.0, 3.0, 4.0, 5.0]})
    q21ish = big.select(pl.col("k").n_unique().alias("nu"),
                        pl.col("v").median().alias("m"))
    plan = q21ish.lazy()._sdf._jdf.queryExecution().optimizedPlan().toString()
    assert "percentile" not in plan and "median" not in plan
    assert q21ish.to_a() == [{"nu": 3, "m": 3.0}]


def test_ungrouped_spearman_rank_join_no_funnel(spark):
    """Round-11: the ungrouped-spearman sub-job ranks BOTH columns via
    distinct-prefix tables (global_avg_rank_join_multi) — previously two
    keyless rank windows funneled the whole frame through one task.
    Values (ties, nulls) must match brute-force average ranks, and the
    sub-job's plan must keep every window keyed on internal columns."""
    import math
    import re

    from polars_ruby_spark import functions as plf
    from polars_ruby_spark.operators.row_index import (
        global_avg_rank_join_multi)

    xs = [3.0, 1.0, 3.0, None, 2.0, 3.0, 1.0]
    ys = [10.0, 30.0, 10.0, 5.0, None, 20.0, 30.0]
    sdf = spark.createDataFrame(
        [(x, y) for x, y in zip(xs, ys)], "x double, y double")
    out = global_avg_rank_join_multi(sdf, [("x", "rx"), ("y", "ry")])
    rows = out.orderBy("x", "y").collect()

    def brute_avg(vals, v):
        nn = sorted(w for w in vals if w is not None)
        lo = sum(1 for w in nn if w < v)
        hi = sum(1 for w in nn if w <= v)
        return (lo + hi + 1) / 2

    for r in rows:
        for c, vals, rc in (("x", xs, "rx"), ("y", ys, "ry")):
            if r[c] is None:
                assert r[rc] is None
            else:
                assert r[rc] == brute_avg(vals, r[c]), (c, r)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    for line in plan.splitlines():
        m = re.search(r"windowspecdefinition\(([^)]*)\)", line)
        if m and "__rix_pid__" not in m.group(1) \
                and "__gr_" not in m.group(1):
            raise AssertionError(f"keyless data window: {line.strip()}")
    # end-to-end: spearman with ties/nulls equals pearson of brute ranks
    df = pl.DataFrame({"x": xs, "y": ys})
    s = df.select(plf.corr(pl.col("x"), pl.col("y"),
                           method="spearman").alias("s")).to_a()[0]["s"]
    pairs = [(brute_avg(xs, x), brute_avg(ys, y))
             for x, y in zip(xs, ys) if x is not None and y is not None]
    n = len(pairs)
    mx = sum(p[0] for p in pairs) / n
    my = sum(p[1] for p in pairs) / n
    cov = sum((p[0] - mx) * (p[1] - my) for p in pairs)
    sx = math.sqrt(sum((p[0] - mx) ** 2 for p in pairs))
    sy = math.sqrt(sum((p[1] - my) ** 2 for p in pairs))
    assert abs(s - cov / (sx * sy)) < 1e-12


def test_spearman_grouped_agg_raises(spark):
    """group_by().agg(spearman) computes per-group (round-4 _agg_pre_fn:
    ranks over key-partitioned windows, then one pearson hash agg) and
    matches the manual pre-ranked pearson rewrite."""
    from polars_ruby_spark import functions as plf

    df = pl.DataFrame({
        "g": ["a"] * 4 + ["b"] * 4,
        "x": [1.0, 2.0, 3.0, 4.0] * 2,
        "y": [1.0, 4.0, 9.0, 16.0, 16.0, 9.0, 4.0, 1.0],  # +1 in a, -1 in b
    })
    direct = (df.group_by("g").agg(
        plf.corr(pl.col("x"), pl.col("y"), method="spearman").alias("s"))
        .sort("g").to_a())
    assert abs(direct[0]["s"] - 1.0) < 1e-9 and abs(direct[1]["s"] + 1.0) < 1e-9
    # the formerly-documented workaround agrees
    out = (
        df.with_columns(
            pl.col("x").rank("average").over("g").alias("rx"),
            pl.col("y").rank("average").over("g").alias("ry"))
        .group_by("g")
        .agg(plf.corr(pl.col("rx"), pl.col("ry"), method="pearson").alias("s"))
        .sort("g").to_a())
    assert abs(out[0]["s"] - 1.0) < 1e-9 and abs(out[1]["s"] + 1.0) < 1e-9
    # round-5 ADVICE: binary composition keeps the pre-stage (spearman*2+0)
    comp = (df.group_by("g").agg(
        (plf.corr(pl.col("x"), pl.col("y"), method="spearman") * 2
         + pl.lit(0.0)).alias("s2")).sort("g").to_a())
    assert abs(comp[0]["s2"] - 2.0) < 1e-9 and abs(comp[1]["s2"] + 2.0) < 1e-9


def test_global_ordinal_plans_are_multi_task(spark):
    """Round-2: ungrouped cum_*/reverse/shuffle/rle_id must not plan a
    single-task window — audited with the same rules as tools/plan_audit."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from plan_audit import (empty_partition_window_violations,
                            single_partition_violations)

    df = pl.scan_parquet("/root/testdata/sf0.001/lineitem.parquet")
    out = df.sort("l_orderkey", "l_linenumber").with_columns(
        pl.col("l_quantity").cum_sum().alias("cs"),
        pl.col("l_orderkey").reverse().alias("rv"),
        pl.col("l_linestatus").rle_id().alias("rid"),
    )
    plan = out._sdf._jdf.queryExecution().executedPlan().toString()
    assert empty_partition_window_violations(plan) == 0, plan
    assert single_partition_violations(plan) == 0, plan


def test_plan_audit_flags_repeated_python_nodes():
    """tools/plan_audit: a Python node printed twice once expression ids are
    stripped is one Python pass run twice; nodes that differ in their
    inputs, and repeated non-Python lines, are not flagged."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from plan_audit import repeated_python_nodes

    twice = """AdaptiveSparkPlan isFinalPlan=false
+- BroadcastHashJoin [vec_id#12L], [__cid__#23L], LeftOuter, BuildRight, false
   :- Project [vec_id#12L, centroid_id#14 AS cluster_id#25]
   :  +- MapInPandas assign(vec_id#0L, embedding#1)#11, [vec_id#12L, embedding#13, centroid_id#14], false
   :     +- FileScan parquet [vec_id#0L,embedding#1] Batched: true
   +- FlatMapGroupsInPandas [centroid_id#31], compare(vec_id#29L, embedding#30, centroid_id#31)#15, [id_a#16L, id_b#17L]
      +- Exchange hashpartitioning(centroid_id#31, 32), ENSURE_REQUIREMENTS, [plan_id=112]
         +- MapInPandas assign(vec_id#26L, embedding#27)#11, [vec_id#29L, embedding#30, centroid_id#31], false
            +- FileScan parquet [vec_id#26L,embedding#27] Batched: true"""
    assert repeated_python_nodes(twice) == 1
    # codegen and tree prefixes do not hide a repeat; a third copy counts
    third = twice + "\n   :  :  +- *(2) MapInPandas assign(vec_id#7L, embedding#8)#11, " \
        "[vec_id#9L, embedding#10, centroid_id#3], false"
    assert repeated_python_nodes(third) == 2
    # q132's shape: two ewm kernels with the same name over different inputs
    differ = """+- MapInArrow gen(__ewm_pid__#44, __row_idx__#42L, value#39, __ewm_x_0__#45)#116, [pid#117], false
   +- BroadcastExchange HashedRelationBroadcastMode(List(input[0, int, true]),false), [plan_id=253]
      +- ArrowEvalPython [_udf(__arr__#64)#84], [pythonUDF0#154], 250
         +- MapInArrow gen(__ewm_pid__#113, __row_idx__#112L, __ewm_x_0__#114)#47, [pid#48], false
            +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=245]
            +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=245]"""
    assert repeated_python_nodes(differ) == 0


def test_chunked_ordinals_on_gapped_concentrated_index(spark):
    """Round-7: the deterministic-chunk attaches (cum_*/rle_id/reverse)
    key on floor((idx-min)/width) — correctness must hold when a filter
    leaves the surviving rows CONCENTRATED in a narrow index range
    (worst-case chunk occupancy skew, the documented parallelism-only
    caveat) and when the frame was sliced (index starts high)."""
    import polars_ruby_spark as pl

    n = 4000
    df = pl.DataFrame({"i": list(range(n)),
                       "v": [float((i * 7) % 13) for i in range(n)]})
    # windowed bind materializes the index, then a filter keeps only a
    # narrow band near the end — gapped AND concentrated
    out = (df.lazy().sort("i")
           .with_columns(pl.col("v").shift(1).alias("pv"))
           .filter((pl.col("i") >= 3900) | (pl.col("i") < 25))
           .with_columns(pl.col("v").cum_sum().alias("cs"),
                         pl.col("v").rle_id().alias("rid"))
           .collect().to_a())
    kept = [i for i in range(n) if i >= 3900 or i < 25]
    run = 0.0
    rid = 0
    prev = None
    for r, i in zip(out, kept):
        run += (i * 7) % 13
        assert r["cs"] == run, (i, r["cs"], run)
        v = float((i * 7) % 13)
        if prev is not None and v != prev:
            rid += 1
        assert r["rid"] == rid, (i, r["rid"], rid)
        prev = v
    # sliced frame: index starts at 1000 — reverse reflects around
    # min+max, cum starts fresh
    sl = (df.lazy().sort("i").slice(1000, 50)
          .with_columns(pl.col("v").reverse().alias("rv"),
                        pl.col("v").cum_max().alias("cm"))
          .collect().to_a())
    vs = [float((i * 7) % 13) for i in range(1000, 1050)]
    assert [r["rv"] for r in sl] == vs[::-1]
    mx = []
    cur = float("-inf")
    for v in vs:
        cur = max(cur, v)
        mx.append(cur)
    assert [r["cm"] for r in sl] == mx


def test_ewm_fallback_all_modes(spark):
    """Round-5: the composed-aggregate O(n^2) fallback (reached when ewm is
    combined with another expression in one binding, warns) now supports
    ignore_nulls=false too — absolute-position decay via null-keeping
    structs; every adjust x ignore_nulls combo must match the pandas
    reference, same as the primary O(n) scan."""
    import warnings

    import numpy as np
    import pandas as pd

    vals = [1.0, None, 3.0, 2.5, None, 8.0, 0.5]
    df = pl.DataFrame({"x": vals, "g": ["a"] * 7})

    def expected(kind, adjust, ign):
        s = pd.Series([np.nan if v is None else v for v in vals])
        ew = s.ewm(alpha=0.4, adjust=adjust, ignore_na=ign, min_periods=1)
        out = ew.mean() if kind == "mean" else ew.var(bias=False)
        res, cnt = [], 0
        for i, v in enumerate(vals):
            cnt += v is not None
            res.append(None if cnt == 0 else
                       (0.0 if kind != "mean" and cnt == 1
                        else round(float(out.iloc[i]), 6)))
        return res

    for kind, meth in [("mean", "ewm_mean"), ("var", "ewm_var")]:
        for adjust in (True, False):
            for ign in (True, False):
                kw = dict(alpha=0.4, adjust=adjust, min_periods=1,
                          ignore_nulls=ign)
                # + lit(0.0) defeats the hook composition -> fallback path
                with warnings.catch_warnings():
                    warnings.simplefilter("ignore", RuntimeWarning)
                    got = df.with_columns(
                        (getattr(pl.col("x"), meth)(**kw) + pl.lit(0.0))
                        .over("g").round(6).alias("v")).to_a()
                assert [r["v"] for r in got] == expected(kind, adjust, ign), \
                    f"fallback {kind} adjust={adjust} ign={ign}"


def test_cumulative_eval_and_struct_ops(spark):
    """Round-2 new surface: cumulative_eval (reference doctest expr.rb:6684),
    list.to_struct, struct.rename_fields, scalar concat_list wrap."""
    import pytest

    df = pl.DataFrame({"values": [1, 2, 3, 4, 5]})
    out = df.select(pl.col("values").cumulative_eval(
        pl.element().first() - pl.element().last() ** 2).alias("v")).to_a()
    assert [r["v"] for r in out] == [0, -3, -8, -15, -24]
    mp = df.select(pl.col("values").cumulative_eval(
        pl.element().max() - pl.element().min(), min_periods=3).alias("d")).to_a()
    assert [r["d"] for r in mp] == [None, None, 2, 3, 4]
    # round-4: with_columns (ungrouped), over(keys), and group_by().agg()
    wc = df.with_columns(pl.col("values").cumulative_eval(
        pl.element().max()).alias("x")).to_a()
    assert [r["x"] for r in wc] == [1, 2, 3, 4, 5]
    gdf = pl.DataFrame({"g": ["a", "a", "b", "a", "b"],
                        "v": [3.0, 1.0, 10.0, 2.0, 4.0]})
    ov = gdf.with_columns(pl.col("v").cumulative_eval(
        pl.element().min()).over("g").alias("m")).to_a()
    assert [r["m"] for r in ov] == [3.0, 1.0, 10.0, 1.0, 4.0]
    ag = (gdf.group_by("g")
          .agg(pl.col("v").cumulative_eval(pl.element().sum()).alias("cs"))
          .sort("g").to_a())
    assert [r["cs"] for r in ag] == [[3.0, 4.0, 6.0], [10.0, 14.0]]
    mp2 = gdf.with_columns(pl.col("v").cumulative_eval(
        pl.element().mean(), min_periods=2).over("g").alias("m2")).to_a()
    assert [r["m2"] for r in mp2] == [None, 2.0, None, 2.0, 7.0]

    # round-5 ADVICE regressions:
    # (a) gapped hidden index (windowed with_columns → filter) must not
    #     pollute prefixes — join-back on the real index, not 0..n-1
    gap = pl.DataFrame({"g": ["a", "a", "b", "b", "a"],
                        "v": [10.0, 20.0, 30.0, 40.0, 50.0]})
    go = (gap.with_columns(pl.col("v").shift(1).over("g").alias("s"))
          .filter(pl.col("v") > 20)
          .with_columns(pl.col("v").cumulative_eval(
              pl.element().max()).alias("m"))).to_a()
    assert [r["m"] for r in go] == [30.0, 40.0, 50.0]
    # (b) min_periods counts VALID (non-null) values (expr.rb:6645-6647)
    nn = pl.DataFrame({"v": [1.0, None, 3.0]})
    no = nn.select(pl.col("v").cumulative_eval(
        pl.element().sum(), min_periods=2).alias("s")).to_a()
    assert [r["s"] for r in no] == [None, None, 4.0]
    # (c) memory shape: the over(keys) plan must carry ONE collected array
    #     per group (hash agg), never a full-group array per row (window)
    ovf = gdf.with_columns(pl.col("v").cumulative_eval(
        pl.element().min()).over("g").alias("m"))
    plan = ovf._sdf._jdf.queryExecution().executedPlan().toString()
    assert not [ln for ln in plan.splitlines()
                if "Window" in ln and "collect_list" in ln], plan

    lf = pl.DataFrame({"l": [[1, 2, 3], [4, 5], None]})
    s = lf.select(pl.col("l").list.to_struct().alias("s")).to_a()
    assert s[0]["s"] == {"field_0": 1, "field_1": 2, "field_2": 3}
    assert s[1]["s"] == {"field_0": 4, "field_1": 5, "field_2": None}
    wide = lf.select(pl.col("l").list.to_struct(
        n_field_strategy="max_width", fields=None).alias("s")).to_a()
    assert len(wide[0]["s"]) == 3

    from polars_ruby_spark import functions as plf

    rn = (pl.DataFrame({"x": [1], "y": [2]})
          .select(plf.struct(pl.col("x"), pl.col("y")).alias("s"))
          .select(pl.col("s").struct.rename_fields(["a", "b"]).alias("s"))
          .unnest("s").to_a())
    assert rn == [{"a": 1, "b": 2}]
    # concat_list: list inputs still concatenate; scalars wrap
    cl = pl.DataFrame({"a": [[1], [2]], "b": [9, 8]}).select(
        plf.concat_list([pl.col("a"), pl.col("b")]).alias("c")).to_a()
    assert [r["c"] for r in cl] == [[1, 9], [2, 8]]


def test_calendar_window_closed_modes(spark):
    """Round-2: 1mo dynamic windows with offset and all four closed modes.
    Boundary row (exactly on a shifted window start) moves windows under
    'right', lands in both under 'both', disappears under 'none'."""
    import datetime as dt

    rows = [
        (dt.datetime(2024, 1, 4, 0, 0, 0), 1.0),   # exactly on Jan window start (offset 3d)
        (dt.datetime(2024, 1, 20, 0, 0, 0), 2.0),
        (dt.datetime(2024, 2, 10, 0, 0, 0), 4.0),
    ]
    df = pl.DataFrame({"ts": [r[0] for r in rows], "value": [r[1] for r in rows]})

    def run(closed):
        out = (df.group_by_dynamic("ts", every="1mo", offset="3d", closed=closed)
               .agg(pl.col("value").sum().alias("s")).sort("ts").collect().to_a())
        return [(r["ts"].month, r["ts"].day, r["s"]) for r in out]

    assert run("left") == [(1, 4, 3.0), (2, 4, 4.0)]
    # boundary row joins the PREVIOUS (Dec 4) window
    assert run("right") == [(12, 4, 1.0), (1, 4, 2.0), (2, 4, 4.0)]
    # boundary row counted in BOTH neighbours
    assert run("both") == [(12, 4, 1.0), (1, 4, 3.0), (2, 4, 4.0)]
    # boundary row dropped
    assert run("none") == [(1, 4, 2.0), (2, 4, 4.0)]


def test_meta_ast_introspection():
    """meta_expr.rb doctests: root_names/pop/eq/undo_aliases/tree_format over
    the breadcrumb AST (no Spark session needed)."""
    import polars_ruby_spark as pl

    assert (pl.col("foo") * pl.col("bar")).meta.root_names() == ["foo", "bar"]
    assert pl.col("foo").filter(pl.col("bar") == 13).meta.root_names() == ["foo", "bar"]
    assert pl.col("foo").sum().over("groups").meta.root_names() == ["foo", "groups"]

    foo_bar = pl.col("foo").alias("bar")
    assert not foo_bar.meta.eq(pl.col("foo"))
    assert foo_bar.meta.eq(pl.col("foo").alias("bar"))
    assert foo_bar.meta.ne(pl.col("foo"))

    first = foo_bar.meta.pop()[0]
    assert first.meta.eq(pl.col("foo"))
    assert not first.meta.eq(pl.col("bar"))

    assert foo_bar.meta.undo_aliases().meta.eq(pl.col("foo"))

    t = ((pl.col("foo") * pl.col("bar")).sum().over(pl.col("ham")) / 2)
    s = t.meta.tree_format(return_as_string=True)
    assert 'col("foo")' in s and 'col("ham")' in s and "window" in s

    # different binary ops are never structurally equal
    assert (pl.col("a") + pl.col("b")).meta.ne(pl.col("a") - pl.col("b"))
    # named-function ops compare structurally (F.abs carries its name)
    assert pl.col("a").abs().meta.eq(pl.col("a").abs())
    e = pl.col("a").abs()
    assert e.meta.eq(e)


def test_lazyframe_write_json_plan(spark, tmp_path):
    """lazy_frame.rb:146 — logical-plan JSON serialization (plan, not data)."""
    import json as _json

    df = pl.from_hash({"a": [1, 2, 3]})
    lf = df.lazy().filter(pl.col("a") > 1)
    s = lf.write_json()
    assert s and "Filter" in s
    _json.loads(s.splitlines()[0] if "\n" in s else s)  # valid JSON
    p = str(tmp_path / "plan.json")
    assert lf.write_json(p) is None
    assert open(p).read() == s


def test_group_by_each_and_plot(spark):
    """group_by.rb:35 each → (group, sub-frame) pairs; :605 plot delegates
    with group=key and rejects multi-key/explicit-group."""
    import pytest as _pytest

    df = pl.DataFrame({"g": ["a", "b", "a"], "v": [1, 2, 3]})
    got = {k: sorted(r["v"] for r in f.to_a()) for k, f in df.group_by("g").each()}
    assert got == {"a": [1, 3], "b": [2]}
    assert got == {k: sorted(r["v"] for r in f.to_a())
                   for k, f in df.group_by("g")}  # __iter__ alias
    spec = df.group_by("g").plot("v", "v", type="scatter")
    assert "encoding" in spec
    with _pytest.raises(ValueError):
        df.group_by(["g", "v"]).plot("v", "v")


def test_reference_doctest_parity_batch11(spark):
    """Eleventh harvest batch (frame/join sweep): multi-column explode zips
    in lockstep (was a cross product), join_asof drops the right on-column
    (data_frame.rb:2223), df[row, col] two-arg indexing, write_json single
    file (row_oriented / column-oriented / string), sample(frac:),
    join validate (1:1 / 1:m / m:1)."""
    import datetime as dtm
    import json
    import os
    import tempfile

    import polars_ruby_spark as pl
    from polars_ruby_spark.exceptions import ComputeError

    out = pl.from_hash({"a": [[1, 2]], "b": [["x", "y"]]}).explode("a", "b").to_a()
    assert out == [{"a": 1, "b": "x"}, {"a": 2, "b": "y"}]

    a = pl.from_hash({"t": [dtm.datetime(2024, 1, 1, 0), dtm.datetime(2024, 1, 1, 5)],
                      "x": [1, 2]})
    b = pl.from_hash({"t": [dtm.datetime(2024, 1, 1, 1)], "y": [9]})
    j = a.sort("t").join_asof(b.sort("t"), on="t", strategy="backward",
                              tolerance="2h")
    assert j.columns == ["t", "x", "y"]   # right `t` dropped like polars

    df = pl.from_hash({"a": [1, 2, 3], "b": ["x", "y", "z"]})
    assert df[1, "a"] == 2 and df[-1, "b"] == "z"
    assert df[1, ["a", "b"]].to_a() == [{"a": 2, "b": "y"}]

    p = tempfile.mktemp(suffix=".json")
    df.write_json(p, row_oriented=True)
    assert json.load(open(p)) == df.to_a()
    os.unlink(p)
    assert "columns" in json.loads(df.write_json())

    assert 0 <= len(df.sample(frac=0.5, seed=1).to_a()) <= 3

    l = pl.from_hash({"k": [1, 2], "v": [10, 20]})
    r = pl.from_hash({"k": [2, 3], "v": [200, 300]})
    assert l.join(r, on="k", how="inner", validate="1:1").to_a() is not None
    dup = pl.from_hash({"k": [2, 2], "v": [1, 2]})
    try:
        l.join(dup, on="k", how="inner", validate="m:1").to_a()
        raise AssertionError("expected ComputeError")
    except ComputeError:
        pass


def test_reference_doctest_parity_batch12(spark):
    """Twelfth harvest batch (reference test/ sweep): Polars.min/max/sum with
    an array of names are PER-COLUMN vertical aggregates
    (aggregation/vertical.rb:135,190,245), never a horizontal fold;
    DataFrame.new accepts a Series / array-of-Series / hash-with-Series
    values (data_frame_test.rb ctor matrix); bare parameterized dtype
    classes (Decimal, Datetime) instantiate with defaults."""
    import polars_ruby_spark as pl
    from polars_ruby_spark.datatypes import Datetime, Decimal, to_spark_type

    df = pl.from_hash({"a": [1, 8, 3], "b": [4, 5, 2]})
    assert df.select(pl.min(["a", "b"])).to_a() == [{"a": 1, "b": 2}]
    assert df.select(pl.max(["a", "b"])).to_a() == [{"a": 8, "b": 5}]
    assert df.select(pl.sum(["a", "b"])).to_a() == [{"a": 12, "b": 11}]
    assert df.select(pl.min("a")).to_a() == [{"a": 1}]

    d1 = pl.DataFrame(pl.Series("x", [1, 2, 3]))
    assert d1.columns == ["x"] and [r["x"] for r in d1.to_a()] == [1, 2, 3]
    d2 = pl.DataFrame([pl.Series("p", [1, 2]), pl.Series("q", ["a", "b"])])
    assert d2.columns == ["p", "q"]
    assert d2.to_a() == [{"p": 1, "q": "a"}, {"p": 2, "q": "b"}]
    d3 = pl.DataFrame({"k": pl.Series("ignored", [9, 8]), "v": [1, 2]})
    assert d3.columns == ["k", "v"]
    assert [r["k"] for r in d3.to_a()] == [9, 8]

    assert to_spark_type(Decimal).simpleString() == "decimal(38,0)"
    assert to_spark_type(Datetime).simpleString() == "timestamp"


def test_reference_doctest_parity_batch13(spark):
    """Thirteenth harvest batch (data_frame_test.rb sweep): element-wise
    frame comparison/arithmetic dunders (data_frame.rb:185-300), columns=
    setter, include? (__contains__), extended indexing (Expr / bool-Series
    mask / int list), __setitem__ matrix, estimated_size(unit),
    axis=1 row-wise aggregates, delete->None, n_chunks(strategy),
    NaN-preserving Arrow ingestion, ctor length-mismatch raise."""
    import pytest as _pytest

    import polars_ruby_spark as pl

    a = pl.DataFrame({"a": [1, 2, 3, 4]})
    b = pl.DataFrame({"a": [0, 2, 3, 5]})
    assert [r["a"] for r in (a == b).to_a()] == [False, True, True, False]
    assert [r["a"] for r in (a != b).to_a()] == [True, False, False, True]
    assert [r["a"] for r in (a > b).to_a()] == [True, False, False, False]
    assert [r["a"] for r in (a <= b).to_a()] == [False, True, True, True]
    with _pytest.raises(ValueError, match="columns do not match"):
        pl.DataFrame({"a": [1]}) == pl.DataFrame({"b": [1]})
    c = pl.DataFrame({"a": [1, 2, 3]})
    assert [r["a"] for r in (c == 2).to_a()] == [False, True, False]

    x = pl.DataFrame({"a": [10, 20, 30]})
    y = pl.DataFrame({"a": [5, 10, 15]})
    assert [r["a"] for r in (x + y).to_a()] == [15, 30, 45]
    assert [r["a"] for r in (x - y).to_a()] == [5, 10, 15]
    assert [r["a"] for r in (x * y).to_a()] == [50, 200, 450]
    assert [r["a"] for r in (x / y).to_a()] == [2, 2, 2]   # int-preserving
    assert [r["a"] for r in (x % y).to_a()] == [0, 0, 0]
    s = pl.Series("b", [5, 10, 15])
    assert [r["a"] for r in (x + s).to_a()] == [15, 30, 45]
    with _pytest.raises(ValueError, match="not supported"):
        x + [1, 2, 3]

    d = pl.DataFrame({"a": [1], "b": [2]})
    d.columns = ["c", "d"]
    assert d.columns == ["c", "d"]
    assert "c" in d and "a" not in d

    e = pl.DataFrame({"a": [1, 2, 3]})
    assert e[pl.col("a") > 1].to_a() == [{"a": 2}, {"a": 3}]
    assert e[e["a"] > 1].to_a() == [{"a": 2}, {"a": 3}]
    assert e[[1, 2]].to_a() == [{"a": 2}, {"a": 3}]
    assert e[[2, 0]].to_a() == [{"a": 3}, {"a": 1}]

    f = pl.DataFrame({"a": [1, 2, 3]})
    f["a"] = pl.Series(["x", "y", "z"])
    assert [r["a"] for r in f.to_a()] == ["x", "y", "z"]
    f["b"] = [7, 8, 9]
    assert f.columns == ["a", "b"]
    f["c"] = 1
    assert [r["c"] for r in f.to_a()] == [1, 1, 1]
    f[1, "c"] = 2
    f[2, "c"] = 3
    assert [r["c"] for r in f.to_a()] == [1, 2, 3]
    assert f[0, "c"] == 1 and f[2, "c"] == 3
    with _pytest.raises(IndexError, match="out of bounds"):
        f[3, "c"]
    with _pytest.raises(ValueError, match="lengths don't match"):
        f["d"] = [1, 2]

    g = pl.DataFrame({"a": [1, 2, 3], "b": ["x", "y", "z"]})
    assert g.estimated_size("kb") == _pytest.approx(
        g.estimated_size() / 1024.0)
    assert g.n_chunks(strategy="all") == [g.n_chunks(), g.n_chunks()]
    assert g.delete("nope") is None
    assert [c.name for c in g] == ["a", "b"]  # __iter__ yields columns

    h = pl.DataFrame({"a": [1, 5, 3], "b": [4, 2, 6]})
    assert h.max(axis=1).to_a() == [4, 5, 6]
    assert h.min(axis=1).to_a() == [1, 2, 3]
    assert h.sum(axis=1).to_a() == [5, 7, 9]
    assert h.max().to_a() == [{"a": 5, "b": 6}]

    nan = float("nan")
    i = pl.DataFrame({"a": [1.0, nan, 3.0]})
    assert i.fill_nan(99)["a"].to_a() == [1.0, 99.0, 3.0]
    assert i.select(pl.col("a").is_nan().alias("a")).to_a() == \
        [{"a": False}, {"a": True}, {"a": False}]
    j = pl.DataFrame({"a": [1, None, 3]})
    assert j.dtypes[0].typeName() == "long"  # ints stay integral under null
    with _pytest.raises(ValueError, match="lengths don't match"):
        pl.DataFrame({"a": [1, 2, 3], "b": [1, 2]})

    rep = str(pl.DataFrame({"a": [1, 2, 3]}))
    assert "│ a   │" in rep and "i64" in rep and rep.startswith("shape: (3, 1)")


def test_reference_doctest_parity_batch16(spark):
    """Sixteenth harvest batch (lazy_frame/expr/data_types tests): Series &
    array literals are columns (functions/lit.rb:18-27), struct() expands
    regex selectors, dtype-object API (base_type, predicates, parameterized
    equality incl. instance == bare family class), lazy repr prints the
    naive plan."""
    import pytest as _pytest

    import polars_ruby_spark as pl
    from polars_ruby_spark import datatypes as dt

    df = pl.DataFrame({"x": [9, 8, 7]})
    assert [r["s"] for r in df.select(
        pl.lit(pl.Series("s", [1, 2, 3]))).to_a()] == [1, 2, 3]
    assert [r["s"] for r in df.select(
        pl.lit([1, 2, 3]).alias("s")).to_a()] == [1, 2, 3]
    # length-1 series literal broadcasts like a scalar
    assert [r["o"] for r in df.select(
        pl.col("x"), pl.lit(pl.Series([5])).alias("o")).to_a()] == [5, 5, 5]

    out = pl.DataFrame({"t_a": [1, 2], "t_b": ["a", "b"], "zz": [0, 0]}) \
        .lazy().select(pl.struct(pl.col("^t_.$")).alias("ts")).collect().to_a()
    assert out == [{"ts": {"t_a": 1, "t_b": "a"}},
                   {"ts": {"t_a": 2, "t_b": "b"}}]

    assert dt.Int64.base_type() is dt.Int64
    assert dt.List(dt.Int64).base_type() is dt.List
    assert dt.Duration("ns").base_type() is dt.Duration

    assert dt.Decimal(15, 1) == dt.Decimal(15, 1)
    assert dt.Decimal(15, 1) != dt.Decimal(25, 1)
    assert dt.Decimal(15, 1) == dt.Decimal
    assert dt.Datetime("ns") == dt.Datetime("ns")
    assert dt.Datetime("ns") != dt.Datetime("us")
    assert dt.Datetime("ns") == dt.Datetime
    assert dt.List(dt.Int64) == dt.List(dt.Int64)
    assert dt.List(dt.Int64) != dt.List(dt.Int32)
    assert dt.List(dt.Int64) == dt.List
    assert dt.Array(3, dt.Int64) == dt.Array(3, dt.Int64)
    assert dt.Array(3, dt.Int64) == dt.Array
    assert dt.Struct([dt.Field("a", dt.Int64)]) == \
        dt.Struct([dt.Field("a", dt.Int64)])
    assert dt.Struct([dt.Field("a", dt.Int64)]) != \
        dt.Struct([dt.Field("b", dt.Int64)])
    assert dt.Struct([dt.Field("a", dt.Int64)]) == dt.Struct

    assert dt.Int64.is_numeric() and not dt.String.is_numeric()
    assert dt.Decimal.is_decimal() and dt.Decimal(15, 1).is_decimal()
    assert dt.UInt64.is_integer() and dt.UInt64.is_unsigned_integer()
    assert dt.Int64.is_signed_integer() and not dt.UInt64.is_signed_integer()
    assert dt.Float32.is_float() and not dt.Int64.is_float()
    assert dt.Datetime.is_temporal() and dt.Duration("ns").is_temporal()
    assert dt.List.is_nested() and not dt.Int64.is_nested()

    assert "naive plan:" in str(pl.DataFrame({"a": [1]}).lazy().select("a"))
    # (the reference asserts "PROJECT" in the optimized plan; Catalyst
    # collapses trivial projections into the scan, so assert plan text only)
    assert "Plan" in pl.DataFrame({"a": [1]}).lazy().select("a") \
        .describe_optimized_plan()


def test_reference_doctest_parity_batch20(spark):
    """Twentieth harvest batch (guide_test.rb user-guide patterns):
    order-dependent per-row ops inside group_by().agg (shift/reverse/sort →
    per-group array transforms), aggregates over them (shift_and_fill.sum),
    agg-of-agg (unique().count()), composed per-row×aggregate exprs in
    select (when*sum, x-mean), aggregates+rank inside list.eval (nested
    HOFs), concat_list/col list args, multi-expr reverse, reference
    shift_and_fill arg order (periods, fill_value)."""
    import polars_ruby_spark as pl

    df = pl.DataFrame({
        "A": [1, 2, 3, 4, 5],
        "fruits": ["banana", "banana", "apple", "apple", "banana"],
        "B": [5, 4, 3, 2, 1],
        "cars": ["beetle", "audi", "beetle", "beetle", "beetle"],
    })

    out = df.group_by("fruits").agg(
        pl.col("B").shift().alias("shift_B"),
        pl.col("B").reverse().alias("rev_B"),
        pl.col("B").shift_and_fill(1, 0).alias("sf"),
        pl.col("B").shift_and_fill(1, 0).sum().alias("sfs"),
        pl.col("B").sort().alias("sorted_B"),
        pl.col("cars").unique().count().alias("uc"),
    ).sort("fruits").to_a()
    assert out[0]["fruits"] == "apple"
    assert out[0]["shift_B"] == [None, 3] and out[1]["shift_B"] == [None, 5, 4]
    assert out[0]["rev_B"] == [2, 3] and out[1]["rev_B"] == [1, 4, 5]
    assert out[0]["sf"] == [0, 3] and out[1]["sf"] == [0, 5, 4]
    assert out[0]["sfs"] == 3 and out[1]["sfs"] == 9
    assert out[0]["sorted_B"] == [2, 3] and out[1]["sorted_B"] == [1, 4, 5]
    assert out[0]["uc"] == 1 and out[1]["uc"] == 2

    ex = df.group_by("fruits").agg(
        pl.len(), pl.col("B").shift().alias("B_shifted")
    ).explode("B_shifted").sort("fruits").to_a()
    assert [r["B_shifted"] for r in ex] == [None, 3, None, 5, 4]

    # composed per-row × aggregate in select keeps row count (guide)
    w = df.select((pl.when(pl.col("B") > 3).then(0).otherwise(pl.col("B"))
                   * pl.col("A").sum()).alias("x")).to_a()
    assert [r["x"] for r in w] == [0, 0, 45, 30, 15]
    m = df.select((pl.col("B") - pl.col("B").mean()).alias("d")).to_a()
    assert [r["d"] for r in m] == [2.0, 1.0, 0.0, -1.0, -2.0]

    # ungrouped select: unique().count()
    assert df.select(pl.col("fruits").unique().count().alias("u")).to_a() \
        == [{"u": 2}]

    # list context: agg + rank inside eval (nested HOFs, no UDF)
    grades = pl.DataFrame({"student": ["bas", "laura"],
                           "arithmetic": [10, 5], "biology": [4, 6],
                           "geography": [8, 4]})
    rank_pct = pl.element().rank(reverse=True) / pl.col("").count()
    g = grades.with_column(
        pl.concat_list(pl.all().exclude("student")).alias("all_grades")
    ).select(pl.col("student"),
             pl.col("all_grades").list.eval(rank_pct).alias("gr")).to_a()
    assert g[0]["gr"] == [1 / 3, 1.0, 2 / 3]
    assert g[1]["gr"] == [2 / 3, 1 / 3, 1.0]  # laura [5,6,4]

    # round-5: median/std/var over order-transformed values inside agg
    # (array-reduce path: sorted-array midpoint / moment sums)
    sv = pl.DataFrame({"g": ["a"] * 5, "v": [5.0, 1.0, 4.0, 2.0, 3.0]})
    so = sv.group_by("g").agg(
        pl.col("v").shift(1).median().alias("md"),
        pl.col("v").shift(1).std().alias("sd"),
        pl.col("v").shift(1).var(ddof=0).alias("vp")).to_a()[0]
    assert so["md"] == 3.0 and abs(so["sd"] - 1.825742) < 1e-5
    assert abs(so["vp"] - 2.5) < 1e-9
    # quantile (all 5 interpolations) over the transformed array matches
    # the direct aggregate (custom _arr_reduce_fn carries q/interpolation)
    for interp in ("nearest", "linear", "lower", "higher", "midpoint"):
        qa = sv.group_by("g").agg(pl.col("v").shift(1).quantile(
            0.4, interpolation=interp).alias("q")).to_a()[0]["q"]
        qd = sv.filter(pl.col("v") != 3.0).select(pl.col("v").quantile(
            0.4, interpolation=interp).alias("q")).to_a()[0]["q"]
        assert abs(qa - qd) < 1e-9, interp
    # round-5: full aggregate family over transformed values inside agg —
    # n_unique (null counts as distinct), null_count, product, any/all
    # over an elementwise composition (the ordered-array route survives
    # _lift/_lift2 with literal operands), and the bare composed list
    fv = pl.DataFrame({"g": ["a"] * 6,
                       "v": [5.0, 1.0, 5.0, 1.0, 9.0, 3.0]})
    fo = fv.group_by("g").agg(
        pl.col("v").shift(1).n_unique().alias("nu"),
        pl.col("v").shift(1).null_count().alias("nc"),
        pl.col("v").shift(1).product().alias("pr"),
        (pl.col("v").shift(1) > 2).any().alias("an"),
        (pl.col("v").shift(1) > 0).all().alias("al"),
        (pl.col("v").shift(1) * 2).sum().alias("s2"),
        (pl.col("v").shift(1) > 2).alias("bl"),
    ).to_a()[0]
    assert fo["nu"] == 4 and fo["nc"] == 1 and fo["pr"] == 225.0
    assert fo["an"] is True and fo["al"] is True and fo["s2"] == 42.0
    assert fo["bl"] == [None, True, False, True, False, True]

    # mode over the transformed array (all tied values, sorted)
    mv = pl.DataFrame({"g": ["a"] * 6,
                       "v": [5.0, 1.0, 5.0, 1.0, 9.0, 3.0]})
    mo = mv.group_by("g").agg(
        pl.col("v").shift(1).mode().alias("m")).to_a()[0]["m"]
    assert mo == [1.0, 5.0]

    # skew/kurtosis over the transformed array match the direct aggregates
    sk = sv.group_by("g").agg(
        pl.col("v").shift(1).skew().alias("sk"),
        pl.col("v").shift(1).kurtosis().alias("ku")).to_a()[0]
    dd = sv.filter(pl.col("v") != 3.0).select(
        pl.col("v").skew().alias("sk"),
        pl.col("v").kurtosis().alias("ku")).to_a()[0]
    assert abs(sk["sk"] - dd["sk"]) < 1e-9
    assert abs(sk["ku"] - dd["ku"]) < 1e-9

    # round-5: rank('ordinal') inside list.eval — ties break by LIST
    # POSITION via the element-index stack (2-arg transform lambda)
    lr = pl.DataFrame({"l": [[3.0, 1.0, 3.0, None, 2.0], [5.0, 5.0]]})
    ro = lr.select(pl.col("l").list.eval(
        pl.element().rank("ordinal")).alias("r")).to_a()
    assert [r["r"] for r in ro] == [[3, 1, 4, None, 2], [1, 2]]
    rd = lr.select(pl.col("l").list.eval(
        pl.element().rank("ordinal", descending=True)).alias("r")).to_a()
    assert [r["r"] for r in rd] == [[1, 4, 2, None, 3], [1, 2]]

    assert df.select(pl.col(["A", "B"]).sum()).to_a() == \
        [{"A": 15, "B": 15}]
    sfx = df.select(pl.all(), pl.all().reverse().suffix("_rev"))
    assert sfx.columns[:4] == ["A", "fruits", "B", "cars"]


def test_eager_class_preservation(spark):
    """Every frame-transform called on an eager DataFrame returns a
    DataFrame (take_every and the statistic forms were leaking LazyFrame)."""
    df = pl.DataFrame({"a": [1, 2, 3, 4]})
    for m, args in [("take_every", (2,)), ("gather_every", (2,)),
                    ("median", ()), ("quantile", (0.5,)), ("first", ()),
                    ("last", ()), ("std", ()), ("var", ()),
                    ("interpolate", ()), ("melt", ())]:
        out = getattr(df, m)(*args)
        assert type(out).__name__ == "DataFrame", m
    assert df.take_every(2).to_a() == [{"a": 1}, {"a": 3}]


def test_reference_doctest_parity_batch23(spark):
    """Twenty-third harvest batch: exclude with regex patterns and dtype
    classes (expr.rb exclude), rename with a name-transform callable,
    negative head/tail (all-but-last / all-but-first)."""
    from polars_ruby_spark import datatypes as dt

    df = pl.DataFrame({"aa": [1], "ab": [2], "b": ["x"]})
    assert df.select(pl.all().exclude("^a.*$")).columns == ["b"]
    assert df.select(pl.all().exclude(dt.String)).columns == ["aa", "ab"]
    assert df.select(pl.all().exclude("b")).columns == ["aa", "ab"]
    assert df.rename(lambda n: n.upper()).columns == ["AA", "AB", "B"]

    four = pl.DataFrame({"a": [1, 2, 3, 4]})
    assert [r["a"] for r in four.head(-2).to_a()] == [1, 2]
    assert [r["a"] for r in four.tail(-2).to_a()] == [3, 4]
    assert [r["a"] for r in four.head(2).to_a()] == [1, 2]
    assert [r["a"] for r in four.tail(2).to_a()] == [3, 4]


def test_reference_doctest_parity_batch24(spark):
    """Twenty-fourth batch (r2 ADVICE closures): CHAINED integer bitwise
    &/|/^ (expr.rb bitand/bitor/bitxor compose), negative integer exponent
    raises InvalidOperationError (expr.rb pow on ints), float base ** -1
    stays the float reciprocal, and _scrambles_order propagates through
    &,|,^,** so rank-combined filters still restore row order."""
    import pytest

    from polars_ruby_spark.exceptions import InvalidOperationError

    df = pl.DataFrame({"a": [5, 6, 7], "b": [3, 3, 3], "c": [1, 2, 4],
                       "x": [1.0, 2.0, 4.0]})
    got = df.select(
        ((pl.col("a") & pl.col("b")) & pl.col("c")).alias("and3"),
        ((pl.col("a") | pl.col("b")) | pl.col("c")).alias("or3"),
        ((pl.col("a") ^ pl.col("b")) ^ pl.col("c")).alias("xor3"),
    ).rows()
    exp = [((a & b) & c, (a | b) | c, (a ^ b) ^ c)
           for a, b, c in [(5, 3, 1), (6, 3, 2), (7, 3, 4)]]
    assert got == exp

    # boolean chains (the fast path) unchanged
    assert df.filter(
        (pl.col("a") > 5) & (pl.col("b") == 3) & (pl.col("c") < 4)
    ).rows() == [(6, 3, 2, 2.0)]

    # pow dtype + negative exponent semantics
    assert df.select((pl.col("a") ** 2).alias("p")).to_series().to_list() \
        == [25, 36, 49]
    with pytest.raises(InvalidOperationError):
        df.select(pl.col("a") ** -1)
    assert df.select((pl.col("x") ** -1).alias("p")).to_series().to_list() \
        == [1.0, 0.5, 0.25]

    # _scrambles_order propagation: rank() under & keeps frame row order
    rdf = pl.DataFrame({"v": [30, 10, 20], "t": [1, 1, 1]})
    out = rdf.select(
        ((pl.col("v").rank("ordinal") > 1) & (pl.col("t") == 1)).alias("f"),
        pl.col("v"),
    )
    assert [r["v"] for r in out.to_a()] == [30, 10, 20]


def test_ewm_scale_safe_all_modes(spark):
    """Round-3 ewm rewrite (expr.rb:6381-6482): the O(n) block-segmented
    scan must match pandas/polars across adjust x ignore_nulls x bias, for
    grouped (over) and ungrouped bindings, with nulls present.  The
    reference doctest values pin ewm_mean/std/var(com: 1) exactly."""
    import numpy as np
    import pandas as pd

    vals = [1.0, None, 3.0, 2.5, None, None, 8.0, 0.5, 4.0, None, 7.5]
    grp = ["a", "a", "b", "a", "b", "a", "b", "a", "b", "b", "a"]
    df = pl.DataFrame({"x": vals, "g": grp})

    # reference doctests (expr.rb:6381,6398,6442)
    d3 = pl.DataFrame({"a": [1, 2, 3]})
    assert d3.select(pl.col("a").ewm_mean(com=1).round(6).alias("v")) \
        .to_series().to_list() == [1.0, 1.666667, 2.428571]
    assert d3.select(pl.col("a").ewm_std(com=1).round(6).alias("v")) \
        .to_series().to_list() == [0.0, 0.707107, 0.963624]
    assert d3.select(pl.col("a").ewm_var(com=1).round(6).alias("v")) \
        .to_series().to_list() == [0.0, 0.5, 0.928571]

    def expected(series, kind, adjust, ign, bias):
        s = pd.Series([np.nan if v is None else v for v in series])
        ew = s.ewm(alpha=0.4, adjust=adjust, ignore_na=ign, min_periods=1)
        out = ew.mean() if kind == "mean" else (
            ew.var(bias=bias) if kind == "var"
            else np.sqrt(ew.var(bias=bias)))
        # polars: 0.0 (not NaN) at the first observation for var/std
        res, cnt = [], 0
        for i, v in enumerate(series):
            if v is not None:
                cnt += 1
            if cnt == 0:
                res.append(None)
            elif kind != "mean" and cnt == 1:
                res.append(0.0)
            else:
                res.append(round(float(out.iloc[i]), 6))
        return res

    for kind, meth in [("mean", "ewm_mean"), ("var", "ewm_var"),
                       ("std", "ewm_std")]:
        for adjust in (True, False):
            for ign in (True, False):
                kw = dict(alpha=0.4, adjust=adjust, min_periods=1,
                          ignore_nulls=ign)
                if kind != "mean":
                    kw["bias"] = False
                got = df.select(
                    getattr(pl.col("x"), meth)(**kw).round(6).alias("v")
                ).to_series().to_list()
                assert got == expected(vals, kind, adjust, ign, False), \
                    f"ungrouped {kind} adjust={adjust} ign={ign}"
                rows = df.with_columns(
                    getattr(pl.col("x"), meth)(**kw).over("g").round(6)
                    .alias("v")).to_a()
                per_g = {}
                for v, g, r in zip(vals, grp, rows):
                    per_g.setdefault(g, []).append((v, r["v"]))
                for g, items in per_g.items():
                    exp = expected([v for v, _ in items], kind, adjust,
                                   ign, False)
                    assert [gv for _, gv in items] == exp, \
                        f"grouped {kind} adjust={adjust} ign={ign} g={g}"

    # a null gap long enough that lam^k underflows to 0: the reset step's
    # log-decrement stays finite and the next value restarts the mean
    for a, gap in [(0.999, 110), (0.4, 1500)]:
        gvals = [1.0, 2.0, 3.0] + [None] * gap + [10.0, 11.0, 12.0]
        gdf = pl.DataFrame({"x": gvals, "g": ["a"] * len(gvals)})
        s = pd.Series([np.nan if v is None else v for v in gvals])
        exp = s.ewm(alpha=a, adjust=False, ignore_na=False).mean().tolist()
        e = pl.col("x").ewm_mean(alpha=a, adjust=False, ignore_nulls=False)
        ungrouped = gdf.select(e.alias("v")).to_series().to_list()
        grouped = [r["v"] for r in
                   gdf.with_columns(e.over("g").alias("v")).to_a()]
        for label, got in [("ungrouped", ungrouped), ("grouped", grouped)]:
            assert len(got) == len(exp)
            assert all(abs(g - x) < 1e-9 for g, x in zip(got, exp)), \
                f"{label} alpha={a} gap={gap}: {got[-3:]} vs {exp[-3:]}"


def test_calendar_hopping_rolling_datapoint(spark):
    """Round-3 dynamic-window closures (lazy_frame.rb:1416-1458, 1161):
    calendar every with longer period (monthly sliding quarters), calendar
    rolling look-backs, and start_by=datapoint with period != every."""
    ts = [f"2024-{m:02d}-{d:02d} 0{h}:00:00"
          for m, d, h in [(1, 5, 1), (1, 20, 2), (2, 10, 3), (3, 3, 1),
                          (4, 18, 2), (6, 1, 3)]]
    df = pl.DataFrame({"ts": ts, "v": [1.0, 2.0, 4.0, 8.0, 16.0, 32.0]}) \
        .with_columns(pl.col("ts").cast(pl.Datetime))
    srt = df.sort("ts")

    # calendar hopping: every=1mo period=2mo, closed left (default)
    out = (srt.group_by_dynamic("ts", every="1mo", period="2mo")
           .agg(pl.col("v").sum().alias("s")))
    got = {str(r["ts"])[:10]: r["s"] for r in out.to_a()}
    # windows [dec,feb)=3, [jan,mar)=7, [feb,apr)=12, [mar,may)=24,
    # [apr,jun)=16, [may,jul)=32, [jun,aug)=32
    assert got == {"2023-12-01": 3.0, "2024-01-01": 7.0, "2024-02-01": 12.0,
                   "2024-03-01": 24.0, "2024-04-01": 16.0,
                   "2024-05-01": 32.0, "2024-06-01": 32.0}

    # calendar rolling 1mo look-back (t-1mo, t]
    r = (srt.rolling(index_column="ts", period="1mo")
         .agg(pl.col("v").sum().alias("s")))
    assert [x["s"] for x in r.to_a()] == [1.0, 3.0, 6.0, 12.0, 16.0, 32.0]

    # datapoint-anchored hopping: every=40d period=80d (fixed durations)
    d = (srt.group_by_dynamic("ts", every="40d", period="80d",
                              start_by="datapoint")
         .agg(pl.col("v").sum().alias("s")))
    dd = {str(r["ts"])[:10]: r["s"] for r in d.to_a()}
    # anchor 2024-01-05; grid extends FORWARD only (no window before the
    # first datapoint — round-4 clamp):
    # 01-05: {1,2,4,8}=15 (8 is 03-03 = 58d after anchor < 80 ✓);
    # 02-14: window [02-14,05-04): {8,16}=24;
    # 03-25: [03-25,06-13): {16,32}=48; 05-04: [05-04,07-23): {32}
    assert dd == {"2024-01-05": 15.0, "2024-02-14": 24.0,
                  "2024-03-25": 48.0, "2024-05-04": 32.0}


def test_calendar_rolling_collect_window(spark):
    """Calendar rolling with NON-decomposable aggs takes the collect-window
    path (round-6): one chunked range-frame window collects membership —
    no month-bucket pair join.  min/max/median + empty left-closed windows
    against hand-computed (t-1mo, t] truths.  (Round-9: min/max/median AND
    std are all kernelable now — the first() in the first batch keeps this
    test on the collect-window path, and the values must be identical
    either way.)"""
    ts = [f"2024-{m:02d}-{d:02d} 0{h}:00:00"
          for m, d, h in [(1, 5, 1), (1, 20, 2), (2, 10, 3), (3, 3, 1),
                          (4, 18, 2), (6, 1, 3)]]
    df = pl.DataFrame({"ts": ts, "v": [1.0, 2.0, 4.0, 8.0, 16.0, 32.0]}) \
        .with_columns(pl.col("ts").cast(pl.Datetime)).sort("ts")
    r = (df.rolling(index_column="ts", period="1mo")
         .agg(pl.col("v").max().alias("mx"),
              pl.col("v").min().alias("mn"),
              pl.col("v").median().alias("md"),
              pl.col("v").first().alias("_f")))
    rows = r.to_a()
    assert [x["mx"] for x in rows] == [1.0, 2.0, 4.0, 8.0, 16.0, 32.0]
    assert [x["mn"] for x in rows] == [1.0, 1.0, 2.0, 4.0, 16.0, 32.0]
    assert [x["md"] for x in rows] == [1.0, 1.5, 3.0, 6.0, 16.0, 32.0]
    # the kernel route must agree with the collect-window truths above
    rk = (df.rolling(index_column="ts", period="1mo")
          .agg(pl.col("v").max().alias("mx"),
               pl.col("v").min().alias("mn"),
               pl.col("v").median().alias("md")))
    assert [tuple(x[k] for k in ("mx", "mn", "md")) for x in rk.to_a()] \
        == [tuple(x[k] for k in ("mx", "mn", "md")) for x in rows]
    # left-closed [t-1mo, t): the first window is EMPTY → null min, len 0
    r2 = (df.rolling(index_column="ts", period="1mo", closed="left")
          .agg(pl.col("v").min().alias("mn"), pl.len().alias("n")))
    rows2 = r2.to_a()
    assert rows2[0]["mn"] is None and rows2[0]["n"] == 0
    assert rows2[1]["mn"] == 1.0 and rows2[1]["n"] == 1
    # plan shape: membership via window collect, not a pair join
    plan = r._lf._sdf._jdf.queryExecution().optimizedPlan().toString() \
        if hasattr(r, "_lf") else \
        r.lazy()._sdf._jdf.queryExecution().optimizedPlan().toString()
    assert "collect_list" in plan


def test_rolling_unaliased_name_collision(spark):
    """Round-7 regression (ADVICE r6 #1): an un-aliased rolling aggregate
    keeps its source column's name; materializing it in-place made LATER
    aggregates read the earlier rolling result instead of the source
    column (mean-of-rolling-sums instead of mean-of-v).  Both the direct
    range-frame path and the collect-window path must bind every aggregate
    against the pre-loop columns."""
    import datetime as dt

    ts = [dt.datetime(2024, 1, 1, 0, 0, i) for i in range(8)]
    vs = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0]
    df = pl.DataFrame({"ts": ts, "v": vs})
    # direct path (plain aggs, fixed duration, ungrouped)
    out = (df.rolling(index_column="ts", period="3s")
           .agg(pl.col("v").sum(), pl.col("v").mean().alias("m")))
    rows = sorted(out.to_a(), key=lambda r: r["ts"])
    for i, r in enumerate(rows):
        member = [j for j in range(8)
                  if ts[i] - dt.timedelta(seconds=3) < ts[j] <= ts[i]]
        assert abs(r["v"] - sum(vs[j] for j in member)) < 1e-9
        assert abs(r["m"] - sum(vs[j] for j in member) / len(member)) < 1e-9
    # grouped direct path
    df2 = pl.DataFrame({"ts": ts, "k": ["a", "b"] * 4, "v": vs})
    out2 = (df2.rolling(index_column="ts", period="4s", by="k")
            .agg(pl.col("v").sum(), pl.col("v").mean().alias("m")))
    for r in out2.to_a():
        i = ts.index(r["ts"])
        member = [j for j in range(8)
                  if df2.to_a()[j]["k"] == r["k"]
                  and ts[i] - dt.timedelta(seconds=4) < ts[j] <= ts[i]]
        assert abs(r["v"] - sum(vs[j] for j in member)) < 1e-9
        assert abs(r["m"] - sum(vs[j] for j in member) / len(member)) < 1e-9
    # collect-window path (spearman pre-stage forces it) with an un-aliased
    # first agg whose name shadows the source column
    out3 = (df.rolling(index_column="ts", period="3s")
            .agg(pl.col("v").sum(),
                 pl.corr("v", "v", method="spearman").alias("sp")))
    rows3 = sorted(out3.to_a(), key=lambda r: r["ts"])
    assert [r["v"] for r in rows3] == [1.0, 3.0, 6.0, 9.0, 12.0, 15.0,
                                       18.0, 21.0]


def test_rolling_agg_references_index_column(spark):
    """Round-7 regression (ADVICE r6 #2): a collect-window aggregate that
    reads the INDEX column must see the per-window element values, not the
    outer anchor's scalar (rolling('ts','3s').agg(col('ts').min()) is the
    window start, not the anchor ts)."""
    import datetime as dt

    ts = [dt.datetime(2024, 1, 1, 0, 0, i) for i in range(8)]
    df = pl.DataFrame({"ts": ts, "v": [float(i) for i in range(8)]})
    out = (df.rolling(index_column="ts", period="3s")
           .agg(pl.col("ts").min().alias("w_start"),
                pl.corr("v", "v", method="spearman").alias("sp")))
    rows = sorted(out.to_a(), key=lambda r: r["ts"])
    for i, r in enumerate(rows):
        member = [ts[j] for j in range(8)
                  if ts[i] - dt.timedelta(seconds=3) < ts[j] <= ts[i]]
        assert r["w_start"] == min(member)


def test_ungrouped_plain_rolling_chunked(spark):
    """Ungrouped fixed-duration rolling with plain aggs partitions by the
    time chunk (round-6): multi-task instead of one keyless global window;
    values identical to the naive definition across chunk boundaries."""
    import datetime as dt

    from tools.plan_audit import unpartitioned_window_violations

    n = 50
    ts = [dt.datetime(2024, 1, 1) + dt.timedelta(minutes=13 * i)
          for i in range(n)]
    vs = [float((i * 37) % 11) for i in range(n)]
    df = pl.DataFrame({"ts": ts, "v": vs})
    out = (df.rolling(index_column="ts", period="30m")
           .agg(pl.col("v").sum().alias("sv"), pl.len().alias("cnt")))
    rows = sorted(out.to_a(), key=lambda r: r["ts"])
    for i, r in enumerate(rows):
        lo = ts[i] - dt.timedelta(minutes=30)
        member = [j for j in range(n) if lo < ts[j] <= ts[i]]
        assert r["cnt"] == len(member)
        assert abs(r["sv"] - sum(vs[j] for j in member)) < 1e-9
    plan = (df.rolling(index_column="ts", period="30m")
            .agg(pl.col("v").sum().alias("sv"))
            .lazy()._sdf._jdf.queryExecution().executedPlan().toString())
    assert unpartitioned_window_violations(plan) == 0


def test_ungrouped_rolling_spearman_collect_window(spark):
    """Rolling spearman WITHOUT by-keys (round-6): the collect-window path
    partitions by the time chunk alone, so even an ungrouped per-row
    look-back stays multi-task; values vs a brute-force python oracle."""
    import datetime as dt
    import math

    rnd = __import__("random").Random(7)
    n = 60
    ts = [dt.datetime(2024, 1, 1) + dt.timedelta(minutes=7 * i)
          for i in range(n)]
    xs = [round(rnd.uniform(0, 100), 3) for _ in range(n)]
    ys = [rnd.randint(0, 9) for _ in range(n)]
    df = pl.DataFrame({"ts": ts, "x": xs, "y": ys})
    out = (df.rolling(index_column="ts", period="30m")
           .agg(pl.corr("x", "y", method="spearman").fill_nan(None)
                .round(6).alias("s"), pl.len().alias("n")))
    rows = out.to_a()

    def ranks(vals):
        return [(sum(1 for u in vals if u < v)
                 + sum(1 for u in vals if u <= v) + 1) / 2 for v in vals]

    def pearson(a, b):
        m = len(a)
        sa, sb = sum(a), sum(b)
        cov = sum(p * q for p, q in zip(a, b)) - sa * sb / m
        va = sum(p * p for p in a) - sa * sa / m
        vb = sum(q * q for q in b) - sb * sb / m
        if va <= 0 or vb <= 0:
            return None
        return cov / math.sqrt(va * vb)

    for i, r in enumerate(rows):
        lo = ts[i] - dt.timedelta(minutes=30)
        member = [j for j in range(n) if lo < ts[j] <= ts[i]]
        assert r["n"] == len(member)
        exp = pearson(ranks([xs[j] for j in member]),
                      ranks([ys[j] for j in member]))
        got = r["s"]
        if exp is None:
            assert got is None
        else:
            assert got is not None and abs(got - exp) < 1e-6


def test_mixed_every_and_datapoint_calendar(spark):
    """Round-5 dynamic-window closures (lazy_frame.rb:1416-1458, any
    every/start_by combination): MIXED calendar+fixed every ("1mo10d") and
    start_by='datapoint' with calendar units — previously a raise and a
    silent epoch-grid fallback respectively."""
    import datetime as dt

    df = pl.DataFrame({
        "ts": [dt.datetime(2024, 1, 15), dt.datetime(2024, 2, 3),
               dt.datetime(2024, 2, 20), dt.datetime(2024, 4, 1)],
        "v": [1.0, 2.0, 3.0, 4.0],
    })
    # datapoint + pure-month grid: anchor Jan15 -> [Jan15,Feb15) [Feb15,
    # Mar15) [Mar15,Apr15)
    out = (df.group_by_dynamic("ts", every="1mo", start_by="datapoint")
           .agg(pl.col("v").sum().alias("s")).sort("ts").to_a())
    assert [(str(r["ts"])[:10], r["s"]) for r in out] == [
        ("2024-01-15", 3.0), ("2024-02-15", 3.0), ("2024-03-15", 4.0)]
    # mixed every from the epoch grid: starts at epoch + k*(1mo+10d) ->
    # k=488: 2024-01-11, k=489: 2024-02-20, k=490: 2024-04-01
    out2 = (df.group_by_dynamic("ts", every="1mo10d")
            .agg(pl.col("v").sum().alias("s")).sort("ts").to_a())
    assert [(str(r["ts"])[:10], r["s"]) for r in out2] == [
        ("2024-01-11", 6.0), ("2024-02-20", 3.0), ("2024-04-01", 4.0)]
    # mixed every + datapoint anchor: [Jan15,Feb25) then [Feb25,Apr04)
    out3 = (df.group_by_dynamic("ts", every="1mo10d", start_by="datapoint")
            .agg(pl.col("v").sum().alias("s")).sort("ts").to_a())
    assert [(str(r["ts"])[:10], r["s"]) for r in out3] == [
        ("2024-01-15", 6.0), ("2024-02-25", 4.0)]
    # grouped datapoint calendar: independent anchors per key
    g = pl.DataFrame({
        "ts": [dt.datetime(2024, 1, 10), dt.datetime(2024, 1, 25),
               dt.datetime(2024, 3, 5), dt.datetime(2024, 2, 1)],
        "g": ["a", "a", "a", "b"],
        "v": [1.0, 2.0, 3.0, 9.0],
    })
    out4 = (g.group_by_dynamic("ts", every="1mo", by="g",
                               start_by="datapoint")
            .agg(pl.col("v").sum().alias("s")).sort("g", "ts").to_a())
    assert [(r["g"], str(r["ts"])[:10], r["s"]) for r in out4] == [
        ("a", "2024-01-10", 3.0), ("a", "2024-02-10", 3.0),
        ("b", "2024-02-01", 9.0)]
    # closed='right' drops the anchor row (open left edge, forward-only
    # grid) and hopping (period > every) duplicates into overlaps
    out5 = (df.group_by_dynamic("ts", every="1mo", period="2mo",
                                start_by="datapoint", closed="right")
            .agg(pl.col("v").sum().alias("s")).sort("ts").to_a())
    # windows (Jan15,Mar15] = {Feb3,Feb20} 5.0; (Feb15,Apr15] = {Feb20,
    # Apr1} 7.0; (Mar15,May15] = {Apr1} 4.0
    assert [(str(r["ts"])[:10], r["s"]) for r in out5] == [
        ("2024-01-15", 5.0), ("2024-02-15", 7.0), ("2024-03-15", 4.0)]


def test_spearman_cumulative_eval_dynamic_rolling(spark):
    """Round-5: spearman corr and cumulative_eval inside group_by_dynamic
    and rolling aggs (functions/lazy.rb:679, expr.rb:6684 — any context).
    Dynamic paths bind the agg pre-stage hook against the window-assigned
    frame; rolling routes hooked aggs through the band-join membership
    path (overlapping range frames cannot host a rank window)."""
    import datetime as dt

    from polars_ruby_spark import functions as plf

    df = pl.DataFrame({
        "ts": [dt.datetime(2024, 1, d, h) for d, h in
               [(1, 1), (1, 5), (1, 9), (2, 1), (2, 5), (2, 9)]],
        "x": [1.0, 2.0, 3.0, 1.0, 2.0, 3.0],
        "y": [2.0, 4.0, 9.0, 9.0, 4.0, 2.0],   # monotone +1 day1, -1 day2
    })
    out = (df.group_by_dynamic("ts", every="1d")
           .agg(plf.corr(pl.col("x"), pl.col("y"),
                         method="spearman").alias("s"))
           .sort("ts").to_a())
    assert [(str(r["ts"])[:10], r["s"]) for r in out] == [
        ("2024-01-01", 1.0), ("2024-01-02", -1.0)]
    # cumulative_eval in dynamic agg -> per-window expanding lists
    ce = (df.group_by_dynamic("ts", every="1d")
          .agg(pl.col("x").cumulative_eval(pl.element().sum()).alias("cs"))
          .sort("ts").to_a())
    assert [r["cs"] for r in ce] == [[1.0, 3.0, 6.0], [1.0, 3.0, 6.0]]
    # hopping windows: rows duplicate into overlaps, ranks stay per-window
    hop = (df.group_by_dynamic("ts", every="12h", period="1d")
           .agg(plf.corr(pl.col("x"), pl.col("y"),
                         method="spearman").alias("s"))
           .sort("ts").to_a())
    assert [r["s"] for r in hop] == [1.0, 1.0, -1.0, -1.0]
    # rolling 8h look-back: window of 1 -> null; pairs carry the sign
    r = (df.rolling(index_column="ts", period="8h")
         .agg(plf.corr(pl.col("x"), pl.col("y"),
                       method="spearman").alias("s")))
    assert [x["s"] for x in r.to_a()] == [None, 1.0, 1.0, None, -1.0, -1.0]
    # rolling cumulative_eval: prefix lists over each look-back window
    r2 = (df.rolling(index_column="ts", period="8h")
          .agg(pl.col("x").cumulative_eval(pl.element().max()).alias("cm")))
    assert [x["cm"] for x in r2.to_a()] == [
        [1.0], [1.0, 2.0], [2.0, 3.0], [1.0], [1.0, 2.0], [2.0, 3.0]]
    # datapoint-anchored dynamic + spearman (hook composes with the
    # anchor-grid path)
    dp = (df.group_by_dynamic("ts", every="1d", start_by="datapoint")
          .agg(plf.corr(pl.col("x"), pl.col("y"),
                        method="spearman").alias("s"))
          .sort("ts").to_a())
    assert [r["s"] for r in dp] == [1.0, -1.0]


def test_row_order_preserved_after_ordered_windows(spark):
    """Round-3: polars preserves frame row order through with_columns /
    select / filter even when the binding runs a (keys, row-order) window —
    Spark's WindowExec physically re-sorts by the partition keys, so the
    deferred restore must fire for plain ordered windows too, not only the
    value-ordered (_scrambles_order) ones.  expr.rb over() doctests show
    interleaved groups keeping their original row positions."""
    import polars_ruby_spark as pl

    df = pl.DataFrame({"g": ["a", "b"] * 16, "x": list(range(32))})

    for label, e in [
        ("cum_sum", pl.col("x").cum_sum().over("g")),
        ("shift", pl.col("x").shift(1).over("g")),
        ("rolling", pl.col("x").rolling_sum(2).over("g")),
        ("ffill", pl.col("x").shift(1).forward_fill().over("g")),
    ]:
        rows = df.lazy().with_columns(e.alias("y")).collect().rows()
        assert [r[1] for r in rows] == list(range(32)), label

    # windowed + aggregate predicates are legal filter args (expr.rb
    # filter doctests); output keeps original relative row order
    # group a (evens): cumsum k(k+1) > 5 from x=4; group b (odds):
    # (k+1)^2 > 5 from x=5 — kept rows are exactly 4..31 in original order
    got = df.lazy().filter(pl.col("x").cum_sum().over("g") > 5).collect().rows()
    assert [r[1] for r in got] == list(range(4, 32))

    got2 = df.lazy().filter(pl.col("x") > pl.col("x").mean()).collect().rows()
    assert [r[1] for r in got2] == list(range(16, 32))


def test_sort_key_window_fast_path(spark):
    """Round-3: after an explicit sort(keys), order-safe window binds order
    by the SORT KEYS directly — the plan contains no row-index
    materialization (no sequence index / range re-sort) — while
    producing identical values and row order to the index-backed path."""
    import polars_ruby_spark as pl

    df = pl.DataFrame({
        "g": ["a", "b"] * 16,
        "ts": list(range(31, -1, -1)),
        "x": [float(i) for i in range(32)],
    })

    lf = df.lazy().sort("ts").with_columns(
        pl.col("x").shift(1).over("g").alias("sh"),
        pl.col("x").cum_sum().over("g").alias("cs"),
        pl.col("x").rolling_mean(3).over("g").alias("rm"),
        pl.col("x").diff().over("g").alias("df_"),
    )
    plan = lf._sdf_raw._jdf.queryExecution().optimizedPlan().toString()
    assert "monotonically_increasing_id" not in plan
    assert "distributed_sequence_id" not in plan
    assert "__row_idx__" not in plan

    rows = lf.collect().rows()
    assert [r[1] for r in rows] == list(range(32))      # ts-sorted order
    # ts=2 is ('b', x=29): previous b row (ts=0) had x=31
    assert rows[2][3] == 31.0
    # cum_sum for g='b' at ts=2: 31 + 29
    assert rows[2][4] == 60.0

    # select dropping the sort key: hidden __ord_ copies keep the deferred
    # restore possible, and exports never leak them
    out = df.lazy().sort("ts").with_columns(
        pl.col("x").cum_sum().over("g").alias("cs")).select("g", "cs")
    got = out.collect()
    assert got.columns == ["g", "cs"]
    assert [r[1] for r in got.rows()][:4] == [31.0, 30.0, 60.0, 58.0]

    # overwriting a sort-key column falls back to the index-backed path
    # (restore would otherwise read the new values) — still correct
    ow = df.lazy().sort("ts").with_columns(
        pl.col("ts").cum_sum().over("g").alias("ts")).collect().rows()
    assert ow[0][1] == 0 and ow[1][1] == 1          # b: 0; a: 1
    assert ow[2][1] == 2 and ow[3][1] == 4          # b: 0+2; a: 1+3

    # rank is value-ordered but never reads ROW_IDX — it rides the fast
    # path too (restore via sort keys), mixed with spec-ordered shift
    rk = df.lazy().sort("ts").with_columns(
        pl.col("x").rank("ordinal").over("g").alias("rk"),
        pl.col("x").shift(1).over("g").alias("sh"))
    rrows = rk.collect().rows()
    assert [r[1] for r in rrows] == list(range(32))
    assert rrows[0][3] == 16 and rrows[2][3] == 15  # x desc along ts asc


def test_deferred_sort_ordinal_interplay(spark):
    """The deferred sort must be observed by every ordinal consumer:
    row index, reverse, gather_every, slice, head/tail, group_by first/last
    all see the SORTED order (lazy_frame.rb sort doctests)."""
    import polars_ruby_spark as pl

    df = pl.DataFrame({"k": [3, 1, 4, 1, 5, 9, 2, 6],
                       "g": ["a", "b", "a", "b", "a", "b", "a", "b"]})
    s = df.lazy().sort("k")

    assert [r[0] for r in s.collect().rows()] == [1, 1, 2, 3, 4, 5, 6, 9]
    wri = s.with_row_index().collect().rows()
    assert [(r[0], r[1]) for r in wri[:3]] == [(0, 1), (1, 1), (2, 2)]
    assert [r[0] for r in s.reverse().collect().rows()] == [9, 6, 5, 4, 3, 2, 1, 1]
    assert [r[0] for r in s.gather_every(3).collect().rows()] == [1, 3, 6]
    assert [r[0] for r in s.slice(2, 3).collect().rows()] == [2, 3, 4]
    assert [r[0] for r in s.head(2).collect().rows()] == [1, 1]
    assert [r[0] for r in s.tail(2).collect().rows()] == [6, 9]

    # group_by first/last observe the sorted order
    fl = {r[0]: (r[1], r[2]) for r in s.group_by("g").agg(
        pl.col("k").first().alias("f"),
        pl.col("k").last().alias("l")).collect().rows()}
    assert fl == {"a": (2, 5), "b": (1, 9)}

    # shift on the sorted frame (ungrouped, fast-path-eligible frame)
    sh = s.with_columns(pl.col("k").shift(1).alias("p")).collect().rows()
    assert [r[2] for r in sh] == [None, 1, 1, 2, 3, 4, 5, 6]

    # sort→unique(keep=first/last): keys-ordered dedup window, no row index
    sv = pl.DataFrame({"g": ["a", "a", "b", "b", "a"],
                       "v": [3, 1, 5, 2, None]}).lazy().sort("v")
    assert sorted(sv.unique(subset=["g"], keep="first").collect().rows(),
                  key=str) == [("a", None), ("b", 2)]
    assert sorted(sv.unique(subset=["g"], keep="last").collect().rows(),
                  key=str) == [("a", 3), ("b", 5)]
    uplan = sv.unique(subset=["g"], keep="first") \
        ._sdf_raw._jdf.queryExecution().optimizedPlan().toString()
    assert "__row_idx__" not in uplan


def test_group_agg_order_dependent_fast_path(spark):
    """first/last aggregate via min_by/max_by over the hidden index (Spark's
    F.first merges partial buffers in shuffle-fetch order — cluster-
    nondeterministic); on a deferred-sorted frame the index is a WITHIN-GROUP
    row_number over (keys, sort spec): one exchange, no global sort.
    agg_groups needs GLOBAL positions and must fall back."""
    import polars_ruby_spark as pl

    df = pl.DataFrame({"g": ["c", "a", "c", "b", "a"], "x": [1, 2, 3, 4, 5]})
    lf = df.lazy().sort("x", descending=True).group_by("g").agg(
        pl.col("x").first().alias("f"), pl.col("x").last().alias("l"))
    plan = lf._sdf_raw._jdf.queryExecution().optimizedPlan().toString()
    assert "monotonically_increasing_id" not in plan
    assert "distributed_sequence_id" not in plan
    assert sorted(lf.collect().rows()) == [("a", 5, 2), ("b", 4, 4),
                                           ("c", 3, 1)]

    # agg_groups: global frame positions of the SORTED order
    ag = df.lazy().sort("x", descending=True).group_by("g").agg(
        pl.col("x").agg_groups().alias("ix")).collect().to_a()
    assert {d["g"]: sorted(d["ix"]) for d in ag} == {
        "a": [0, 3], "b": [1], "c": [2, 4]}

    # maintain_order keeps first-appearance group order
    mo = df.lazy().group_by("g", maintain_order=True).agg(
        pl.col("x").sum().alias("s")).collect().to_a()
    assert [d["g"] for d in mo] == ["c", "a", "b"]


def test_implode_str_join_order_and_nulls(spark):
    """implode keeps null ELEMENTS and frame row order (bare collect_list
    drops nulls and is shuffle-fetch-ordered on a cluster); str.join
    concatenates in row order skipping nulls."""
    import polars_ruby_spark as pl

    df = pl.DataFrame({"g": ["b", "a", "b", "a"],
                       "x": [1, None, 3, 4],
                       "s": ["p", None, "q", "r"]})
    r = sorted(df.lazy().group_by("g").agg(
        pl.col("x").implode().alias("lx"),
        pl.col("s").str.join("-").alias("js")).collect().rows())
    assert r == [("a", [None, 4], "r"), ("b", [1, 3], "p-q")]

    assert df.lazy().select(pl.col("x").implode().alias("a")) \
        .collect().rows() == [([1, None, 3, 4],)]

    # sorted frame: implode reflects the (deferred) sort order
    r2 = sorted(df.lazy().sort("x", descending=True, nulls_last=True)
                .group_by("g").agg(pl.col("x").implode().alias("lx"))
                .collect().rows())
    assert r2 == [("a", [4, None]), ("b", [3, 1])]


def test_windowed_ops_inside_agg(spark):
    """Round-5: any order-dependent expr is legal under group_by().agg()
    (lazy_frame.rb:1317) — bare windowables bind as a pre-stage helper
    column over the SAME keys (one logical exchange), then implode."""
    import polars_ruby_spark as pl

    df = pl.DataFrame({"g": ["a", "b", "a", "b", "a", "b"],
                       "v": [5.0, 100.0, 1.0, 200.0, 9.0, 50.0]})
    out = df.group_by("g", maintain_order=True).agg(
        pl.col("v").rank().alias("rk"),
        pl.col("v").cum_sum().alias("cs"),
        pl.col("v").diff().alias("df_"),
        pl.col("v").pct_change().alias("pc"),
        pl.col("v").rolling_mean(2).alias("rm"),
        pl.col("v").peak_max().alias("pm"),
        pl.col("v").rle_id().alias("ri"),
        (pl.col("v").cum_max() * 2).alias("cm2"),
    ).to_a()
    a, b = out[0], out[1]
    assert a["rk"] == [2.0, 1.0, 3.0] and b["rk"] == [2.0, 3.0, 1.0]
    assert a["cs"] == [5.0, 6.0, 15.0] and b["cs"] == [100.0, 300.0, 350.0]
    assert a["df_"] == [None, -4.0, 8.0] and b["df_"] == [None, 100.0, -150.0]
    assert b["pc"] == [None, 1.0, -0.75]
    assert a["rm"] == [None, 3.0, 5.0]
    assert a["pm"] == [True, False, True] and b["pm"] == [False, True, False]
    assert a["ri"] == [0, 1, 2]
    assert a["cm2"] == [10.0, 10.0, 18.0]


def test_arg_ops_group_local_indices(spark):
    """arg_min/arg_max/arg_sort under over()/agg yield GROUP-LOCAL 0-based
    positions (polars evaluates per sub-series); ties → first occurrence."""
    import polars_ruby_spark as pl

    df = pl.DataFrame({"g": ["a", "b", "a", "b", "a", "b"],
                       "v": [5.0, 100.0, 1.0, 200.0, 9.0, 50.0]})
    agg = df.group_by("g", maintain_order=True).agg(
        pl.col("v").arg_max().alias("amx"),
        pl.col("v").arg_min().alias("amn"),
        pl.col("v").arg_sort().alias("asr"),
        pl.col("v").shift(1).arg_max().alias("tmx"),
        pl.col("v").shift(1).arg_sort().alias("tsr"),
    ).to_a()
    a, b = agg[0], agg[1]
    assert (a["amx"], b["amx"]) == (2, 1)
    assert (a["amn"], b["amn"]) == (1, 2)
    assert a["asr"] == [1, 0, 2] and b["asr"] == [2, 0, 1]
    # shifted a=[None,5,1]: max 5 at pos 1; sort → null first
    assert a["tmx"] == 1 and a["tsr"] == [0, 2, 1]
    over = df.with_columns(pl.col("v").arg_max().over("g").alias("x")).to_a()
    assert [r["x"] for r in over] == [2, 1, 2, 1, 2, 1]
    # ties: first occurrence wins deterministically
    t = pl.DataFrame({"v": [3.0, 7.0, 7.0, 3.0]})
    r = t.select(pl.col("v").arg_max().alias("x"),
                 pl.col("v").arg_min().alias("n")).to_a()[0]
    assert r["x"] == 1 and r["n"] == 0


def test_distinct_flags_are_group_local(spark):
    """is_unique/is_duplicated/is_first_distinct/is_last_distinct under
    over()/agg partition by the keys TOO (uniqueness within the group)."""
    import polars_ruby_spark as pl

    df = pl.DataFrame({"g": ["a", "a", "b", "b"],
                       "v": [1.0, 1.0, 1.0, 2.0]})
    out = df.with_columns(
        pl.col("v").is_unique().over("g").alias("u"),
        pl.col("v").is_first_distinct().over("g").alias("f"),
        pl.col("v").is_last_distinct().over("g").alias("l"),
        pl.col("v").is_duplicated().over("g").alias("d")).to_a()
    assert [r["u"] for r in out] == [False, False, True, True]
    assert [r["f"] for r in out] == [True, False, True, True]
    assert [r["l"] for r in out] == [False, True, True, True]
    assert [r["d"] for r in out] == [True, True, False, False]
    # composed over an order-transform inside agg + reduction
    dd = pl.DataFrame({"g": ["a"] * 4, "v": [5.0, 1.0, 5.0, 9.0]})
    r = dd.group_by("g").agg(
        pl.col("v").shift(1).is_unique().alias("iu"),
        pl.col("v").shift(1).is_first_distinct().alias("fd"),
        pl.col("v").shift(1).is_unique().any().alias("an")).to_a()[0]
    # shifted = [None, 5, 1, 5]
    assert r["iu"] == [True, False, True, False]
    assert r["fd"] == [True, True, True, False]
    assert r["an"] is True


def test_reducers_over_transformed_agg(spark):
    """entropy/nan_max/nan_min/unique/approx_n_unique/implode/
    unique_counts/value_counts over order-transformed values inside agg."""
    import math

    import polars_ruby_spark as pl

    df = pl.DataFrame({"g": ["a"] * 6, "v": [5.0, 1.0, 5.0, 1.0, 9.0, 3.0]})
    r = df.group_by("g").agg(
        pl.col("v").shift(1).entropy().alias("en"),
        pl.col("v").shift(1).nan_max().alias("nx"),
        pl.col("v").shift(1).unique().alias("un"),
        pl.col("v").shift(1).approx_n_unique().alias("ap"),
        pl.col("v").shift(1).implode().alias("im"),
        pl.col("v").shift(1).unique_counts().alias("uc"),
        pl.col("v").unique_counts().alias("ub"),
        pl.col("v").value_counts().alias("vc"),
    ).to_a()[0]
    # shifted non-null = [5,1,5,1,9]; entropy base2 normalized
    s = 21.0
    exp = -sum(p / s * math.log2(p / s) for p in [5, 1, 5, 1, 9])
    assert abs(r["en"] - exp) < 1e-9
    assert r["nx"] == 9.0
    assert r["un"] == [None, 5.0, 1.0, 9.0]  # first-appearance order
    assert r["ap"] == 3
    assert r["im"] == [[None, 5.0, 1.0, 5.0, 1.0, 9.0]]
    assert r["uc"] == [1, 2, 2, 1]
    assert r["ub"] == [2, 2, 1, 1]
    assert r["vc"][0] == {"v": 5.0, "count": 2}


def test_gapped_index_positional_consumers(spark):
    """Round-5: a row-subset op (filter) on a frame whose hidden ROW_IDX was
    materialized by a windowed with_columns leaves the kept index GAPPED —
    harmless for order, stale for positions.  Positional consumers
    (arg_min/arg_max/arg_sort, reverse/shuffle index maps, slice,
    agg_groups, arg_where) re-rank to a dense index first."""
    import polars_ruby_spark as pl
    from polars_ruby_spark import functions as plf

    df = pl.DataFrame({"g": ["a", "a", "b", "b", "a"],
                       "v": [10.0, 20.0, 30.0, 40.0, 50.0]})
    d2 = (df.with_columns(pl.col("v").shift(1).over("g").alias("s"))
          .filter(pl.col("v") > 15))          # rows: v = [20, 30, 40, 50]
    r = d2.select(pl.col("v").arg_max().alias("x"),
                  pl.col("v").arg_min().alias("n")).to_a()[0]
    assert (r["x"], r["n"]) == (3, 0)
    assert [q["v"] for q in d2.select(pl.col("v").arg_sort()).to_a()] \
        == [0, 1, 2, 3]
    assert [q["r"] for q in d2.with_columns(
        pl.col("v").reverse().alias("r")).to_a()] == [50.0, 40.0, 30.0, 20.0]
    assert sorted(q["r"] for q in d2.with_columns(
        pl.col("v").shuffle(seed=1).alias("r")).to_a()) \
        == [20.0, 30.0, 40.0, 50.0]
    assert [q["v"] for q in d2.slice(1, 2).to_a()] == [30.0, 40.0]
    ag = d2.group_by("g").agg(pl.col("v").agg_groups().alias("x")) \
        .sort("g").to_a()
    assert [q["x"] for q in ag] == [[0, 3], [1, 2]]
    aw = d2.select(plf.arg_where(pl.col("v") > 25).alias("i")).to_a()
    assert [q["i"] for q in aw] == [1, 2, 3]
    # arg_where INSIDE agg: group-local positions (polars sub-series)
    aw2 = df.group_by("g", maintain_order=True).agg(
        plf.arg_where(pl.col("v") > 15).alias("i")).to_a()
    assert [q["i"] for q in aw2] == [[1, 2], [0, 1]]


def test_listops_sole_select_flatten(spark):
    """Expr head/tail/slice/gather/gather_every as the sole select
    expression flatten to rows (expr.rb:2960 gather_every doctest), while
    agg context keeps list semantics; diff(null_behavior: drop) and rank
    now work inside agg (incl. dynamic group-bys)."""
    import datetime as dt

    import polars_ruby_spark as pl

    df = pl.DataFrame({"v": [10.0, 20.0, 30.0, 40.0]})
    assert [r["v"] for r in df.select(pl.col("v").head(2)).to_a()] \
        == [10.0, 20.0]
    assert [r["v"] for r in df.select(pl.col("v").tail(2)).to_a()] \
        == [30.0, 40.0]
    assert [r["v"] for r in df.select(pl.col("v").slice(1, 2)).to_a()] \
        == [20.0, 30.0]
    assert [r["v"] for r in df.select(pl.col("v").gather([2, 0])).to_a()] \
        == [30.0, 10.0]
    assert [r["v"] for r in df.select(pl.col("v").gather([-1, 0])).to_a()] \
        == [40.0, 10.0]
    assert [r["v"] for r in df.select(pl.col("v").gather_every(2)).to_a()] \
        == [10.0, 30.0]
    g = pl.DataFrame({"g": ["a", "a", "b"], "v": [1.0, 2.0, 3.0]})
    assert g.group_by("g", maintain_order=True).agg(
        pl.col("v").head(1).alias("h")).to_a()[0]["h"] == [1.0]
    dd = g.group_by("g", maintain_order=True).agg(
        pl.col("v").diff(null_behavior="drop").alias("d")).to_a()
    assert [r["d"] for r in dd] == [[1.0], []]
    ts = [dt.datetime(2024, 1, 1, 0, m) for m in (0, 10, 20, 40, 50)]
    dyn = pl.DataFrame({"ts": ts, "v": [1.0, 2.0, 3.0, 4.0, 5.0]})
    out = dyn.sort("ts").group_by_dynamic("ts", every="30m").agg(
        pl.col("v").rank().alias("rk")).to_a()
    assert [r["rk"] for r in out] == [[1.0, 2.0, 3.0], [1.0, 2.0]]


def test_unique_topk_rle_select_and_agg_shapes(spark):
    """unique/top_k/bottom_k as the sole select flatten to ROWS
    (expr.rb:2158/2058 doctests — one hash distinct / TakeOrdered, no
    collect); rle inside group_by().agg yields a LIST of (len,value)
    structs per group (no nested generator)."""
    import polars_ruby_spark as pl

    df = pl.DataFrame({"v": [10.0, 20.0, 10.0, 40.0]})
    u = sorted(r["v"] for r in df.select(pl.col("v").unique()).to_a())
    assert u == [10.0, 20.0, 40.0]
    um = [r["v"] for r in df.select(
        pl.col("v").unique(maintain_order=True)).to_a()]
    assert um == [10.0, 20.0, 40.0]
    assert [r["v"] for r in df.select(pl.col("v").top_k(2)).to_a()] \
        == [40.0, 20.0]
    assert [r["v"] for r in df.select(pl.col("v").bottom_k(2)).to_a()] \
        == [10.0, 10.0]
    g = pl.DataFrame({"g": ["a", "a", "a", "b"], "v": [1.0, 1.0, 2.0, 3.0]})
    r = g.group_by("g", maintain_order=True).agg(
        pl.col("v").rle().alias("r")).to_a()
    assert r[0]["r"] == [{"len": 2, "value": 1.0}, {"len": 1, "value": 2.0}]
    assert r[1]["r"] == [{"len": 1, "value": 3.0}]


def test_agg_over_windowable_and_eval_shapes(spark):
    """Round-5: aggregates OVER windowed inners inside agg (rank().mean(),
    cum_sum().max()) bind via a key-shared pre-stage helper; list.eval
    follows polars' series-length semantics — pure aggregates yield a
    ONE-element list, array-returning aggregates yield that array, full-
    array order ops transform the list, element() shapes broadcast."""
    import polars_ruby_spark as pl

    g = pl.DataFrame({"g": ["a", "a", "b", "b", "a"],
                      "v": [10.0, 20.0, 30.0, 40.0, 50.0]})
    r = g.group_by("g", maintain_order=True).agg(
        pl.col("v").rank().mean().alias("rm"),
        pl.col("v").cum_sum().max().alias("cm"),
        pl.col("v").diff().sum().alias("ds"),
        pl.col("v").shift(1).rank().sum().alias("sr")).to_a()
    assert [x["rm"] for x in r] == [2.0, 1.5]
    assert [x["cm"] for x in r] == [80.0, 70.0]
    assert [x["ds"] for x in r] == [40.0, 10.0]
    assert [x["sr"] for x in r] == [3.0, 1.0]

    df = pl.DataFrame({"l": [[3.0, 1.0, 3.0, None], [5.0, 2.0]]})

    def ev(ex):
        return [q["x"] for q in df.select(
            pl.col("l").list.eval(ex).alias("x")).to_a()]

    assert ev(pl.element().max()) == [[3.0], [5.0]]          # [agg]
    assert ev(pl.element().arg_max()) == [[0], [0]]
    assert ev(pl.element().unique_counts()) == [[2, 1, 1], [1, 1]]
    assert ev(pl.element().shift(1).sum()) == [[7.0], [5.0]]
    assert ev(pl.element().sort()) == [[None, 1.0, 3.0, 3.0], [2.0, 5.0]]
    assert ev(pl.element().is_unique()) \
        == [[False, True, False, True], [True, True]]
    assert ev(pl.element().shift(1).rank()) \
        == [[None, 2.5, 1.0, 2.5], [None, 1.0]]
    # mixed agg+element still broadcasts per element
    assert ev(pl.element() * 2 - pl.element().min()) \
        == [[5.0, 1.0, 5.0, None], [8.0, 2.0]]


def test_qcut_per_group_and_search_sorted_transformed(spark):
    """qcut under over()/agg computes quantile breaks PER GROUP (polars
    sub-series evaluation; was silently global) via one windowed exact
    percentile sharing the keys' exchange; search_sorted reduces an
    order-transformed array; cut honors left_closed bracket notation."""
    import polars_ruby_spark as pl

    g = pl.DataFrame({"g": ["a", "a", "b", "b", "a"],
                      "v": [10.0, 20.0, 30.0, 40.0, 50.0]})
    r = g.group_by("g", maintain_order=True).agg(
        pl.col("v").qcut(2).alias("q"),
        pl.col("v").shift(1).search_sorted(15.0).alias("s")).to_a()
    assert r[0]["q"] == ["(-inf, 20]", "(-inf, 20]", "(20, inf]"]
    assert r[1]["q"] == ["(-inf, 35]", "(35, inf]"]
    assert [x["s"] for x in r] == [1, 0]
    lc = [x["x"] for x in g.select(
        pl.col("v").cut([25.0], left_closed=True).alias("x")).to_a()]
    assert lc == ["[-inf, 25)", "[-inf, 25)", "[25, inf)",
                  "[25, inf)", "[25, inf)"]


def test_selector_expansion_in_agg(spark):
    """pl.all() (any selector) inside group-by aggs: expands BEFORE the
    pre-stage pass (each expanded single can take the windowable route),
    EXCLUDES the grouping keys (polars), and never picks up internal
    helper columns in dynamic/rolling paths."""
    import datetime as dt

    import polars_ruby_spark as pl

    g = pl.DataFrame({"g": ["a", "a", "b"], "v": [1.0, 2.0, 3.0],
                      "w": [4.0, 5.0, 6.0]})
    r = g.group_by("g", maintain_order=True).agg(pl.all().sum()).to_a()
    assert set(r[0].keys()) == {"g", "v", "w"}   # key NOT re-aggregated
    assert r[0]["v"] == 3.0 and r[0]["w"] == 9.0
    r = g.group_by("g", maintain_order=True).agg(pl.all().cum_sum()).to_a()
    assert r[0]["v"] == [1.0, 3.0] and r[0]["w"] == [4.0, 9.0]
    r = g.group_by("g", maintain_order=True).agg(
        pl.all().exclude("w").arg_max()).to_a()
    assert [x["v"] for x in r] == [1, 0]
    ts = [dt.datetime(2024, 1, 1, 0, m) for m in (0, 10, 40)]
    dd = pl.DataFrame({"ts": ts, "v": [1.0, 2.0, 3.0]})
    r = dd.sort("ts").group_by_dynamic("ts", every="30m").agg(
        pl.all().sum()).to_a()
    assert set(r[0].keys()) == {"ts", "v"}
    r = dd.sort("ts").rolling("ts", period="30m").agg(pl.all().sum()).to_a()
    assert set(r[0].keys()) == {"ts", "v"} and [x["v"] for x in r] \
        == [1.0, 3.0, 3.0]


def test_agg_over_transformed_inner_under_over(spark):
    """Aggregate of an order-transformed inner UNDER over(keys) reduces
    the per-group transformed array from ONE collected window (polars
    per-sub-series semantics; a global shift would be silently wrong);
    windowed inners with no array route raise with the rewrite."""
    import pytest

    import polars_ruby_spark as pl

    g = pl.DataFrame({"g": ["a", "a", "b", "b", "a"],
                      "v": [10.0, 20.0, 30.0, 40.0, 50.0]})
    out = g.with_columns(
        pl.col("v").shift(1).sum().over("g").alias("s"),
        pl.col("v").shift(1).mean().over("g").alias("m"),
        pl.col("v").shift(1).n_unique().over("g").alias("n")).to_a()
    assert [r["s"] for r in out] == [30.0, 30.0, 30.0, 30.0, 30.0]
    assert [r["m"] for r in out] == [15.0, 15.0, 30.0, 30.0, 15.0]
    assert [r["n"] for r in out] == [3, 3, 2, 2, 3]
    with pytest.raises(NotImplementedError):
        g.with_columns(pl.col("v").rank().mean().over("g").alias("x")) \
            .to_a()


def test_struct_of_aggs_and_join_route(spark):
    """pl.struct of aggregates is itself an aggregate inside agg (polars;
    was implicitly imploded into a nested-aggregate error); str.join rides
    the order-transformed array route."""
    import polars_ruby_spark as pl

    g = pl.DataFrame({"g": ["a", "a", "b"], "v": [1.0, 2.0, 3.0]})
    r = g.group_by("g", maintain_order=True).agg(
        pl.struct(s=pl.col("v").sum(), m=pl.col("v").mean()).alias("x")).to_a()
    assert r[0]["x"] == {"s": 3.0, "m": 1.5}
    r = g.group_by("g", maintain_order=True).agg(
        pl.struct(c=pl.col("v").cum_sum()).alias("x")).to_a()
    assert r[0]["x"] == [{"c": 1.0}, {"c": 3.0}]
    j = pl.DataFrame({"g": ["a", "a"], "s": ["p", "q"]}).group_by("g").agg(
        pl.col("s").shift(1).str.join("-").alias("x")).to_a()
    assert j[0]["x"] == "p"


def test_nary_constructors_of_aggregates(spark):
    """n-ary constructors whose every non-literal input aggregates are
    themselves aggregates inside agg (round-5 _merge_agg_flags):
    when/then/otherwise, concat_str, format, coalesce, concat_list,
    min/max_horizontal — mixed per-row forms keep list semantics."""
    import polars_ruby_spark as pl
    from polars_ruby_spark import functions as plf

    g = pl.DataFrame({"g": ["a", "a", "b"], "v": [1.0, 2.0, 3.0],
                      "s": ["p", "q", "r"]})
    r = g.group_by("g", maintain_order=True).agg(
        pl.when(pl.col("v").sum() > 2).then(pl.col("v").max())
          .otherwise(pl.lit(0.0)).alias("w"),
        plf.concat_str([pl.col("s").first(), pl.col("s").last()],
                       separator="|").alias("c"),
        plf.coalesce([pl.col("v").filter(pl.col("v") > 5).max(),
                      pl.col("v").min()]).alias("co"),
        plf.concat_list([pl.col("v").min(), pl.col("v").max()]).alias("cl"),
        plf.min_horizontal([pl.col("v").min(), pl.col("v").mean()])
           .alias("mh"),
        plf.format("{}-{}", pl.col("v").min(), pl.col("v").max())
           .alias("f"),
        pl.when(pl.col("v") > 1).then(pl.col("v")).otherwise(pl.lit(0.0))
          .alias("mixed"),
    ).to_a()
    a, b = r[0], r[1]
    assert (a["w"], b["w"]) == (2.0, 3.0)
    assert (a["c"], b["c"]) == ("p|q", "r|r")
    assert (a["co"], b["co"]) == (1.0, 3.0)
    assert a["cl"] == [1.0, 2.0] and b["cl"] == [3.0, 3.0]
    assert (a["mh"], b["mh"]) == (1.0, 3.0)
    assert (a["f"], b["f"]) == ("1.0-2.0", "3.0-3.0")
    assert a["mixed"] == [0.0, 2.0] and b["mixed"] == [3.0]


def test_filter_and_sample_element_semantics(spark):
    """Expr.filter REMOVES non-matching elements in agg/list contexts
    (polars; the null-mask stays only inside null-skipping aggregates) and
    removes rows as a sole select; Expr.sample works inside agg with the
    deterministic seeded pick."""
    import polars_ruby_spark as pl

    g = pl.DataFrame({"g": ["a", "a", "b", "b", "a"],
                      "v": [10.0, 20.0, 30.0, 40.0, 50.0],
                      "w": [1.0, 2.0, 3.0, 4.0, 5.0]})
    r = g.group_by("g", maintain_order=True).agg(
        pl.col("v").filter(pl.col("w") > 1).alias("lst"),
        pl.col("v").shift(1).filter(pl.col("w") > 1).alias("tl"),
        pl.col("v").filter(pl.col("w") > 1).len().alias("ln"),
        pl.col("v").filter(pl.col("w") > 1).sum().alias("s"),
        pl.col("v").filter(pl.col("w") > 1).first().alias("f"),
        pl.col("v").sample(n=1, seed=7).alias("sm")).to_a()
    a, b = r[0], r[1]
    assert a["lst"] == [20.0, 50.0] and b["lst"] == [30.0, 40.0]
    assert a["tl"] == [10.0, 20.0] and b["tl"] == [None, 30.0]
    assert (a["ln"], b["ln"]) == (2, 2)
    assert (a["s"], b["s"]) == (70.0, 70.0)
    assert (a["f"], b["f"]) == (20.0, 30.0)
    assert len(a["sm"]) == 1 and len(b["sm"]) == 1
    sel = [x["v"] for x in g.select(
        pl.col("v").filter(pl.col("w") > 2)).to_a()]
    assert sel == [30.0, 40.0, 50.0]


def test_listops_over_transformed_inner(spark):
    """head/tail/slice/gather/drop_nulls/top_k/bottom_k over an order-
    transformed inner inside agg ride the composed array route."""
    import polars_ruby_spark as pl

    g = pl.DataFrame({"g": ["a", "a", "b", "b", "a"],
                      "v": [10.0, 20.0, 30.0, 40.0, 50.0]})
    r = g.group_by("g", maintain_order=True).agg(
        pl.col("v").shift(1).drop_nulls().alias("dn"),
        pl.col("v").shift(1).head(2).alias("hd"),
        pl.col("v").shift(1).top_k(2).alias("tk"),
        pl.col("v").shift(1).bottom_k(1).alias("bk"),
        pl.col("v").shift(1).gather([1]).alias("gt")).to_a()
    a, b = r[0], r[1]
    assert a["dn"] == [10.0, 20.0] and b["dn"] == [30.0]
    assert a["hd"] == [None, 10.0] and b["hd"] == [None, 30.0]
    assert a["tk"] == [20.0, 10.0] and b["tk"] == [30.0]
    assert a["bk"] == [10.0] and b["bk"] == [30.0]
    assert a["gt"] == [10.0] and b["gt"] == [30.0]


def test_rle_id_null_first_value(spark):
    """rle_id starts at 0 when the FIRST value is null (the missing lag
    null-safe-equals a null first value and started run ids at -1 — both
    the windowed and the distributed two-pass variants)."""
    import polars_ruby_spark as pl

    d = pl.DataFrame({"v": [None, 1.0, 1.0, 2.0]})
    assert [r["x"] for r in d.with_columns(
        pl.col("v").rle_id().alias("x")).to_a()] == [0, 1, 1, 2]
    g = pl.DataFrame({"g": ["a", "a", "b"], "v": [None, 1.0, 2.0]})
    assert [r["x"] for r in g.with_columns(
        pl.col("v").rle_id().over("g").alias("x")).to_a()] == [0, 1, 0]
    s = pl.DataFrame({"g": ["a"] * 3, "v": [10.0, 20.0, 30.0]})
    assert s.group_by("g").agg(pl.col("v").shift(1).rle_id().alias("x")) \
        .to_a()[0]["x"] == [0, 1, 2]


def test_replace_cut_over_transformed_and_null_bins(spark):
    """replace/replace_strict/cut propagate order flags (work over
    shift(1) inside agg via the pre-stage); cut leaves nulls UNBINNED."""
    import polars_ruby_spark as pl

    g = pl.DataFrame({"g": ["a", "a", "b"], "v": [1.0, 2.0, 3.0]})
    r = g.group_by("g", maintain_order=True).agg(
        pl.col("v").shift(1).replace({1.0: 9.0}).alias("rp"),
        pl.col("v").shift(1).replace_strict({1.0: 9.0}, default=0.0)
          .alias("rs"),
        pl.col("v").shift(1).cut([1.5]).alias("ct")).to_a()
    assert r[0]["rp"] == [None, 9.0] and r[1]["rp"] == [None]
    assert r[0]["rs"] == [0.0, 9.0]
    assert r[0]["ct"] == [None, "(-inf, 1.5]"]
    assert [x["x"] for x in pl.DataFrame({"v": [None, 1.0]}).select(
        pl.col("v").cut([1.5]).alias("x")).to_a()] == [None, "(-inf, 1.5]"]


def test_append_extend_constant_in_agg(spark):
    """append / extend_constant inside agg concatenate per-group series
    (were frame-only); the sole-select paths keep flattened rows."""
    import polars_ruby_spark as pl

    g = pl.DataFrame({"g": ["a", "a", "b"], "v": [1.0, 2.0, 3.0]})
    r = g.group_by("g", maintain_order=True).agg(
        pl.col("v").append(pl.col("v").max()).alias("ap"),
        pl.col("v").extend_constant(9.0, 2).alias("ec")).to_a()
    assert r[0]["ap"] == [1.0, 2.0, 2.0] and r[1]["ap"] == [3.0, 3.0]
    assert r[0]["ec"] == [1.0, 2.0, 9.0, 9.0]
    assert [x["v"] for x in g.select(
        pl.col("v").extend_constant(9.0, 1)).to_a()] == [1.0, 2.0, 3.0, 9.0]


def test_cum_diff_inside_list_eval(spark):
    """cum_*/diff/pct_change inside list.eval compile to prefix HOFs over
    the eval list (no window), composing over routed inners (shift) and
    counting booleans like polars cum_sum."""
    import polars_ruby_spark as pl

    df = pl.DataFrame({"l": [[3.0, 1.0, 3.0, None], [5.0, 2.0]],
                       "lb": [[True, False, True], [False, False]]})

    def ev(c, ex):
        return [r["x"] for r in df.select(
            pl.col(c).list.eval(ex).alias("x")).to_a()]

    assert ev("l", pl.element().cum_sum()) \
        == [[3.0, 4.0, 7.0, None], [5.0, 7.0]]
    assert ev("l", pl.element().cum_max()) \
        == [[3.0, 3.0, 3.0, None], [5.0, 5.0]]
    assert ev("l", pl.element().cum_count()) == [[1, 2, 3, 3], [1, 2]]
    assert ev("lb", pl.element().cum_sum()) == [[1, 1, 2], [0, 0]]
    assert ev("l", pl.element().diff()) \
        == [[None, -2.0, 2.0, None], [None, -3.0]]
    assert ev("l", pl.element().shift(1).cum_sum()) \
        == [[None, 3.0, 4.0, 7.0], [None, 5.0]]


def test_list_eval_positional_composition(spark):
    """Per-element ORDER-DEPENDENT exprs composed with element() inside
    list.eval bind positionally (round-6; list_expr.rb:787 arbitrary
    nesting): the order op's full-array route computes the transformed
    series over the eval list and each element picks its own index."""
    import polars_ruby_spark as pl

    df = pl.DataFrame({"l": [[1.0, 2.0, 5.0], [7.0, 7.0], []]})

    def ev(ex):
        return [r["x"] for r in df.select(
            pl.col("l").list.eval(ex).alias("x")).to_a()]

    assert ev(pl.element() - pl.element().shift(1)) \
        == [[None, 1.0, 3.0], [None, 0.0], []]
    assert ev(pl.element() * 2 + pl.element().diff(1)) \
        == [[None, 5.0, 13.0], [None, 14.0], []]
    assert ev(pl.element() - pl.element().cum_sum()) \
        == [[0.0, -1.0, -3.0], [0.0, -7.0], []]


def test_list_eval_np_kernel_matches_hof(spark):
    """Round-7: numpy-expressible positional eval programs route through
    the vectorized Arrow kernel (exprs._np_eval_column); results must be
    BIT-identical to the interpreted JVM HOF route on both float widths,
    including null-vs-NaN separation, Spark's `/`-nulls-zero-divisor rule,
    and float32 staying float32 under int literals but promoting under
    float literals."""
    import math

    import polars_ruby_spark as pl
    import polars_ruby_spark.exprs as EX

    df = pl.DataFrame(
        {"a": [[1.0, 2.5, None, 7.0], [4.0], [], None, [float("nan"), 3.0]]})
    frames = [df, df.with_columns(pl.col("a").cast(pl.List(pl.Float32)))]

    def cases():
        return {
            "d": pl.element() - pl.element().shift(1),
            "z": pl.element() * 2 + pl.element().diff(1),
            "p": pl.element().pct_change(1),
            "neg": -abs(pl.element()) * 2.5,
            "sh_fill": pl.element().shift(-1, fill_value=0),
            "divzero": pl.element() / (pl.element() - pl.element()),
            "rsub": 10 - pl.element(),
        }

    def norm(x):
        if x is None:
            return None
        return [("nan" if isinstance(v, float) and math.isnan(v) else v)
                for v in x]

    orig = EX._np_eval_column
    try:
        for frame in frames:
            for name in cases():
                EX._np_eval_column = orig
                e = cases()[name]
                assert e._np_prog is not None, name  # kernel actually engaged
                got = [norm(r["x"]) for r in frame.select(
                    pl.col("a").list.eval(e).alias("x")).to_a()]
                EX._np_eval_column = lambda *a, **k: None
                want = [norm(r["x"]) for r in frame.select(
                    pl.col("a").list.eval(cases()[name]).alias("x")).to_a()]
                assert got == want, (name, got, want)
    finally:
        EX._np_eval_column = orig


def test_cumulative_eval_np_kernel_matches_hof(spark):
    """Round-7: prefix-aggregate cumulative_eval programs route through
    the O(g) cumulative Arrow kernel; results must match the indexed-HOF
    route bit-for-bit across float NaN/null edges and int64 columns, in
    grouped and ungrouped contexts."""
    import math

    import polars_ruby_spark as pl
    import polars_ruby_spark.exprs as EX

    df = pl.DataFrame({
        "g": ["a", "a", "a", "b", "b", "a", "b", "b"],
        "x": [3.0, None, 1.0, 5.0, float("nan"), 2.0, None, 4.0],
        "k": [7, None, 3, 9, 2, None, 5, 1],
    }).with_columns(pl.col("k").cast(pl.Int64))

    def cases():
        return {
            "mean": pl.element().mean(),
            "spread": pl.element().max() - pl.element().min(),
            "maxfirst": pl.element().max() - pl.element().first(),
            "cnt_ratio": pl.element().count() / pl.element().len(),
            "std": pl.element().std(),
        }

    def norm(v):
        if isinstance(v, float):
            return "nan" if math.isnan(v) else round(v, 9)
        return v

    orig = EX._np_cumeval_pairs
    try:
        for col in ("x", "k"):
            for name in cases():
                for grouped in (False, True):
                    EX._np_cumeval_pairs = orig
                    e = pl.col(col).cumulative_eval(cases()[name])
                    assert cases()[name]._np_prog is not None, name
                    if grouped:
                        e = e.over("g")
                    got = [norm(r["r"]) for r in
                           df.with_columns(e.alias("r")).to_a()]
                    EX._np_cumeval_pairs = lambda *a, **k: None
                    e2 = pl.col(col).cumulative_eval(cases()[name])
                    if grouped:
                        e2 = e2.over("g")
                    want = [norm(r["r"]) for r in
                            df.with_columns(e2.alias("r")).to_a()]
                    assert got == want, (col, name, grouped, got, want)
    finally:
        EX._np_cumeval_pairs = orig


def test_collect_based_aggs_under_over(spark):
    """quantile/mode/unique/implode under over(keys): collect-based
    reducers can't wrap .over around an inner collect_list — they reduce
    ONE windowed collect instead (broadcast per group, polars scalar/list
    semantics)."""
    import polars_ruby_spark as pl

    g = pl.DataFrame({"g": ["a", "a", "b"], "v": [1.0, 2.0, 3.0]})
    out = g.with_columns(
        pl.col("v").quantile(0.5).over("g").alias("q"),
        pl.col("v").mode().over("g").alias("m"),
        pl.col("v").unique().over("g").alias("u")).to_a()
    assert [r["q"] for r in out] == [2.0, 2.0, 3.0]
    assert [r["m"] for r in out] == [[1.0, 2.0], [1.0, 2.0], [3.0]]
    assert [r["u"] for r in out] == [[1.0, 2.0], [1.0, 2.0], [3.0]]


def test_ewm_kernel_multipartition_carry(spark):
    """Round-8 Arrow-kernel ungrouped ewm: the per-partition numpy scans
    + carry fold must agree with the single-partition result across a
    REAL multi-partition pinned layout (the local suites otherwise run
    one partition, leaving the cross-partition composition unexercised).
    Covers all four forms (adjust x ignore_nulls; the reset form is
    adjust=False, ignore_nulls=False), mean and std, with nulls
    straddling partition boundaries.  Each form also runs as a one-item
    batch — the shape a lone ungrouped ewm binding attaches with.  The
    reset form is then checked against pandas on hand-cut partitions: an
    all-null partition, an observation gap spanning two partition
    boundaries, a batch mixing it with a standard form, min_periods=3
    with bias=True, and an index left gapped (gaps count rows)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from polars_ruby_spark.operators.ewm import attach_ewm_global_multi
    from polars_ruby_spark.session import ROW_IDX

    rng = np.random.RandomState(7)
    vals = [None if rng.rand() < 0.25 else round(float(rng.randn()), 3)
            for _ in range(403)]
    rows = [(i, v) for i, v in enumerate(vals)]
    sdf = spark.createDataFrame(rows, f"{ROW_IDX} long, x double")
    multi = sdf.repartitionByRange(5, F.col(ROW_IDX).asc()) \
        .localCheckpoint(eager=False)
    multi._plsq_idx_pinned = True       # exercise the pinned fast path
    single = sdf.coalesce(1).localCheckpoint(eager=False)
    single._plsq_idx_pinned = True

    def r9(v):
        return None if v is None else round(v, 9)

    for adjust, ign in [(True, True), (True, False), (False, True),
                        (False, False)]:
        spec_m = {"kind": "mean", "alpha": 0.4, "lam": 0.6, "adjust": adjust,
                  "ignore_nulls": ign, "bias": False, "min_periods": 1}
        spec_s = dict(spec_m, kind="std")
        items = [(lambda df: F.col("x"), spec_m, "em"),
                 (lambda df: F.col("x"), spec_s, "es")]
        got_m = attach_ewm_global_multi(multi, items) \
            .orderBy(ROW_IDX).select("em", "es").collect()
        got_1 = attach_ewm_global_multi(single, items) \
            .orderBy(ROW_IDX).select("em", "es").collect()
        gm = [(r9(r["em"]), r9(r["es"])) for r in got_m]
        g1 = [(r9(r["em"]), r9(r["es"])) for r in got_1]
        assert gm == g1, f"adjust={adjust} ign={ign}"
        solo = attach_ewm_global_multi(multi, items[:1]) \
            .orderBy(ROW_IDX).select("em").collect()
        assert [r9(r["em"]) for r in solo] == [m for m, _s in gm], \
            f"one-item batch adjust={adjust} ign={ign}"
        # and both match pandas
        s = pd.Series([np.nan if v is None else v for v in vals])
        ew = s.ewm(alpha=0.4, adjust=adjust, ignore_na=ign, min_periods=1)
        exp_m = ew.mean()
        exp_s = np.sqrt(ew.var(bias=False))
        cnt = 0
        for i, v in enumerate(vals):
            cnt += v is not None
            em, es = gm[i]
            if cnt == 0:
                assert em is None and es is None
            else:
                assert abs(em - float(exp_m.iloc[i])) < 1e-6
                if cnt == 1:
                    assert es == 0.0
                else:
                    assert abs(es - float(exp_s.iloc[i])) < 1e-6

    def sliced(values, n_slices, step=1):
        # parallelize cuts the list into contiguous, equal slices
        rdd = spark.sparkContext.parallelize(
            [(i * step, v) for i, v in enumerate(values)], n_slices)
        frame = spark.createDataFrame(rdd, f"{ROW_IDX} long, x double")
        frame._plsq_idx_pinned = True
        return frame

    def check(frame, values, specs):
        items = [(lambda df: F.col("x"), spec, f"o{i}")
                 for i, spec in enumerate(specs)]
        got = attach_ewm_global_multi(frame, items).orderBy(ROW_IDX) \
            .collect()
        assert len(got) == len(values)
        s = pd.Series([np.nan if v is None else v for v in values])
        for i, spec in enumerate(specs):
            ew = s.ewm(alpha=spec["alpha"], adjust=spec["adjust"],
                       ignore_na=spec["ignore_nulls"],
                       min_periods=spec["min_periods"])
            if spec["kind"] == "mean":
                exp = ew.mean()
            else:
                exp = ew.var(bias=spec["bias"])
                if spec["kind"] == "std":
                    exp = np.sqrt(exp)
            for r, e in zip(got, exp):
                if np.isnan(e):
                    assert r[f"o{i}"] is None, spec
                else:
                    assert abs(r[f"o{i}"] - e) < 1e-9, spec

    reset = {"kind": "mean", "alpha": 0.4, "lam": 0.6, "adjust": False,
             "ignore_nulls": False, "bias": False, "min_periods": 1}
    # rows 0-8 observed, 9-25 null, 26-47 observed but for 40 and 44: in
    # four slices of 12, slice 1 holds no observation and the gap from
    # row 8 to row 26 spans two partition boundaries
    gappy = ([round(float(v), 3) for v in rng.randn(9)] + [None] * 17
             + [round(float(v), 3) for v in rng.randn(22)])
    gappy[40] = gappy[44] = None
    frame = sliced(gappy, 4)
    assert [sum(r["x"] is not None for r in part)
            for part in frame.rdd.glom().collect()] == [9, 0, 10, 10]
    near_reset = dict(reset, alpha=0.999, lam=1 - 0.999)
    check(frame, gappy, [reset, near_reset])
    # mixed batch: one standard-form item beside the reset item
    check(frame, gappy, [dict(reset, adjust=True), reset])
    check(sliced(gappy, 4, step=3), gappy, [reset])
    # std/var on dense input (right after a near-reset gap the closed form
    # (s2 - s1^2)/(1 - sq) is ill-conditioned); alpha 0.95 crosses log
    # blocks inside each partition
    dense = [round(float(v), 3) for v in rng.randn(400)]
    check(sliced(dense, 4), dense,
          [dict(reset, kind="std", alpha=0.95, lam=1 - 0.95, bias=True,
                min_periods=3),
           dict(reset, kind="var", min_periods=3)])


def test_ewm_reset_attach_launches_no_job(spark):
    """Building an ungrouped reset-form ewm attach over a pinned index is
    lazy: construction starts no Spark job; the carries are folded when
    the result executes."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from polars_ruby_spark.operators.ewm import attach_ewm_global_multi
    from polars_ruby_spark.session import ROW_IDX

    vals = [1.0, None, 3.0, 2.5, None, None, 8.0, 0.5, 4.0, None, 7.5, 6.0]
    sdf = spark.createDataFrame(
        spark.sparkContext.parallelize(list(enumerate(vals)), 3),
        f"{ROW_IDX} long, x double")
    sdf._plsq_idx_pinned = True
    spec = {"kind": "std", "alpha": 0.4, "lam": 0.6, "adjust": False,
            "ignore_nulls": False, "bias": True, "min_periods": 1}
    items = [(lambda df: F.col("x"), dict(spec, kind="mean"), "em"),
             (lambda df: F.col("x"), spec, "es")]
    sc = spark.sparkContext
    sc.setJobGroup("ewm-reset-attach", "construct")
    try:
        out = attach_ewm_global_multi(sdf, items)
    finally:
        sc._jsc.clearJobGroup()
    assert list(sc.statusTracker().getJobIdsForGroup(
        "ewm-reset-attach")) == []
    rows = out.orderBy(ROW_IDX).collect()
    ew = pd.Series([np.nan if v is None else v for v in vals]).ewm(
        alpha=0.4, adjust=False, ignore_na=False)
    for r, m, v in zip(rows, ew.mean(), ew.var(bias=True)):
        assert abs(r["em"] - m) < 1e-12
        assert abs(r["es"] - np.sqrt(v)) < 1e-12


def test_ewm_grouped_kernel_matches_pandas(spark):
    """ewm under over(keys) is one mapInArrow over the frame hash-
    partitioned on the keys and sorted by (keys, ROW_IDX) within
    partitions.  Every adjust x ignore_nulls form of mean/var/std matches
    pandas per group, on 3 input partitions whose ROW_IDX order is
    shuffled, with 7-row Arrow batches (so a key spans many batches), a
    null key and a two-column key; an array key (compared element-wise
    in Python) groups like the two columns it packs, and a float key,
    bare or inside an array, groups NaN with NaN and -0.0 with 0.0.  The
    plan has no Window, one Exchange and one MapInArrow, and construction
    starts no Spark job."""
    import itertools

    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from polars_ruby_spark.operators.ewm import attach_ewm_grouped
    from polars_ruby_spark.session import ROW_IDX

    rng = np.random.RandomState(11)
    n = 300
    g = rng.choice(["a", "b", "c", None], n, p=[0.6, 0.2, 0.1, 0.1])
    h = [None if rng.rand() < 0.2 else int(rng.randint(2)) for _ in range(n)]
    x = [None if rng.rand() < 0.25 else round(float(rng.randn()), 3)
         for _ in range(n)]
    rows = list(zip(range(n), g.tolist(), h, x))
    rng.shuffle(rows)
    sdf = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3),
                                f"{ROW_IDX} long, g string, h int, x double")
    pdf = pd.DataFrame(sorted(rows), columns=[ROW_IDX, "g", "h", "x"])
    forms = list(itertools.product(["mean", "var", "std"], [True, False],
                                   [True, False]))

    def spec(kind, adjust, ign):
        return {"kind": kind, "alpha": 0.3, "lam": 0.7, "adjust": adjust,
                "ignore_nulls": ign, "bias": False, "min_periods": 1}

    def attach(frame, keys, form, name):
        return attach_ewm_grouped(
            frame, lambda df: F.col("x"),
            lambda df: [F.col(k) for k in keys] if isinstance(keys, list)
            else [keys], spec(*form), name)

    sc = spark.sparkContext
    sc.setJobGroup("ewm-grouped-attach", "construct")
    try:
        one = attach(sdf, ["g"], forms[0], "e")
    finally:
        sc._jsc.clearJobGroup()
    assert list(sc.statusTracker().getJobIdsForGroup(
        "ewm-grouped-attach")) == []
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert plan.count("Exchange") == 1 and plan.count("MapInArrow") == 1

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        for keys in (["g"], ["g", "h"]):
            out = sdf
            for i, form in enumerate(forms):
                out = attach(out, keys, form, f"e{i}")
            if len(keys) == 2:
                packed = F.array(F.col("g"), F.col("h").cast("string"))
                out = attach(out, packed, forms[-1], "arr")
            got = pd.DataFrame(out.collect(), columns=out.columns) \
                .sort_values(ROW_IDX).reset_index(drop=True)
            if len(keys) == 2:
                np.testing.assert_allclose(
                    got["arr"].astype(float), got[f"e{len(forms) - 1}"]
                    .astype(float), rtol=0, atol=0)
            grp = pdf.groupby(keys, dropna=False, sort=False)["x"]
            seen = grp.transform(lambda s: s.notna().cumsum())
            for i, (kind, adjust, ign) in enumerate(forms):
                ew = grp.transform(lambda s: getattr(s.ewm(
                    alpha=0.3, adjust=adjust, ignore_na=ign), kind)())
                # a lone observation's variance is 0, as in polars
                exp = ew.where(ew.notna() | (seen == 0), 0.0)
                np.testing.assert_allclose(
                    got[f"e{i}"].astype(float), exp, rtol=1e-12,
                    atol=1e-12, err_msg=f"{keys} {kind} {adjust} {ign}")
        # float keys: NaN is one group, -0.0 joins 0.0, null is its own
        nan = float("nan")
        kv = [0.0, -0.0, nan, 1.0, nan, None, 0.0, None, -0.0, 1.0]
        fl = spark.createDataFrame(
            [(i, k, float(i)) for i, k in enumerate(kv)],
            f"{ROW_IDX} long, k double, x double")
        got = attach(attach(fl, ["k"], forms[0], "e"),
                     F.array(F.col("k")), forms[0], "ea") \
            .orderBy(ROW_IDX).collect()
        lab = ["null" if k is None else "nan" if k != k else str(abs(k))
               for k in kv]
        exp = pd.Series(np.arange(10.0)).groupby(lab).transform(
            lambda s: s.ewm(alpha=0.3).mean())
        np.testing.assert_allclose([r["e"] for r in got], exp, rtol=1e-12)
        np.testing.assert_allclose([r["ea"] for r in got], exp, rtol=1e-12)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)


def test_ewm_reset_form_keeps_inf(spark):
    """An infinite observation keeps the reset form's running mean
    infinite, ungrouped and under over(), as pandas does: the scan's
    block sums are plain sequential sums (a compensated running sum
    turns inf into NaN at the next step)."""
    inf = float("inf")
    df = pl.DataFrame({"g": ["a"] * 4, "x": [1.0, inf, 2.0, 3.0]})
    e = pl.col("x").ewm_mean(alpha=0.5, adjust=False, ignore_nulls=False)
    rows = df.with_columns(e.alias("u"), e.over("g").alias("o")).to_a()
    assert [r["u"] for r in rows] == [1.0, inf, inf, inf]
    assert [r["o"] for r in rows] == [1.0, inf, inf, inf]


def test_spearman_over_defers_order_restore(spark):
    """round-11: the spearman .over(keys) hook must NOT eagerly range-sort
    back to row order mid-plan — sibling binds in the same with_columns
    then re-exchange by the same keys and the restore pays a full-data
    rangepartitioning Exchange + Sort for nothing.  Order correctness
    rides the deferred order-dirty contract (values checked below against
    scipy-computed truth; order asserted via the exported rows)."""
    df = pl.DataFrame({
        "g": ["a", "b", "a", "b", "a", "b", "a", "a"],
        "x": [1.0, 5.0, 2.0, 1.0, 4.0, 2.0, 3.0, 8.0],
        "y": [2.0, 1.0, 1.0, 5.0, 8.0, 4.0, 5.0, 9.0],
    }).lazy()
    out = df.with_columns(
        pl.corr("x", "y", method="spearman").over("g").round(6).alias("sp"),
        pl.col("x").entropy().over("g").round(6).alias("ent"),
    )
    plan = out._sdf_raw._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan  # no mid-plan order restore
    rows = out.collect().to_a()
    # original row order preserved at export (polars semantics)
    assert [r["x"] for r in rows] == [1.0, 5.0, 2.0, 1.0, 4.0, 2.0, 3.0, 8.0]
    # per-group spearman of group a: ranks align except the (2,1) swap
    a_sp = [r["sp"] for r in rows if r["g"] == "a"]
    assert len(set(a_sp)) == 1


def _row_index_inputs(spark):
    from pyspark.sql import functions as F

    rng = spark.range(0, 100, numPartitions=7).select(
        F.col("id"), (F.col("id") * 3 % 11).alias("p"))
    # tied sort keys: the order among ties is arbitrary, so only the pin
    # makes every branch see the same index
    srt = spark.range(0, 120, numPartitions=5).select(
        (F.col("id") % 4).alias("id"), (F.col("id") * 7).alias("p")) \
        .orderBy("id")
    left = spark.range(0, 90, numPartitions=4)
    right = spark.range(0, 90, numPartitions=3).select(
        F.col("id"), (F.col("id") + 1000).alias("p"))
    jn = left.join(right, "id")
    return [("range", rng, 5, 100), ("sorted", srt, 0, 120),
            ("join", jn, 0, 90)]


def test_with_row_index_one_node_branches_agree(spark):
    """with_row_index is one sequence node: the index is 0..n-1 + offset
    in plan order, placed first, and two branches of one plan (a
    self-join on the index) see the same index for the same row — on a
    plain multi-partition input, a sorted input with tied keys and a
    join input (the last two are pinned)."""
    from pyspark.sql import functions as F

    from polars_ruby_spark.operators.row_index import with_row_index

    for label, sdf, offset, n in _row_index_inputs(spark):
        out = with_row_index(sdf, "ix", offset=offset)
        assert out.columns == ["ix", "id", "p"], label
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert "distributed_sequence_id" in plan, label
        assert "monotonically_increasing_id" not in plan, label
        rows = out.collect()
        assert sorted(r["ix"] for r in rows) == \
            list(range(offset, offset + n)), label
        if label == "range":
            # partition order of a range is id order
            assert all(r["ix"] == r["id"] + offset for r in rows)
        if label == "sorted":
            keys = [r["id"] for r in sorted(rows, key=lambda r: r["ix"])]
            assert keys == sorted(keys)
        other = out.select(F.col("ix"), F.col("id").alias("id2"),
                           F.col("p").alias("p2"))
        pairs = out.join(other, "ix").collect()
        assert len(pairs) == n, label
        assert all(r["id"] == r["id2"] and r["p"] == r["p2"]
                   for r in pairs), label


def test_with_row_index_releases_sequence_cache(spark):
    """The sequence node persists its child while it assigns the index;
    once the frames are collected and dropped, every RDD they added to
    the persistent-RDD registry is gone again."""
    import gc
    import time

    from polars_ruby_spark.operators.row_index import with_row_index

    jsc = spark.sparkContext._jsc

    def persisted():
        return set(jsc.getPersistentRDDs().keySet())

    before = persisted()

    def run():
        for _label, sdf, offset, _n in _row_index_inputs(spark):
            with_row_index(sdf, "ix", offset=offset).collect()

    run()
    assert persisted() - before         # the sequence caches exist
    # the session keeps the most recent query's plan reachable until the
    # next one runs
    spark.range(1).collect()
    gc.collect()
    for _ in range(30):
        # Python proxies are released by py4j's finalizer thread about
        # once a second; the JVM gc then drops the weakly-held RDDs
        time.sleep(1)
        spark._jvm.System.gc()
        if not persisted() - before:
            break
    assert not persisted() - before


def test_chunked_attaches_partition_and_stats_paths(spark, tmp_path):
    """cum_sum, forward_fill and rle_id match pandas over both chunk
    sources: a sorted multi-partition frame (its fresh pinned index
    chunks by partition id) and an unsorted parquet scan (min/max stats
    chunks).  Only the scan's plan carries the ``__rix_mn__`` aggregate."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    n = 240
    rng = np.random.RandomState(11)
    k = rng.permutation(n)
    x = [None if i % 7 == 3 else float(i % 13) for i in range(n)]
    r = [int(i // 5) % 3 for i in range(n)]
    pdf = pd.DataFrame({"k": k, "x": x, "r": r})
    srt = pdf.sort_values("k").reset_index(drop=True)
    rows = [(int(a), b, int(c)) for a, b, c in zip(k, x, r)]
    sorted_sdf = (spark.createDataFrame(rows, "k long, x double, r long")
                  .repartitionByRange(7, F.col("k"))
                  .sortWithinPartitions("k"))
    path = str(tmp_path / "unsorted.parquet")
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)
    cases = [("sorted", pl.LazyFrame(sorted_sdf), srt),
             ("scan", pl.scan_parquet(path, spark=spark), pdf)]
    exprs = {
        "cs": (pl.col("r").cum_sum(), lambda d: d["r"].cumsum()),
        "ff": (pl.col("x").forward_fill(), lambda d: d["x"].ffill()),
        "rid": (pl.col("r").rle_id(),
                lambda d: (d["r"] != d["r"].shift()).cumsum() - 1),
    }

    def same(a, b):
        return (a is None and pd.isna(b)) or (
            a is not None and not pd.isna(b) and float(a) == float(b))

    for label, lf, expect in cases:
        for name, (e, fn) in exprs.items():
            out = lf.with_columns(e.alias(name))
            plan = out._sdf_raw._jdf.queryExecution() \
                .optimizedPlan().toString()
            assert ("__rix_mn__" in plan) == (label == "scan"), (label, name)
            got = [row[name] for row in out.collect().to_a()]
            want = fn(expect).tolist()
            assert len(got) == n
            assert all(same(a, b) for a, b in zip(got, want)), (label, name)

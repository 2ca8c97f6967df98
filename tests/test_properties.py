"""Property-based semantics tests (hypothesis): engine vs DuckDB on random
frames.  Mirrors the reference's golden-oracle approach (SURVEY §5) with
randomized inputs instead of doctest constants."""

import math

import duckdb
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

import polars_ruby_spark as pl

# floats without NaN/inf (NaN ordering differs by engine; covered separately)
finite = st.floats(allow_nan=False, allow_infinity=False, width=32)
opt_float = st.one_of(st.none(), finite)
opt_int = st.one_of(st.none(), st.integers(min_value=-10**6, max_value=10**6))

# derandomize: CI-stable example generation — a fresh random seed finding a
# genuinely new edge case should happen in a dev loop, not a gate run
SET = settings(max_examples=8, deadline=None, derandomize=True,
               suppress_health_check=[HealthCheck.too_slow])


def _frame(spark, cols: dict):
    pdf = pd.DataFrame({k: pd.Series(v, dtype="object") for k, v in cols.items()})
    return pl.from_hash({k: list(v) for k, v in cols.items()}), pdf


def _duck(pdf, sql):
    con = duckdb.connect()
    con.register("t", pdf)
    return con.execute(sql).fetchall()


def _close(a, b, tol=1e-6):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        if math.isnan(float(a)) or math.isnan(float(b)):
            return math.isnan(float(a)) == math.isnan(float(b))
        return abs(float(a) - float(b)) <= tol * max(1.0, abs(float(a)), abs(float(b)))
    return a == b


@SET
@given(st.lists(st.tuples(opt_float, opt_float), min_size=1, max_size=20))
def test_arithmetic_null_propagation(spark, pairs):
    a, b = [p[0] for p in pairs], [p[1] for p in pairs]
    df, pdf = _frame(spark, {"i": list(range(len(a))), "a": a, "b": b})
    got = (df.lazy().select(
        pl.col("i"),
        ((pl.col("a") + pl.col("b")) * 2 - pl.col("a")).alias("x"),
    ).sort("i").collect().to_a())
    pdf2 = pd.DataFrame({"i": range(len(a)), "a": pd.array(a, dtype="Float64"),
                         "b": pd.array(b, dtype="Float64")})
    exp = _duck(pdf2, "SELECT i, (a + b) * 2 - a AS x FROM t ORDER BY i")
    for g, (i, x) in zip(got, exp):
        assert _close(g["x"], x), (g, x)


@SET
@given(st.lists(opt_int, min_size=1, max_size=20))
def test_forward_fill_matches_sql(spark, vals):
    df, _ = _frame(spark, {"i": list(range(len(vals))), "v": vals})
    got = (df.lazy().with_columns(pl.col("v").forward_fill().alias("f"))
           .sort("i").collect().to_a())
    pdf2 = pd.DataFrame({"i": range(len(vals)), "v": pd.array(vals, dtype="Int64")})
    exp = _duck(pdf2, """
        SELECT i, last_value(v IGNORE NULLS) OVER
          (ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f
        FROM t ORDER BY i""")
    assert [g["f"] for g in got] == [e[1] for e in exp]


@SET
@given(st.lists(opt_int, min_size=1, max_size=20))
def test_cum_sum_and_shift(spark, vals):
    df, _ = _frame(spark, {"i": list(range(len(vals))), "v": vals})
    got = (df.lazy().with_columns(
        pl.col("v").cum_sum().alias("cs"),
        pl.col("v").shift(1).alias("sh"),
    ).sort("i").collect().to_a())
    pdf2 = pd.DataFrame({"i": range(len(vals)), "v": pd.array(vals, dtype="Int64")})
    exp = _duck(pdf2, """
        SELECT i,
               sum(v) OVER (ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cs,
               lag(v) OVER (ORDER BY i) AS sh
        FROM t ORDER BY i""")
    for g, e in zip(got, exp):
        assert g["cs"] == e[1] and g["sh"] == e[2], (g, e)


@SET
@given(st.lists(st.sampled_from(["a", "b", "c", None]), min_size=1, max_size=20))
def test_unique_keep_first(spark, vals):
    df, _ = _frame(spark, {"i": list(range(len(vals))), "s": vals})
    got = (df.lazy().unique(subset=["s"], keep="first").sort("i")
           .collect().to_a())
    seen, exp = set(), []
    for i, s in enumerate(vals):
        if s not in seen:
            seen.add(s)
            exp.append((i, s))
    assert [(g["i"], g["s"]) for g in got] == exp


@SET
@given(st.lists(st.text(alphabet="ab ", max_size=12), min_size=1, max_size=15))
def test_string_kernels(spark, vals):
    df, _ = _frame(spark, {"i": list(range(len(vals))), "s": vals})
    got = (df.lazy().select(
        pl.col("i"),
        pl.col("s").str.len_chars().alias("n"),
        pl.col("s").str.to_uppercase().alias("u"),
        pl.col("s").str.contains("ab", literal=True).alias("c"),
    ).sort("i").collect().to_a())
    for g, s in zip(got, vals):
        assert g["n"] == len(s)
        assert g["u"] == s.upper()
        assert g["c"] == ("ab" in s)


@SET
@given(st.lists(st.tuples(st.integers(min_value=0, max_value=4), opt_int),
                min_size=1, max_size=25))
def test_group_by_agg_matches_sql(spark, rows):
    g, v = [r[0] for r in rows], [r[1] for r in rows]
    df, _ = _frame(spark, {"g": g, "v": v})
    got = {r["g"]: (r["s"], r["n"], r["nn"]) for r in
           df.lazy().group_by("g").agg(
               pl.col("v").sum().alias("s"),
               pl.len().alias("n"),
               pl.col("v").count().alias("nn"),
           ).collect().to_a()}
    pdf2 = pd.DataFrame({"g": g, "v": pd.array(v, dtype="Int64")})
    # polars sums an all-null group to 0, not null (series_test.rb:395)
    exp = {r[0]: (r[1], r[2], r[3]) for r in _duck(pdf2, """
        SELECT g, coalesce(sum(v), 0) AS s, count(*) AS n, count(v) AS nn
        FROM t GROUP BY g""")}
    assert got == exp


@SET
@given(st.lists(st.integers(min_value=0, max_value=6), min_size=1, max_size=15),
       st.lists(st.integers(min_value=0, max_value=6), min_size=1, max_size=15))
def test_join_counts_match_sql(spark, lk, rk):
    a, _ = _frame(spark, {"k": lk, "x": list(range(len(lk)))})
    b, _ = _frame(spark, {"k": rk, "y": list(range(len(rk)))})
    for how, sql_how in [("inner", "INNER"), ("left", "LEFT"), ("semi", None),
                         ("anti", None)]:
        got = a.lazy().join(b.lazy(), on="k", how=how).collect().height
        pa = pd.DataFrame({"k": lk})
        pb = pd.DataFrame({"k": rk})
        con = duckdb.connect()
        con.register("a", pa)
        con.register("b", pb)
        if how == "semi":
            exp = con.execute(
                "SELECT count(*) FROM a WHERE k IN (SELECT k FROM b)").fetchone()[0]
        elif how == "anti":
            exp = con.execute(
                "SELECT count(*) FROM a WHERE k NOT IN (SELECT k FROM b)").fetchone()[0]
        else:
            exp = con.execute(
                f"SELECT count(*) FROM a {sql_how} JOIN b USING (k)").fetchone()[0]
        assert got == exp, (how, got, exp)


@SET
@given(st.lists(st.tuples(st.integers(0, 3), opt_int), min_size=1, max_size=25),
       st.integers(1, 4))
def test_agg_slices_match_duckdb(spark, rows, n):
    """head/tail/slice in agg context == DuckDB ordered-list slicing."""
    g = [r[0] for r in rows]
    v = [r[1] for r in rows]
    df, _ = _frame(spark, {"i": list(range(len(g))), "g": g, "v": v})
    got = {r["g"]: r for r in df.group_by("g").agg(
        pl.col("v").head(n).alias("h"),
        pl.col("v").tail(n).alias("t"),
    ).to_a()}
    pdf = pd.DataFrame({"i": range(len(g)), "g": g,
                        "v": pd.array(v, dtype="Int64")})
    exp = _duck(pdf, f"""
        SELECT g, (list(v ORDER BY i))[1:{n}] AS h,
               list_slice(list(v ORDER BY i), -{n}, -1) AS t
        FROM t GROUP BY g""")
    for gg, h, t in exp:
        assert got[gg]["h"] == h, (gg, got[gg]["h"], h)
        # DuckDB negative slice on a list shorter than n wraps differently;
        # recompute expected tail directly
        full = _duck(pdf, f"SELECT list(v ORDER BY i) FROM t WHERE g = {gg}")[0][0]
        assert got[gg]["t"] == full[-n:], (gg, got[gg]["t"], full[-n:])


@SET
@given(st.lists(st.integers(0, 2), min_size=1, max_size=30))
def test_rle_roundtrip(spark, vals):
    """rle is a faithful compression: expanding (len, value) runs restores
    the column, and adjacent runs never share a value."""
    df, _ = _frame(spark, {"v": vals})
    runs = [(r["r"]["len"], r["r"]["value"]) for r in
            df.select(pl.col("v").rle().alias("r")).collect().to_a()]
    expanded = [v for ln, v in runs for _ in range(ln)]
    assert expanded == vals
    assert all(runs[i][1] != runs[i + 1][1] for i in range(len(runs) - 1))


@SET
@given(toks=st.lists(st.integers(min_value=1, max_value=50), min_size=1, max_size=40),
       budget=st.integers(min_value=10, max_value=100))
def test_pack_greedy_matches_sequential(spark, toks, budget):
    """pack_greedy's two-phase distributed prefix sum must equal a sequential
    driver simulation for any token-count sequence and budget."""
    from polars_ruby_spark.operators import packing

    df = spark.createDataFrame(list(enumerate(toks)), ["doc_id", "n_tok"])
    got = {r["doc_id"]: (r["shard_id"], r["shard_offset"])
           for r in packing.pack_greedy(df, "n_tok", budget=budget).collect()}
    start = 0
    for i, t in enumerate(toks):
        assert got[i] == (start // budget, start % budget), f"doc {i}"
        start += t


@SET
@given(r1=st.floats(min_value=0.0, max_value=1.0),
       r2=st.floats(min_value=0.0, max_value=1.0))
def test_hash_sample_nested(spark, r1, r2):
    """Bucket sampling is NESTED: the sample at a lower rate is always a
    subset of the sample at a higher rate (the property that makes staged
    mix experiments comparable)."""
    from polars_ruby_spark.operators import sampling

    lo, hi = sorted([r1, r2])
    df = spark.createDataFrame([(i, "g") for i in range(300)], ["doc_id", "source"])
    s_lo = {r["doc_id"] for r in sampling.hash_sample(df, {"g": lo}).collect()}
    s_hi = {r["doc_id"] for r in sampling.hash_sample(df, {"g": hi}).collect()}
    assert s_lo <= s_hi


_EDGES = st.lists(
    st.tuples(st.integers(min_value=0, max_value=25),
              st.integers(min_value=0, max_value=25)),
    min_size=1, max_size=40)
# the fixture only patches a module constant, so one patch serves every example
_CC_SET = settings(SET, suppress_health_check=[
    HealthCheck.too_slow, HealthCheck.function_scoped_fixture])


def _check_components(spark, edges):
    """``connected_components`` on a random graph (self-loops included)
    equals an independent pure-python union-find."""
    from polars_ruby_spark.operators import dedup

    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = {r["id"]: r["cluster_id"]
           for r in dedup.connected_components(df).collect()}
    parent = {}

    def find(x):
        while parent.get(x, x) != x:
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    nodes = {a for a, _ in edges} | {b for _, b in edges}
    expect = {n: find(n) for n in nodes}
    assert got == expect


@_CC_SET
@given(edges=_EDGES)
def test_connected_components_matches_union_find(spark, force_cc_path, edges):
    """One-task union-find path."""
    force_cc_path("one_task")
    _check_components(spark, edges)


# each distributed run is several checkpointed rounds, so fewer examples
@settings(_CC_SET, max_examples=3)
@given(edges=_EDGES)
def test_connected_components_distributed_matches_union_find(
        spark, force_cc_path, edges):
    """Distributed pointer-jumping path."""
    force_cc_path("distributed")
    _check_components(spark, edges)


@SET
@given(vals=st.lists(st.sampled_from(["a", "b", "c", None]), min_size=1,
                     max_size=25))
def test_value_counts_matches_counter(spark, vals):
    """Expr.value_counts over arbitrary value/null mixes == Counter."""
    from collections import Counter

    df = pl.DataFrame({"v": vals})
    got = {r["v"]["v"]: r["v"]["count"] for r in
           df.select(pl.col("v").value_counts()).to_a()}
    assert got == dict(Counter(vals))


@SET
@given(n=st.integers(min_value=1, max_value=5),
       offset=st.integers(min_value=0, max_value=4),
       size=st.integers(min_value=1, max_value=30))
def test_gather_every_matches_slicing(spark, n, offset, size):
    """Series.gather_every == python [offset::n] for arbitrary shapes."""
    data = list(range(size))
    s = pl.Series("x", data)
    assert s.gather_every(n, offset).to_list() == data[offset::n]


_words = st.sampled_from(["aa", "bb", "cc", "dd", "ee"])
_doc = st.lists(_words, min_size=0, max_size=8).map(" ".join)


@SET
@given(st.lists(_doc, min_size=1, max_size=10))
def test_dup_ngram_fraction_property(spark, docs):
    """dup_ngram_fraction vs a pure-python reference over random tiny docs
    (covers <n-token docs, all-dup corpora, singleton grams)."""
    from collections import Counter

    from polars_ruby_spark.operators.text import dup_ngram_fraction

    n = 2
    df = pl.from_hash({"doc_id": list(range(len(docs))), "text": docs})
    rows = {r["doc_id"]: r for r in
            dup_ngram_fraction(df._sdf, n=n).collect()}

    def grams(t):
        tk = t.lower().split(" ")
        return [" ".join(tk[i:i + n]) for i in range(len(tk) - n + 1)]

    docs_per = Counter()
    for i, t in enumerate(docs):
        for g in set(grams(t)):
            docs_per[g] += 1
    for i, t in enumerate(docs):
        gs = grams(t)
        r = rows[i]  # every doc keeps a row — short docs are NOT dropped
        if not gs:
            assert r["n_ngrams"] == 0 and r["n_dup"] == 0
            assert r["dup_frac"] is None
            continue
        dup = sum(1 for g in gs if docs_per[g] >= 2)
        assert r["n_ngrams"] == len(gs)
        assert r["n_dup"] == dup
        assert _close(r["dup_frac"], round(dup / len(gs), 4), tol=1e-9)


@SET
@given(st.lists(_doc.filter(lambda s: s), min_size=1, max_size=10))
def test_unigram_logprob_property(spark, docs):
    """unigram_logprob vs a pure-python MLE unigram model."""
    import math as _m
    from collections import Counter

    from polars_ruby_spark.operators.text import unigram_logprob

    df = pl.from_hash({"doc_id": list(range(len(docs))), "text": docs})
    rows = {r["doc_id"]: r for r in unigram_logprob(df._sdf).collect()}

    counts = Counter(t for d in docs for t in d.lower().split(" "))
    total = sum(counts.values())
    for i, d in enumerate(docs):
        toks = d.lower().split(" ")
        avg = sum(_m.log(counts[t] / total) for t in toks) / len(toks)
        r = rows[i]
        assert r["n_tokens"] == len(toks)
        assert _close(r["avg_logprob"], round(avg, 6), tol=1e-5)


@SET
@given(st.lists(st.one_of(st.none(), st.integers(-100, 100),
                          st.floats(allow_infinity=False, width=32)),
                min_size=1, max_size=20))
def test_ingestion_roundtrip_preserves_values(spark, vals):
    """Arrow-first ingestion: Series(values).to_a() == values — None stays
    null, NaN stays NaN (the pandas path used to null NaN and float ints)."""
    homogeneous = [v for v in vals if v is not None]
    if homogeneous and not (
            all(isinstance(v, int) for v in homogeneous)
            or all(isinstance(v, float) for v in homogeneous)):
        return  # mixed int/float lists widen — covered by dtype tests
    out = pl.Series("v", vals).to_a()
    assert len(out) == len(vals)
    for a, b in zip(out, vals):
        if b is None:
            assert a is None
        elif isinstance(b, float) and math.isnan(b):
            assert isinstance(a, float) and math.isnan(a)
        else:
            assert _close(float(a), float(b), 1e-6)


@SET
@given(st.lists(st.tuples(st.integers(0, 2), st.integers(-50, 50)),
                min_size=2, max_size=24))
def test_agg_context_shift_matches_window_lag(spark, rows):
    """group_by().agg(shift()).explode() must equal the windowed lag form —
    the per-group array-transform path (batch 20) vs the over() path."""
    df, pdf = _frame(spark, {"g": [r[0] for r in rows],
                             "v": [r[1] for r in rows]})
    eager = df.collect()
    via_agg = (eager.group_by("g")
               .agg(pl.col("v").shift().alias("s"))
               .explode("s").sort("g").to_a())
    via_window = (eager.with_columns(
        pl.col("v").shift().over("g").alias("s"))
        .select("g", "s").sort("g").to_a())
    key = lambda r: (r["g"], -1e18 if r["s"] is None else r["s"])  # noqa: E731
    assert sorted(via_agg, key=key) == sorted(via_window, key=key)


@SET
@given(st.lists(st.integers(-20, 20), min_size=1, max_size=16),
       st.lists(st.integers(-20, 20), min_size=1, max_size=16))
def test_frame_elementwise_comparison_matches_python(spark, a, b):
    """DataFrame == / < on equal-length frames matches python zip."""
    n = min(len(a), len(b))
    a, b = a[:n], b[:n]
    fa = pl.DataFrame({"x": a})
    fb = pl.DataFrame({"x": b})
    assert [r["x"] for r in (fa == fb).to_a()] == \
        [x == y for x, y in zip(a, b)]
    assert [r["x"] for r in (fa < fb).to_a()] == \
        [x < y for x, y in zip(a, b)]

"""Differential fuzzer: random frames + random expression trees, engine vs
DuckDB (round-3, VERDICT item 8).

Each seed builds a random small frame (ints/floats/strings/bools, ~25% nulls)
registered in BOTH engines, then runs three query shapes:

1. projection — a batch of randomly composed scalar expressions (recursive
   arithmetic trees, conditionals, string ops, null ops) over ``idx`` order;
2. grouped aggregation — random aggregates per group key;
3. window — order-dependent ops (cum_sum/shift/diff/rank) over ``idx``
   within groups.

Every template is a PAIRED generator: the engine expression and the
equivalent DuckDB SQL are produced together, so any value divergence is a
real parity bug (or an oracle-translation bug — both worth knowing).
Floats are rounded to 6dp on both sides before the sorted-row hash to
absorb accumulation-order noise.

Usage: python tools/fuzz_diff.py [N_SEEDS] [START_SEED]
Exit code = number of diverging seeds; each divergence prints the seed and
the first differing rows for replay.
"""

from __future__ import annotations

import random
import sys

sys.path.insert(0, "/root/repo")

from tools.check_correctness import norm_val  # noqa: E402


def _round6(v):
    import decimal

    if isinstance(v, decimal.Decimal):
        # DuckDB literal arithmetic yields DECIMAL; engine is double —
        # normalize BEFORE the sorted-line pairing ('1.00' vs '1' would
        # misalign every subsequent row)
        return round(float(v), 6)
    if isinstance(v, float):
        return round(v, 6)
    if isinstance(v, (list, tuple)):
        return [_round6(x) for x in v]
    return v


def canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(norm_val(_round6(r[i])) for i in order)
                  for r in rows)


# -- random frame -------------------------------------------------------------

def make_frame(rng: random.Random):
    import datetime as dt

    n = rng.randint(20, 50)
    words = ["alpha", "Bravo", "charlie x", "", "Delta-9", "écho", "FOX"]
    epoch = dt.datetime(2024, 3, 1)

    def maybe(gen, p=0.25):
        return [None if rng.random() < p else gen() for _ in range(n)]

    data = {
        "idx": list(range(n)),
        "g": [rng.randint(0, 3) for _ in range(n)],
        "a": maybe(lambda: rng.randint(-50, 50)),
        "b": maybe(lambda: rng.randint(1, 20)),
        "x": maybe(lambda: round(rng.uniform(-100, 100), 3)),
        "y": maybe(lambda: round(rng.uniform(0.5, 25.0), 3)),
        "s": maybe(lambda: rng.choice(words)),
        "p": maybe(lambda: rng.random() < 0.5),
        "ts": maybe(lambda: epoch + dt.timedelta(
            minutes=rng.randint(0, 200000))),
        # skewed key: ~62% of rows share value 0 (hot-key axis, round-5)
        "h": maybe(lambda: rng.choice(
            [0, 0, 0, 0, 0, 0, 0, 0, 1, 2, 3, 17, 42]), p=0.1),
        # skewed timestamps: ~half the rows land inside ONE hour
        "hts": maybe(lambda: epoch + (
            dt.timedelta(seconds=rng.randint(0, 3600))
            if rng.random() < 0.5
            else dt.timedelta(minutes=rng.randint(0, 200000))), p=0.15),
    }
    return data


# -- paired expression generators ---------------------------------------------
#
# Each generator returns (pl_expr, sql_string).  ``pl`` is the engine module.

def num_tree(pl, rng, depth=0):
    """Random numeric expression tree with matched SQL."""
    if depth >= 2 or rng.random() < 0.35:
        leaf = rng.choice(["a", "b", "x", "y", "lit_i", "lit_f"])
        if leaf == "lit_i":
            v = rng.randint(-9, 9)
            return pl.lit(v), str(v)
        if leaf == "lit_f":
            v = round(rng.uniform(-5, 5), 2)
            return pl.lit(v), repr(v)
        cast = "CAST({} AS DOUBLE)" if leaf in ("x", "y") else "{}"
        return pl.col(leaf), cast.format(leaf)
    op = rng.choice(["+", "-", "*", "/", "abs", "neg", "clip", "fill"])
    l_e, l_s = num_tree(pl, rng, depth + 1)
    if op == "abs":
        return l_e.abs(), f"abs({l_s})"
    if op == "neg":
        return -l_e, f"(-({l_s}))"
    if op == "clip":
        lo, hi = sorted([rng.randint(-20, 0), rng.randint(1, 20)])
        # NB: DuckDB least/greatest SKIP nulls; polars clip(null) is null
        return (l_e.clip(lo, hi),
                f"(CASE WHEN {l_s} IS NULL THEN NULL "
                f"ELSE least(greatest({l_s}, {lo}), {hi}) END)")
    if op == "fill":
        v = rng.randint(-5, 5)
        return l_e.fill_null(v), f"coalesce({l_s}, {v})"
    r_e, r_s = num_tree(pl, rng, depth + 1)
    if op == "+":
        return l_e + r_e, f"({l_s} + {r_s})"
    if op == "-":
        return l_e - r_e, f"({l_s} - {r_s})"
    if op == "*":
        return l_e * r_e, f"({l_s} * {r_s})"
    # protected float division (both engines: x/0.0 handled below by +1 guard)
    return (l_e / (r_e.abs() + 1),
            f"(CAST({l_s} AS DOUBLE) / (abs({r_s}) + 1))")


def bool_tree(pl, rng, depth=0):
    if depth >= 1 or rng.random() < 0.4:
        kind = rng.choice(["cmp", "null", "in", "between", "str", "p"])
        if kind == "cmp":
            l_e, l_s = num_tree(pl, rng, 2)
            r_e, r_s = num_tree(pl, rng, 2)
            op = rng.choice(["<", "<=", ">", ">=", "==", "!="])
            sql_op = {"==": "=", "!=": "<>"}.get(op, op)
            e = {"<": l_e < r_e, "<=": l_e <= r_e, ">": l_e > r_e,
                 ">=": l_e >= r_e, "==": l_e == r_e, "!=": l_e != r_e}[op]
            return e, f"({l_s} {sql_op} {r_s})"
        if kind == "null":
            c = rng.choice(["a", "x", "s"])
            return pl.col(c).is_null(), f"({c} IS NULL)"
        if kind == "in":
            vals = sorted({rng.randint(-10, 10) for _ in range(4)})
            return (pl.col("a").is_in(vals),
                    f"(a IN ({', '.join(map(str, vals))}))")
        if kind == "between":
            lo, hi = sorted([rng.randint(-30, 10), rng.randint(0, 40)])
            return (pl.col("a").is_between(lo, hi),
                    f"(a BETWEEN {lo} AND {hi})")
        if kind == "str":
            pat = rng.choice(["a", "o", "x", "E"])
            return (pl.col("s").str.contains(pat, literal=True),
                    f"(contains(s, '{pat}'))")
        return pl.col("p"), "p"
    l_e, l_s = bool_tree(pl, rng, depth + 1)
    r_e, r_s = bool_tree(pl, rng, depth + 1)
    if rng.random() < 0.5:
        return l_e & r_e, f"({l_s} AND {r_s})"
    return l_e | r_e, f"({l_s} OR {r_s})"


def scalar_exprs(pl, rng):
    """Projection batch: [(name, pl_expr, sql)]."""
    out = []
    for i in range(6):
        nm = f"c{i}"
        k = rng.random()
        if k < 0.45:
            e, s = num_tree(pl, rng)
            out.append((nm, e.round(6), f"round({s}, 6)"))
        elif k < 0.6:
            c_e, c_s = bool_tree(pl, rng)
            t_e, t_s = num_tree(pl, rng, 1)
            f_e, f_s = num_tree(pl, rng, 1)
            out.append((nm,
                        pl.when(c_e).then(t_e).otherwise(f_e)
                        .cast(pl.Float64).round(6),
                        f"round(CAST(CASE WHEN {c_s} THEN {t_s} ELSE {f_s} "
                        f"END AS DOUBLE), 6)"))
        elif k < 0.72:
            e, s = bool_tree(pl, rng)
            out.append((nm, e, s))
        elif k < 0.88:
            which = rng.choice(["upper", "lower", "len", "slice", "rev",
                                "strip", "replace"])
            if which == "upper":
                out.append((nm, pl.col("s").str.to_uppercase(), "upper(s)"))
            elif which == "lower":
                out.append((nm, pl.col("s").str.to_lowercase(), "lower(s)"))
            elif which == "len":
                out.append((nm, pl.col("s").str.len_chars().cast(pl.Int64),
                            "CAST(length(s) AS BIGINT)"))
            elif which == "slice":
                off = rng.randint(0, 3)
                ln = rng.randint(1, 4)
                out.append((nm, pl.col("s").str.slice(off, ln),
                            f"substr(s, {off + 1}, {ln})"))
            elif which == "rev":
                out.append((nm, pl.col("s").str.reverse(), "reverse(s)"))
            elif which == "strip":
                out.append((nm, pl.col("s").str.strip_chars(), "trim(s)"))
            else:
                out.append((nm, pl.col("s").str.replace_all("a", "_"),
                            "replace(s, 'a', '_')"))
        else:
            which = rng.choice(["floor", "ceil", "sign", "mod"])
            if which == "floor":
                out.append((nm, pl.col("x").floor(), "floor(x)"))
            elif which == "ceil":
                out.append((nm, pl.col("x").ceil(), "ceil(x)"))
            elif which == "sign":
                out.append((nm, pl.col("a").sign(), "sign(a)"))
            else:
                # polars % is FLOORED (python semantics); duckdb's is
                # truncated — translate with the floored identity
                m = rng.randint(2, 9)
                out.append((nm, pl.col("a") % m,
                            f"(((a % {m}) + {m}) % {m})"))
    return out


def agg_exprs(pl, rng):
    out = []
    pool = [
        lambda: (pl.col("a").sum().cast(pl.Int64),
                 "CAST(coalesce(sum(a), 0) AS BIGINT)"),
        lambda: (pl.col("x").sum().round(6), "round(coalesce(sum(x), 0), 6)"),
        lambda: (pl.col("x").mean().round(6), "round(avg(x), 6)"),
        lambda: (pl.col("a").min(), "min(a)"),
        lambda: (pl.col("y").max(), "max(y)"),
        lambda: (pl.len().cast(pl.Int64), "CAST(count(*) AS BIGINT)"),
        lambda: (pl.col("a").count().cast(pl.Int64),
                 "CAST(count(a) AS BIGINT)"),
        lambda: (pl.col("a").n_unique().cast(pl.Int64),
                 "CAST(count(DISTINCT a) + CAST(max(CASE WHEN a IS NULL "
                 "THEN 1 ELSE 0 END) AS BIGINT) AS BIGINT)"),
        lambda: (pl.col("x").std().round(6), "round(stddev_samp(x), 6)"),
        lambda: (pl.col("x").var().round(6), "round(var_samp(x), 6)"),
        lambda: (pl.col("y").median().round(6),
                 "round(CAST(median(y) AS DOUBLE), 6)"),
        lambda: (pl.col("p").sum().cast(pl.Int64),
                 "CAST(sum(CASE WHEN p THEN 1 ELSE 0 END) AS BIGINT)"),
    ]
    for i, mk in enumerate(rng.sample(pool, 5)):
        e, s = mk()
        out.append((f"m{i}", e, s))
    return out


def window_exprs(pl, rng, key="g"):
    """Order-dependent ops over idx within the partition key (uniform ``g``
    or the hot-key ``h`` — round-5 skew axis)."""
    k = key
    w = (f"OVER (PARTITION BY {k} ORDER BY idx "
         "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)")
    pool = [
        lambda: (pl.col("x").cum_sum().over(k).round(6),
                 f"round(sum(x) {w}, 6)"),
        lambda: (pl.col("a").cum_max().over(k),
                 f"max(a) {w}"),
        lambda: (pl.col("a").cum_count().over(k).cast(pl.Int64),
                 f"CAST(count(a) {w} AS BIGINT)"),
        lambda: (pl.col("x").shift(1).over(k),
                 f"lag(x, 1) OVER (PARTITION BY {k} ORDER BY idx)"),
        lambda: (pl.col("x").diff().over(k).round(6),
                 f"round(x - lag(x, 1) OVER (PARTITION BY {k} "
                 "ORDER BY idx), 6)"),
        lambda: (pl.col("y").rank("min").over(k).cast(pl.Int64),
                 "CASE WHEN y IS NOT NULL THEN CAST(rank() OVER "
                 f"(PARTITION BY {k} ORDER BY y NULLS LAST) AS BIGINT) END"),
        lambda: (pl.col("x").forward_fill().over(k),
                 f"last_value(x IGNORE NULLS) OVER (PARTITION BY {k} "
                 "ORDER BY idx ROWS BETWEEN UNBOUNDED PRECEDING AND "
                 "CURRENT ROW)"),
        lambda: ((pl.col("x").sum().over(k)).round(6),
                 f"round(coalesce(sum(x) OVER (PARTITION BY {k}), 0), 6)"),
        # round-9 UNGROUPED forms: rank rides the distinct-value prefix
        # attach, shift the single-row-frame kernel (no keyless windows)
        lambda: (pl.col("y").rank("average"),
                 "CASE WHEN y IS NOT NULL THEN (rank() OVER "
                 "(ORDER BY y NULLS LAST) * 2 + count(*) OVER "
                 "(PARTITION BY y) - 1) / 2.0 END"),
        lambda: (pl.col("y").rank("min").cast(pl.Int64),
                 "CASE WHEN y IS NOT NULL THEN CAST(rank() OVER "
                 "(ORDER BY y NULLS LAST) AS BIGINT) END"),
        lambda: (pl.col("x").shift(2),
                 "lag(x, 2) OVER (ORDER BY idx)"),
        lambda: (pl.col("x").shift(-1),
                 "lead(x, 1) OVER (ORDER BY idx)"),
        lambda: (pl.col("x").forward_fill(),
                 "last_value(x IGNORE NULLS) OVER (ORDER BY idx "
                 "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"),
        lambda: (pl.col("y").backward_fill(),
                 "first_value(y IGNORE NULLS) OVER (ORDER BY idx "
                 "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)"),
        lambda: (pl.col("x").diff().round(6),
                 "round(x - lag(x, 1) OVER (ORDER BY idx), 6)"),
        # round-10 composed binaries: hook×hook merges into ONE
        # fill-family attach, hook×plain-column evaluates the operand on
        # the attached frame — both previously re-bound keyless windows
        lambda: ((pl.col("x").forward_fill()
                  - pl.col("y").backward_fill()).round(6),
                 "round(last_value(x IGNORE NULLS) OVER (ORDER BY idx "
                 "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
                 "- first_value(y IGNORE NULLS) OVER (ORDER BY idx "
                 "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING), 6)"),
        lambda: ((pl.col("x").diff() * pl.col("a")).round(6),
                 "round((x - lag(x, 1) OVER (ORDER BY idx)) * a, 6)"),
        # late round-10 LIMITED fills: "ff:k"/"bf:k" attach kinds — the
        # distance predicate over the struct(idx, v) carry vs DuckDB's
        # bounded-frame window (their old keyless one-task form)
        lambda: (pl.col("x").forward_fill(2),
                 "last_value(x IGNORE NULLS) OVER (ORDER BY idx "
                 "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)"),
        lambda: (pl.col("y").backward_fill(3),
                 "first_value(y IGNORE NULLS) OVER (ORDER BY idx "
                 "ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)"),
        # late round-10 non-numeric shift: dense-row-index self-join
        # (the kernel rejects string dtype; the old fallback was the
        # keyless lag window)
        lambda: (pl.col("s").shift(1),
                 "lag(s, 1) OVER (ORDER BY idx)"),
        lambda: (pl.col("s").shift(-2),
                 "lead(s, 2) OVER (ORDER BY idx)"),
        # round-11 pct_change: fill-first semantics through the "pnn"
        # fill-batch kind (previous non-null, exclusive frame) + polars'
        # /0 → ±inf / 0/0 → NaN — the oracle builds the same two windows
        # at one level and emulates the inf cases
        lambda: (pl.col("x").pct_change().round(6),
                 "round(CASE"
                 " WHEN __pn IS NULL THEN NULL"
                 " WHEN __pn = 0 AND COALESCE(x, __pn) = 0"
                 " THEN 'nan'::DOUBLE"
                 " WHEN __pn = 0 AND COALESCE(x, __pn) > 0"
                 " THEN 'infinity'::DOUBLE"
                 " WHEN __pn = 0 AND COALESCE(x, __pn) < 0"
                 " THEN '-infinity'::DOUBLE"
                 " ELSE (COALESCE(x, __pn) - __pn) / __pn END, 6)"
                 .replace("__pn", "(last_value(x IGNORE NULLS) OVER ("
                          "ORDER BY idx ROWS BETWEEN UNBOUNDED PRECEDING"
                          " AND 1 PRECEDING))")),
        # round-11 division semantics (engine-wide): x/0 → ±inf, 0/0 → NaN
        lambda: ((pl.col("x") / pl.col("y")).round(6),
                 "round(CASE"
                 " WHEN x IS NULL OR y IS NULL THEN NULL"
                 " WHEN y = 0 AND x = 0 THEN 'nan'::DOUBLE"
                 " WHEN y = 0 AND x > 0 THEN 'infinity'::DOUBLE"
                 " WHEN y = 0 AND x < 0 THEN '-infinity'::DOUBLE"
                 " ELSE CAST(x AS DOUBLE) / y END, 6)"),
        # round-11 sign(): always Int64, even over floats
        lambda: (pl.col("y").sign(),
                 "CASE WHEN isnan(y) THEN NULL"
                 " WHEN y > 0 THEN 1 WHEN y < 0 THEN -1"
                 " WHEN y = 0 THEN 0 END"),
    ]
    out = []
    for i, mk in enumerate(rng.sample(pool, 4)):
        e, s = mk()
        out.append((f"w{i}", e.alias(f"w{i}"), s))
    return out


# -- runner -------------------------------------------------------------------

def run_seed(pl, spark, duck, seed: int) -> list[str]:
    import os

    # alternate the staged-vs-array agg route per seed so BOTH compilation
    # paths of the composed-reducer templates stay fuzz-covered (round-6);
    # restore the caller's value afterwards so the route choice does not
    # leak into the host process
    prior = os.environ.get("SPARK_GRAFT_GIANT_GROUP_FORCE")
    os.environ["SPARK_GRAFT_GIANT_GROUP_FORCE"] = \
        "1" if seed % 2 == 0 else "0"
    try:
        return _run_seed_inner(pl, spark, duck, seed)
    finally:
        if prior is None:
            os.environ.pop("SPARK_GRAFT_GIANT_GROUP_FORCE", None)
        else:
            os.environ["SPARK_GRAFT_GIANT_GROUP_FORCE"] = prior


def _run_seed_inner(pl, spark, duck, seed: int) -> list[str]:
    rng = random.Random(seed)
    data = make_frame(rng)
    import pandas as pd

    pdf = pd.DataFrame({k: pd.Series(v, dtype="object")
                        for k, v in data.items()})
    duck.register("t", pdf)
    df = pl.DataFrame({k: list(v) for k, v in data.items()})
    diffs = []

    def _tolerant_eq(g_line: str, e_line: str) -> bool:
        """Field-wise recheck absorbing 6dp rounding-boundary flaps
        (x.xxxxx5 rounds differently after cross-engine accumulation)."""
        gs, es = g_line.split("|"), e_line.split("|")
        if len(gs) != len(es):
            return False
        for gv, ev in zip(gs, es):
            if gv == ev:
                continue
            try:
                if abs(float(gv) - float(ev)) <= 2e-6:
                    continue
            except ValueError:
                pass
            return False
        return True

    def compare(kind, spark_df, sql):
        got = canon(spark_df.columns, [tuple(r) for r in spark_df.collect()])
        cur = duck.execute(sql)
        exp = canon([d[0] for d in cur.description], cur.fetchall())
        if got != exp:
            if len(got) == len(exp) and all(
                    _tolerant_eq(g, e) for g, e in zip(got, exp)):
                return
            bad = next(((g, e) for g, e in zip(got, exp)
                        if not _tolerant_eq(g, e)), (got[:1], exp[:1]))
            diffs.append(f"seed={seed} {kind}: engine={bad[0]} oracle={bad[1]}")

    # 1. projection
    sc = scalar_exprs(pl, rng)
    proj = df.lazy().select(
        pl.col("idx"), *[e.alias(nm) for nm, e, _ in sc])
    sql = "SELECT idx, " + ", ".join(
        f"{s} AS {nm}" for nm, _, s in sc) + " FROM t"
    compare("projection", proj.collect().to_spark(), sql)

    # 2. grouped aggregation
    ag = agg_exprs(pl, rng)
    gq = df.lazy().group_by("g").agg(*[e.alias(nm) for nm, e, _ in ag])
    sql = "SELECT g, " + ", ".join(
        f"{s} AS {nm}" for nm, _, s in ag) + " FROM t GROUP BY g"
    compare("agg", gq.collect().to_spark(), sql)

    # 3. windows over idx
    wx = window_exprs(pl, rng)
    wq = df.lazy().sort("idx").select(
        pl.col("idx"), *[e for _, e, _ in wx])
    sql = "SELECT idx, " + ", ".join(
        f"{s} AS {nm}" for nm, _, s in wx) + " FROM t"
    compare("window", wq.collect().to_spark(), sql)

    # 4. join: split by idx parity, join on the (nullable) key a % 7
    lhs = df.lazy().filter(pl.col("idx") % 2 == 0).with_columns(
        (pl.col("a") % 7).alias("k")).select("idx", "k", "x")
    rhs = df.lazy().filter(pl.col("idx") % 2 == 1).with_columns(
        (pl.col("a") % 7).alias("k")).select(
        pl.col("idx").alias("ridx"), pl.col("k"), pl.col("y"))
    how = rng.choice(["inner", "left", "semi", "anti"])
    jq = lhs.join(rhs, on="k", how=how)
    base_lr = ("(SELECT idx, ((a % 7) + 7) % 7 AS k, x FROM t "
               "WHERE idx % 2 = 0)")
    base_rr = ("(SELECT idx AS ridx, ((a % 7) + 7) % 7 AS k, y FROM t "
               "WHERE idx % 2 = 1)")
    if how == "inner":
        sql = (f"SELECT l.idx, l.k, l.x, r.ridx, r.y FROM {base_lr} l "
               f"JOIN {base_rr} r USING (k)")
    elif how == "left":
        sql = (f"SELECT l.idx, l.k, l.x, r.ridx, r.y FROM {base_lr} l "
               f"LEFT JOIN {base_rr} r USING (k)")
    elif how == "semi":
        sql = (f"SELECT l.idx, l.k, l.x FROM {base_lr} l "
               f"WHERE EXISTS (SELECT 1 FROM {base_rr} r WHERE r.k = l.k)")
    else:
        sql = (f"SELECT l.idx, l.k, l.x FROM {base_lr} l WHERE NOT EXISTS "
               f"(SELECT 1 FROM {base_rr} r WHERE r.k = l.k)")
    compare(f"join_{how}", jq.collect().to_spark(), sql)

    # 5. sort + head (polars default: nulls FIRST) — value order observable
    k = rng.randint(3, 12)
    sq = df.lazy().sort(["x", "idx"]).head(k).select("idx", "x")
    sql = (f"SELECT idx, x FROM t ORDER BY x ASC NULLS FIRST, idx "
           f"LIMIT {k}")
    compare("sort_head", sq.collect().to_spark(), sql)

    # 6. unique keep=first on g (row order = first occurrence)
    uq = df.lazy().select("idx", "g", "a").unique(subset=["g"], keep="first")
    sql = ("SELECT idx, g, a FROM (SELECT idx, g, a, row_number() OVER "
           "(PARTITION BY g ORDER BY idx) AS rn FROM t) WHERE rn = 1")
    compare("unique_first", uq.collect().to_spark(), sql)

    # 7. dt + str namespaces
    dq = df.lazy().select(
        pl.col("idx"),
        pl.col("ts").dt.year().alias("yy"),
        pl.col("ts").dt.month().alias("mm"),
        pl.col("ts").dt.hour().alias("hh"),
        pl.col("ts").dt.weekday().alias("wd"),
        pl.col("ts").dt.truncate("1h").alias("tr"),
        pl.col("ts").dt.offset_by("3d").alias("off"),
        pl.col("s").str.starts_with("B").alias("sw"),
        pl.col("s").str.ends_with("X").alias("ew"),
        pl.col("s").str.len_bytes().cast(pl.Int64).alias("lb"),
    )
    sql = ("SELECT idx, CAST(year(ts) AS INT) AS yy, "
           "CAST(month(ts) AS INT) AS mm, CAST(hour(ts) AS INT) AS hh, "
           "CAST(isodow(ts) AS INT) AS wd, "
           "date_trunc('hour', ts) AS tr, ts + INTERVAL 3 DAY AS off, "
           "starts_with(s, 'B') AS sw, "
           "(CASE WHEN s IS NULL THEN NULL ELSE s LIKE '%X' END) AS ew, "
           "CAST(strlen(s) AS BIGINT) AS lb FROM t")
    compare("dt_str", dq.collect().to_spark(), sql)

    # 8. asof join on ts (backward / forward) — right side deduped on ts so
    # the tie row is deterministic in both engines
    strat = rng.choice(["backward", "forward"])
    al = (df.lazy().filter((pl.col("idx") % 2 == 0)
                           & pl.col("ts").is_not_null())
          .select("idx", "ts", "x").sort("ts", "idx"))
    ar = (df.lazy().filter((pl.col("idx") % 2 == 1)
                           & pl.col("ts").is_not_null())
          .select("ts", "y").group_by("ts").agg(pl.col("y").max())
          .sort("ts"))
    aq = al.join_asof(ar, on="ts", strategy=strat).select("idx", "ts", "y")
    base_al = ("(SELECT idx, ts, x FROM t WHERE idx % 2 = 0 "
               "AND ts IS NOT NULL)")
    base_ar = ("(SELECT ts, max(y) AS y FROM t WHERE idx % 2 = 1 "
               "AND ts IS NOT NULL GROUP BY ts)")
    op = ">=" if strat == "backward" else "<="
    sql = (f"SELECT l.idx, l.ts, r.y FROM {base_al} l ASOF LEFT JOIN "
           f"{base_ar} r ON l.ts {op} r.ts")
    compare(f"asof_{strat}", aq.collect().to_spark(), sql)

    # 9. tumbling dynamic group-by vs DuckDB time_bucket (epoch-aligned)
    every = rng.choice(["15m", "30m", "1h", "2h"])
    dur = {"15m": "15 MINUTES", "30m": "30 MINUTES",
           "1h": "1 HOUR", "2h": "2 HOURS"}[every]
    tq = (df.lazy().filter(pl.col("ts").is_not_null()).sort("ts")
          .group_by_dynamic("ts", every=every)
          .agg(pl.col("x").sum().round(6).alias("sx"),
               pl.col("a").count().cast(pl.Int64).alias("ca")))
    sql = (f"SELECT time_bucket(INTERVAL {dur}, ts) AS ts, "
           "round(coalesce(sum(x), 0), 6) AS sx, "
           "CAST(count(a) AS BIGINT) AS ca "
           "FROM t WHERE ts IS NOT NULL GROUP BY 1")
    compare(f"dynamic_{every}", tq.collect().to_spark(), sql)

    # 10. time-based rolling window vs RANGE INTERVAL frame
    # closed="both": DuckDB's RANGE INTERVAL frame includes BOTH bounds,
    # polars' default closed="right" excludes a row exactly window_size
    # earlier (caught by seed 478 — a real boundary-semantics divergence
    # between the paired templates, not an engine bug)
    rq = (df.lazy().filter(pl.col("ts").is_not_null()).sort("ts", "idx")
          .select(pl.col("idx"),
                  pl.col("x").rolling_sum_by("ts", "45m", closed="both")
                  .round(6).alias("rs"),
                  pl.col("y").rolling_min_by("ts", "3h", closed="both")
                  .alias("rm"),
                  # round-9: median/std_by ride the sliding-kernel attach
                  pl.col("x").rolling_median_by("ts", "3h", closed="both")
                  .round(6).alias("rmd"),
                  pl.col("y").rolling_std_by("ts", "3h", closed="both")
                  .round(5).alias("rsd")))
    sql = ("SELECT idx, round(sum(x) OVER "
           "(ORDER BY ts RANGE BETWEEN INTERVAL 45 MINUTES PRECEDING "
           "AND CURRENT ROW), 6) AS rs, "
           "min(y) OVER (ORDER BY ts RANGE BETWEEN INTERVAL 3 HOURS "
           "PRECEDING AND CURRENT ROW) AS rm, "
           "round(median(x) OVER (ORDER BY ts RANGE BETWEEN INTERVAL "
           "3 HOURS PRECEDING AND CURRENT ROW), 6) AS rmd, "
           "round(stddev_samp(y) OVER (ORDER BY ts RANGE BETWEEN INTERVAL "
           "3 HOURS PRECEDING AND CURRENT ROW), 5) AS rsd "
           "FROM t WHERE ts IS NOT NULL")
    compare("rolling_by", rq.collect().to_spark(), sql)

    # 10b. asof join WITH by-groups (DuckDB ASOF supports equality prefixes)
    bl = (df.lazy().filter((pl.col("idx") % 2 == 0)
                           & pl.col("ts").is_not_null())
          .select("idx", "g", "ts", "x").sort("ts", "idx"))
    br = (df.lazy().filter((pl.col("idx") % 2 == 1)
                           & pl.col("ts").is_not_null())
          .select("g", "ts", "y").group_by("g", "ts")
          .agg(pl.col("y").max()).sort("ts"))
    bq = (bl.join_asof(br, on="ts", by="g", strategy="backward")
          .select("idx", "g", "ts", "y"))
    base_bl = ("(SELECT idx, g, ts, x FROM t WHERE idx % 2 = 0 "
               "AND ts IS NOT NULL)")
    base_br = ("(SELECT g, ts, max(y) AS y FROM t WHERE idx % 2 = 1 "
               "AND ts IS NOT NULL GROUP BY g, ts)")
    sql = (f"SELECT l.idx, l.g, l.ts, r.y FROM {base_bl} l ASOF LEFT JOIN "
           f"{base_br} r ON l.g = r.g AND l.ts >= r.ts")
    compare("asof_by", bq.collect().to_spark(), sql)

    # 10c. multi-key group_by + post-agg filter (polars filter after agg)
    mq = (df.lazy().group_by("g", "p")
          .agg(pl.col("x").sum().round(6).alias("sx"),
               pl.len().alias("n"))
          .filter(pl.col("n") > 1))
    sql = ("SELECT g, p, round(coalesce(sum(x), 0), 6) AS sx, "
           "CAST(count(*) AS BIGINT) AS n FROM t GROUP BY g, p "
           "HAVING count(*) > 1")
    compare("multikey_agg", mq.collect().to_spark(), sql)

    # 10d. fixed-size rolling with min_periods + center over idx order
    n_roll = rng.randint(2, 5)
    minp = rng.randint(1, n_roll)
    rq2 = (df.lazy().sort("idx").select(
        pl.col("idx"),
        pl.col("x").rolling_sum(n_roll, min_periods=minp).round(6)
        .alias("rs"),
        pl.col("y").rolling_max(n_roll, center=True).alias("rm"),
        # round-9: median/std ride the row-count sliding-kernel attach
        pl.col("x").rolling_median(n_roll, min_periods=minp).round(6)
        .alias("rmd"),
        pl.col("y").rolling_std(n_roll, min_periods=minp).round(5)
        .alias("rsd")))
    before = (n_roll - 1) // 2
    after = n_roll - 1 - before
    sql = (f"SELECT idx, CASE WHEN count(x) OVER w1 >= {minp} THEN "
           "round(sum(x) OVER w1, 6) END AS rs, "
           f"CASE WHEN count(y) OVER w2 >= {n_roll} THEN max(y) OVER w2 "
           "END AS rm, "
           f"CASE WHEN count(x) OVER w1 >= {minp} THEN "
           "round(median(x) OVER w1, 6) END AS rmd, "
           f"CASE WHEN count(y) OVER w1y >= {minp} THEN "
           "round(stddev_samp(y) OVER w1y, 5) END AS rsd "
           "FROM t WINDOW "
           f"w1 AS (ORDER BY idx ROWS BETWEEN {n_roll - 1} PRECEDING "
           "AND CURRENT ROW), "
           f"w1y AS (ORDER BY idx ROWS BETWEEN {n_roll - 1} PRECEDING "
           "AND CURRENT ROW), "
           f"w2 AS (ORDER BY idx ROWS BETWEEN {before} PRECEDING AND "
           f"{after} FOLLOWING)")
    compare("rolling_fixed", rq2.collect().to_spark(), sql)

    # 10e. unpivot (melt) two value columns over the idx identifier
    uq2 = (df.lazy().select("idx", "x", "y")
           .unpivot(index="idx", on=["x", "y"]))
    sql = ("SELECT idx, 'x' AS variable, x AS value FROM t "
           "UNION ALL SELECT idx, 'y', y FROM t")
    compare("unpivot", uq2.collect().to_spark(), sql)

    # 11. implode per group (sorted list) + explode round-trip
    iq = (df.lazy().group_by("g")
          .agg(pl.col("a").sort().alias("la"),
               pl.col("a").count().cast(pl.Int64).alias("na"))
          .select("g", pl.col("la").list.sum().alias("sa"), "na"))
    # all-null group: polars list.sum([null,…]) = 0 (Series.sum semantics),
    # so the oracle must coalesce — groups always have >=1 row here
    sql = ("SELECT g, coalesce(sum(a), 0) AS sa, "
           "CAST(count(a) AS BIGINT) AS na FROM t GROUP BY g")
    compare("implode_sum", iq.collect().to_spark(), sql)

    # 12. fill_null strategies vs window equivalents (idx order)
    fq = (df.lazy().sort("idx").select(
        pl.col("idx"),
        pl.col("x").fill_null(strategy="forward").alias("ff"),
        pl.col("x").fill_null(strategy="backward").alias("bf"),
        pl.col("x").fill_null(strategy="mean").round(6).alias("mf"),
        pl.col("x").fill_null(0.5).alias("vf"),
    ))
    sql = ("SELECT idx, "
           "coalesce(x, last_value(x IGNORE NULLS) OVER "
           "(ORDER BY idx ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))"
           " AS ff, "
           "coalesce(x, first_value(x IGNORE NULLS) OVER "
           "(ORDER BY idx ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))"
           " AS bf, "
           "round(coalesce(x, avg(x) OVER ()), 6) AS mf, "
           "coalesce(x, 0.5) AS vf FROM t")
    compare("fill_null", fq.collect().to_spark(), sql)

    # 13. str transforms: replace_all / slice / contains / to_uppercase
    sq2 = df.lazy().select(
        pl.col("idx"),
        pl.col("s").str.replace_all("a", "_").alias("rp"),
        pl.col("s").str.slice(1, 3).alias("sl"),
        pl.col("s").str.contains("ha").alias("ct"),
        pl.col("s").str.to_uppercase().alias("up"),
        pl.col("s").str.strip_chars().alias("st"),
    )
    sql = ("SELECT idx, replace(s, 'a', '_') AS rp, s[2:4] AS sl, "
           "(CASE WHEN s IS NULL THEN NULL ELSE contains(s, 'ha') END) "
           "AS ct, upper(s) AS up, trim(s) AS st FROM t")
    compare("str_ops", sq2.collect().to_spark(), sql)

    # 14. vertical concat of three idx-slices + re-aggregation
    parts = [df.lazy().filter(pl.col("idx") % 3 == k).select("idx", "g", "x")
             for k in range(3)]
    cq = (pl.concat(parts).group_by("g")
          .agg(pl.col("x").sum().round(6).alias("sx"),
               pl.len().alias("n")))
    sql = ("SELECT g, round(coalesce(sum(x), 0), 6) AS sx, "
           "CAST(count(*) AS BIGINT) AS n FROM t GROUP BY g")
    compare("concat_agg", cq.collect().to_spark(), sql)

    # 15. cross join of two small slices
    xl = df.lazy().filter(pl.col("idx") < 4).select(
        pl.col("idx").alias("li"), "x")
    xr = df.lazy().filter((pl.col("idx") >= 4) & (pl.col("idx") < 7)).select(
        pl.col("idx").alias("ri"), "y")
    xq = xl.join(xr, how="cross").select(
        "li", "ri", (pl.col("x") + pl.col("y")).round(6).alias("s"))
    sql = ("SELECT l.li, r.ri, round(l.x + r.y, 6) AS s FROM "
           "(SELECT idx AS li, x FROM t WHERE idx < 4) l CROSS JOIN "
           "(SELECT idx AS ri, y FROM t WHERE idx >= 4 AND idx < 7) r")
    compare("cross_join", xq.collect().to_spark(), sql)

    # -- round-5 skew templates: the hot-key column h (~62% one value) and
    # hot-hour timestamps hts drive every join/agg/window shape through the
    # skewed-distribution regime the uniform columns never reach ------------

    # 16. skewed equi-join (hot key fans out quadratically)
    how2 = rng.choice(["inner", "left"])
    kl = df.lazy().filter(pl.col("idx") % 2 == 0).select("idx", "h", "x")
    kr = df.lazy().filter(pl.col("idx") % 2 == 1).select(
        pl.col("idx").alias("ridx"), "h", "y")
    kq = kl.join(kr, on="h", how=how2)
    base_kl = "(SELECT idx, h, x FROM t WHERE idx % 2 = 0)"
    base_kr = "(SELECT idx AS ridx, h, y FROM t WHERE idx % 2 = 1)"
    jk = "JOIN" if how2 == "inner" else "LEFT JOIN"
    sql = (f"SELECT l.idx, l.h, l.x, r.ridx, r.y FROM {base_kl} l "
           f"{jk} {base_kr} r USING (h)")
    compare(f"skew_join_{how2}", kq.collect().to_spark(), sql)

    # 17. skewed grouped aggregation
    ag2 = agg_exprs(pl, rng)
    kq2 = df.lazy().group_by("h").agg(*[e.alias(nm) for nm, e, _ in ag2])
    sql = "SELECT h, " + ", ".join(
        f"{sq} AS {nm}" for nm, _, sq in ag2) + " FROM t GROUP BY h"
    compare("skew_agg", kq2.collect().to_spark(), sql)

    # 18. skewed windows (one partition holds most rows)
    wx2 = window_exprs(pl, rng, key="h")
    kq3 = df.lazy().sort("idx").select(
        pl.col("idx"), *[e for _, e, _ in wx2])
    sql = "SELECT idx, " + ", ".join(
        f"{sq} AS {nm}" for nm, _, sq in wx2) + " FROM t"
    compare("skew_window", kq3.collect().to_spark(), sql)

    # 19. asof join over the hot-hour timestamps (dense ties on one band)
    strat2 = rng.choice(["backward", "forward"])
    hl = (df.lazy().filter((pl.col("idx") % 2 == 0)
                           & pl.col("hts").is_not_null())
          .select("idx", "hts", "x").sort("hts", "idx"))
    hr = (df.lazy().filter((pl.col("idx") % 2 == 1)
                           & pl.col("hts").is_not_null())
          .select("hts", "y").group_by("hts").agg(pl.col("y").max())
          .sort("hts"))
    hq = hl.join_asof(hr, on="hts", strategy=strat2).select(
        "idx", "hts", "y")
    base_hl = ("(SELECT idx, hts, x FROM t WHERE idx % 2 = 0 "
               "AND hts IS NOT NULL)")
    base_hr = ("(SELECT hts, max(y) AS y FROM t WHERE idx % 2 = 1 "
               "AND hts IS NOT NULL GROUP BY hts)")
    op2 = ">=" if strat2 == "backward" else "<="
    sql = (f"SELECT l.idx, l.hts, r.y FROM {base_hl} l ASOF LEFT JOIN "
           f"{base_hr} r ON l.hts {op2} r.hts")
    compare(f"skew_asof_{strat2}", hq.collect().to_spark(), sql)

    # 20. dynamic windows over the hot hour, keyed by the hot key
    every2 = rng.choice(["15m", "30m", "1h"])
    dur2 = {"15m": "15 MINUTES", "30m": "30 MINUTES",
            "1h": "1 HOUR"}[every2]
    hq2 = (df.lazy().filter(pl.col("hts").is_not_null()
                            & pl.col("h").is_not_null())
           .sort("hts")
           .group_by_dynamic("hts", every=every2, group_by="h")
           .agg(pl.col("x").sum().round(6).alias("sx"),
                pl.col("a").count().cast(pl.Int64).alias("ca")))
    sql = (f"SELECT h, time_bucket(INTERVAL {dur2}, hts) AS hts, "
           "round(coalesce(sum(x), 0), 6) AS sx, "
           "CAST(count(a) AS BIGINT) AS ca "
           "FROM t WHERE hts IS NOT NULL AND h IS NOT NULL GROUP BY 1, 2")
    compare(f"skew_dynamic_{every2}", hq2.collect().to_spark(), sql)

    # 21. windowed ops INSIDE group_by().agg (round-5 key-shared pre-stage):
    # agg(rank/cum/diff/flags) per group == the same window over the keys;
    # exploded lockstep with idx.  Alternates the uniform and hot keys.
    k21 = rng.choice(["g", "h"])
    w21 = (f"OVER (PARTITION BY {k21} ORDER BY idx "
           "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)")
    wa_pool = [
        lambda: (pl.col("x").cum_sum().round(6), f"round(sum(x) {w21}, 6)"),
        lambda: (pl.col("a").cum_max(), f"max(a) {w21}"),
        lambda: (pl.col("x").shift(1),
                 f"lag(x, 1) OVER (PARTITION BY {k21} ORDER BY idx)"),
        lambda: (pl.col("x").diff().round(6),
                 f"round(x - lag(x, 1) OVER (PARTITION BY {k21} "
                 "ORDER BY idx), 6)"),
        lambda: (pl.col("y").rank("min").cast(pl.Int64),
                 "CASE WHEN y IS NOT NULL THEN CAST(rank() OVER "
                 f"(PARTITION BY {k21} ORDER BY y NULLS LAST) AS BIGINT) "
                 "END"),
        lambda: (pl.col("x").forward_fill(),
                 f"last_value(x IGNORE NULLS) {w21}"),
        lambda: (pl.col("y").is_unique(),
                 f"count(*) OVER (PARTITION BY {k21}, y) = 1"),
        lambda: (pl.col("y").is_first_distinct(),
                 f"row_number() OVER (PARTITION BY {k21}, y "
                 "ORDER BY idx) = 1"),
    ]
    wa = [(f"wa{i}",) + mk() for i, mk in enumerate(rng.sample(wa_pool, 4))]
    base21 = df.lazy().filter(pl.col(k21).is_not_null()).sort("idx")
    gq21 = (base21.group_by(k21).agg(
        pl.col("idx").alias("ii"),
        *[e.alias(nm) for nm, e, _ in wa])
        .explode("ii", *[nm for nm, _, _ in wa]))
    sql = (f"SELECT {k21}, idx AS ii, " + ", ".join(
        f"{s} AS {nm}" for nm, _, s in wa)
        + f" FROM t WHERE {k21} IS NOT NULL")
    compare(f"winagg_{k21}", gq21.collect().to_spark(), sql)

    # -- round-6 agg-context-compiler templates (q146–q149 shape space):
    # random inner transform × random reducer × optional filter, in agg /
    # dynamic / gapped-index contexts — the newest compiler surface --------

    # 22. composed order-transformed reducers in agg (q147 shape):
    # shift(n) under sum / n_unique / is_unique().any()
    k22 = rng.choice(["g", "h"])
    n22 = rng.randint(1, 3)
    v22 = rng.choice(["x", "a"])
    b22 = df.lazy().filter(pl.col(k22).is_not_null()).sort("idx")
    g22 = b22.group_by(k22).agg(
        pl.col(v22).shift(n22).sum().round(6).alias("ss"),
        pl.col(v22).shift(n22).n_unique().cast(pl.Int64).alias("nu"),
        pl.col(v22).shift(n22).is_unique().any().alias("iu"),
    )
    sql = (f"WITH w AS (SELECT {k22} AS k, idx, lag({v22}, {n22}) OVER "
           f"(PARTITION BY {k22} ORDER BY idx) AS lv FROM t "
           f"WHERE {k22} IS NOT NULL), "
           "c AS (SELECT k, lv, count(*) OVER (PARTITION BY k, lv) AS cc "
           "FROM w) "
           f"SELECT k AS {k22}, round(coalesce(sum(lv), 0), 6) AS ss, "
           "CAST(count(DISTINCT lv) + max(CASE WHEN lv IS NULL THEN 1 "
           "ELSE 0 END) AS BIGINT) AS nu, "
           "bool_or(cc = 1) AS iu FROM c GROUP BY k")
    compare(f"agg_shift_reducers_{k22}", g22.collect().to_spark(), sql)

    # 23. Expr.filter inside agg over plain AND windowed inners (q149):
    # the filter REMOVES elements; null predicates exclude
    k23 = rng.choice(["g", "h"])
    n23 = rng.randint(1, 2)
    b23 = df.lazy().filter(pl.col(k23).is_not_null()).sort("idx")
    g23 = b23.group_by(k23).agg(
        pl.col("x").shift(n23).filter(pl.col("p")).sum().round(6)
        .alias("fs"),
        pl.col("x").filter(pl.col("p")).len().alias("fn"),
        pl.col("a").filter(pl.col("p").not_()).max().alias("fm"),
    )
    sql = (f"WITH w AS (SELECT {k23} AS k, p, x, a, lag(x, {n23}) OVER "
           f"(PARTITION BY {k23} ORDER BY idx) AS lx FROM t "
           f"WHERE {k23} IS NOT NULL) "
           f"SELECT k AS {k23}, "
           "round(coalesce(sum(CASE WHEN p THEN lx END), 0), 6) AS fs, "
           "CAST(count(CASE WHEN p THEN 1 END) AS BIGINT) AS fn, "
           "max(CASE WHEN NOT p THEN a END) AS fm FROM w GROUP BY k")
    compare(f"agg_filter_{k23}", g23.collect().to_spark(), sql)

    # 24. spearman corr + diff().sum() INSIDE group_by_dynamic (q142):
    # pre-stage windows keyed by the dynamic bucket; rank ties averaged,
    # pairs with a null skipped
    ev24 = rng.choice(["30m", "1h", "2h"])
    d24 = {"30m": "30 MINUTES", "1h": "1 HOUR", "2h": "2 HOURS"}[ev24]
    q24 = (df.lazy().filter(pl.col("ts").is_not_null())
           .sort("ts", "idx")
           .group_by_dynamic("ts", every=ev24)
           .agg(pl.corr("x", "y", method="spearman").fill_nan(None)
                .round(6).alias("sp"),
                pl.col("x").diff().sum().round(6).alias("ds"),
                pl.len().alias("n")))
    sql = (f"WITH b AS (SELECT time_bucket(INTERVAL {d24}, ts) AS w, ts, "
           "idx, x, y FROM t WHERE ts IS NOT NULL), "
           "r AS (SELECT w, "
           "CASE WHEN x IS NOT NULL THEN rank() OVER (PARTITION BY w "
           "ORDER BY x NULLS LAST) + (count(*) OVER (PARTITION BY w, x) "
           "- 1) / 2.0 END AS rx, "
           "CASE WHEN y IS NOT NULL THEN rank() OVER (PARTITION BY w "
           "ORDER BY y NULLS LAST) + (count(*) OVER (PARTITION BY w, y) "
           "- 1) / 2.0 END AS ry, "
           "x - lag(x) OVER (PARTITION BY w ORDER BY ts, idx) AS dx "
           "FROM b) "
           "SELECT w AS ts, round(corr(rx, ry), 6) AS sp, "
           "round(coalesce(sum(dx), 0), 6) AS ds, count(*) AS n "
           "FROM r GROUP BY w")
    compare(f"dynamic_spearman_{ev24}", q24.collect().to_spark(), sql)

    # 25. GAPPED-INDEX positional ops in agg (q148): windowed with_columns
    # materializes the hidden index, filter leaves it gapped — reverse /
    # arg_max / pre-computed helper sums must re-rank dense
    k25 = rng.choice(["g", "h"])
    thr = round(rng.uniform(-40, 40), 3)
    q25 = (df.lazy().sort("idx")
           .with_columns(pl.col("x").shift(1).over(k25).alias("pv"))
           .filter(pl.col("x") > thr)
           .group_by(k25).agg(
               pl.col("a").reverse().alias("rv"),
               pl.col("x").arg_max().cast(pl.Int64).alias("am"),
               pl.col("pv").sum().round(6).alias("ps"))
           .explode("rv"))
    sql = (f"WITH s AS (SELECT idx, {k25} AS k, a, x, lag(x) OVER "
           f"(PARTITION BY {k25} ORDER BY idx) AS pv FROM t), "
           f"f AS (SELECT *, row_number() OVER (PARTITION BY k "
           f"ORDER BY idx) - 1 AS rn0 FROM s WHERE x > {thr}), "
           "m AS (SELECT k, max(x) AS mx FROM f GROUP BY k), "
           "g AS (SELECT f.k, list(a ORDER BY rn0 DESC) AS rv, "
           "CAST(min(rn0) FILTER (WHERE x = mx) AS BIGINT) AS am, "
           "round(coalesce(sum(pv), 0), 6) AS ps "
           "FROM f LEFT JOIN m ON f.k IS NOT DISTINCT FROM m.k "
           "GROUP BY f.k) "
           f"SELECT k AS {k25}, unnest(rv) AS rv, am, ps FROM g")
    compare(f"gapped_positional_{k25}", q25.collect().to_spark(), sql)

    # 26. cumulative_eval inside agg (q138): running reducer over each
    # group's prefix, exploded lockstep with idx
    k26 = rng.choice(["g", "h"])
    red26, red_sql = rng.choice([
        ("max", "max(x) OVER wpre"),
        ("min", "min(x) OVER wpre"),
        ("mean", "round(avg(x) OVER wpre, 6)"),
    ])
    inner26 = getattr(pl.element(), red26)()
    if red26 == "mean":
        inner26 = inner26.round(6)
    b26 = df.lazy().filter(pl.col(k26).is_not_null()).sort("idx")
    g26 = (b26.group_by(k26).agg(
        pl.col("idx").alias("ii"),
        pl.col("x").cumulative_eval(inner26).alias("cv"))
        .explode("ii", "cv"))
    sql = (f"SELECT {k26}, idx AS ii, {red_sql} AS cv FROM t "
           f"WHERE {k26} IS NOT NULL WINDOW wpre AS "
           f"(PARTITION BY {k26} ORDER BY idx "
           "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)")
    compare(f"cumeval_{red26}_{k26}", g26.collect().to_spark(), sql)

    # 27. rolling COLLECT-WINDOW path (round-7): non-algebraic aggs
    # (median) + spearman pre-stage + len over a per-row look-back, with
    # and without by-keys, fixed and day periods, uniform and hot-hour
    # timestamps — vs the band-join SQL oracle
    per27, d27 = rng.choice([("30m", "30 MINUTES"), ("2h", "2 HOURS"),
                             ("1d", "1 DAY")])
    k27 = rng.choice([None, "g", "h"])
    t27 = rng.choice(["ts", "hts"])
    cl27 = rng.choice(["right", "left", "both", "none"])
    cmp_lo = ">" if cl27 in ("right", "none") else ">="
    cmp_hi = "<" if cl27 in ("left", "none") else "<="
    b27 = df.lazy().filter(pl.col(t27).is_not_null())
    kf = ""
    if k27 is not None:
        b27 = b27.filter(pl.col(k27).is_not_null())
        kf = f"AND {k27} IS NOT NULL"
    b27 = b27.sort(t27, "idx")
    q27 = (b27.rolling(index_column=t27, period=per27, group_by=k27,
                       closed=cl27)
           .agg(pl.col("x").median().round(6).alias("md"),
                pl.col("y").min().round(6).alias("mn"),
                pl.corr("x", "y", method="spearman").fill_nan(None)
                .round(6).alias("sp"),
                pl.len().alias("n")))
    ksel = f"a.{k27} AS ak," if k27 else ""
    kjoin = f"a.{k27} = b.{k27} AND" if k27 else ""
    kout = f"ak AS {k27}," if k27 else ""
    kgrp = ", ak" if k27 else ""
    sql = (f"WITH s AS (SELECT idx, {t27} AS ats, g, h, x, y FROM t "
           f"WHERE {t27} IS NOT NULL {kf}), "
           f"j AS (SELECT a.idx AS ai, a.ats, {ksel} b.idx AS bi, "
           f"b.x AS bx, b.y AS byy FROM s a LEFT JOIN s b ON {kjoin} "
           f"b.ats {cmp_lo} a.ats - INTERVAL {d27} "
           f"AND b.ats {cmp_hi} a.ats), "
           "r AS (SELECT *, "
           "CASE WHEN bx IS NOT NULL THEN rank() OVER (PARTITION BY ai "
           "ORDER BY bx NULLS LAST) + (count(*) OVER (PARTITION BY ai, bx)"
           " - 1) / 2.0 END AS rx, "
           "CASE WHEN byy IS NOT NULL THEN rank() OVER (PARTITION BY ai "
           "ORDER BY byy NULLS LAST) + (count(*) OVER (PARTITION BY ai, "
           "byy) - 1) / 2.0 END AS ry FROM j) "
           f"SELECT {kout} ats AS {t27}, round(median(bx), 6) AS md, "
           "round(min(byy), 6) AS mn, round(corr(rx, ry), 6) AS sp, "
           f"count(bi) AS n FROM r GROUP BY ai, ats{kgrp}")
    compare(f"rolling_collectwin_{per27}_{k27}_{t27}",
            q27.collect().to_spark(), sql)

    # 28. positional list.eval programs (round-7 numpy kernel): per-group
    # x lists, element() arithmetic with shift/diff/pct_change — kernel
    # and DuckDB list_transform must agree on null slots and zero
    # divisors; the kernel alternates with the HOF route on type gates
    fill28 = rng.choice([None, 0, 2])
    fs = "NULL" if fill28 is None else str(fill28)
    progs = {
        "diff": (pl.element().diff(1),
                 "lx[i] - lx[i-1]"),
        "mix": (pl.element() * 2 + pl.element().shift(1, fill_value=fill28),
                f"lx[i] * 2 + (CASE WHEN i - 1 >= 1 THEN lx[i-1] "
                f"ELSE {fs} END)"),
        # round-11 pct semantics: forward-fill BEFORE differencing and
        # polars /0 → ±inf / 0/0 → NaN (prev = last non-null before i)
        "pct": (pl.element().pct_change(1),
                ("CASE WHEN __p IS NULL THEN NULL"
                 " WHEN __p = 0 AND COALESCE(lx[i], __p) = 0"
                 " THEN 'nan'::DOUBLE"
                 " WHEN __p = 0 AND COALESCE(lx[i], __p) > 0"
                 " THEN 'infinity'::DOUBLE"
                 " WHEN __p = 0 AND COALESCE(lx[i], __p) < 0"
                 " THEN '-infinity'::DOUBLE"
                 " ELSE (COALESCE(lx[i], __p) - __p) / __p END")
                .replace("__p", "list_last(list_filter(list_slice(lx, 1, i - 1), y -> y IS NOT NULL))")),
        "rsub": (10 - pl.element().shift(-1),
                 "10 - (CASE WHEN i + 1 <= len(lx) THEN lx[i+1] END)"),
        "div": (pl.element() / pl.element().shift(1),
                "CASE WHEN lx[i] IS NULL OR lx[i-1] IS NULL THEN NULL"
                " WHEN lx[i-1] = 0 AND lx[i] = 0 THEN 'nan'::DOUBLE"
                " WHEN lx[i-1] = 0 AND lx[i] > 0 THEN 'infinity'::DOUBLE"
                " WHEN lx[i-1] = 0 AND lx[i] < 0 THEN '-infinity'::DOUBLE"
                " ELSE lx[i] / lx[i-1] END"),
    }
    p28 = rng.choice(sorted(progs))
    e28, s28 = progs[p28]
    q28 = (df.lazy().sort("idx").group_by("g")
           .agg(pl.col("x").alias("lx"))
           .select(pl.col("g"),
                   pl.col("lx").list.eval(e28).alias("ev"))
           .explode("ev")
           .select(pl.col("g"), pl.col("ev").round(6).alias("ev")))
    sql = ("WITH l AS (SELECT g, list(x ORDER BY idx) AS lx FROM t "
           "GROUP BY g) "
           "SELECT g, round(unnest(list_transform("
           f"range(1, len(lx) + 1), i -> {s28})), 6) AS ev FROM l")
    compare(f"list_eval_np_{p28}", q28.collect().to_spark(), sql)

    # 29. composed / ungrouped cumulative_eval (round-7 cumulative Arrow
    # kernel): arithmetic over prefix aggregates, whole-frame prefix
    comp29, sql29 = rng.choice([
        ("spread", None),
        ("meanr", None),
        ("cntlen", None),
    ])
    if comp29 == "spread":
        inner29 = (pl.element().max() - pl.element().min()).round(6)
        s29 = ("round(max(x) OVER wpre - min(x) OVER wpre, 6)")
    elif comp29 == "meanr":
        inner29 = pl.element().mean().round(6)
        s29 = "round(avg(x) OVER wpre, 6)"
    else:
        inner29 = (pl.element().count() / pl.element().len()).round(6)
        s29 = "round(count(x) OVER wpre * 1.0 / count(*) OVER wpre, 6)"
    q29 = (df.lazy().sort("idx")
           .with_columns(pl.col("x").cumulative_eval(inner29).alias("cv"))
           .select("idx", "cv"))
    sql = (f"SELECT idx, {s29} AS cv FROM t WINDOW wpre AS "
           "(ORDER BY idx ROWS BETWEEN UNBOUNDED PRECEDING AND "
           "CURRENT ROW)")
    compare(f"cumeval_composed_{comp29}", q29.collect().to_spark(), sql)

    # 30. ewm_mean (round-7): TWO ungrouped bindings (exercises the
    # batched multi-attach + the arrow carry fold) plus one grouped
    # binding over a many-key grouping with a null key (b: ~20 keys, or
    # g x h), vs an O(n²) weighted self-join oracle (ignore_nulls=True:
    # weight = lam^(nonnull-count distance), times alpha except at the
    # group's first non-null when adjust=False; a null row emits the
    # previous mean — its pair set is unchanged)
    lam30 = rng.choice([0.5, 0.8, 0.9])
    al30 = round(1 - lam30, 6)
    kw30 = dict(alpha=al30, adjust=True, ignore_nulls=True, min_periods=1)
    adj30 = rng.choice([True, False])
    keys30 = rng.choice([["b"], ["g", "h"]])
    q30 = (df.lazy().sort("idx")
           .with_columns(
               pl.col("x").ewm_mean(**kw30).alias("e1"),
               pl.col("y").ewm_mean(**kw30).alias("e2"),
               pl.col("x").ewm_mean(**dict(kw30, adjust=adj30))
               .over(keys30).alias("eg"))
           .select("idx", pl.col("e1").round(6).alias("e1"),
                   pl.col("e2").round(6).alias("e2"),
                   pl.col("eg").round(6).alias("eg")))
    L = repr(1.0 - al30)
    gw = "1.0" if adj30 else f"CASE WHEN b.cgx = 1 THEN 1.0 ELSE {al30} END"
    gon = " AND ".join(f"b.{k} IS NOT DISTINCT FROM a.{k}" for k in keys30)
    sql = (f"WITH s AS (SELECT idx, {', '.join(keys30)}, x, y, "
           "count(x) OVER (ORDER BY idx) AS cx, "
           "count(y) OVER (ORDER BY idx) AS cy, "
           f"count(x) OVER (PARTITION BY {', '.join(keys30)} ORDER BY idx) "
           "AS cgx FROM t), "
           f"e1 AS (SELECT a.idx, sum(pow({L}, a.cx - b.cx) * b.x) "
           f"/ sum(pow({L}, a.cx - b.cx)) AS v FROM s a LEFT JOIN s b "
           "ON b.idx <= a.idx AND b.x IS NOT NULL GROUP BY a.idx, a.cx), "
           f"e2 AS (SELECT a.idx, sum(pow({L}, a.cy - b.cy) * b.y) "
           f"/ sum(pow({L}, a.cy - b.cy)) AS v FROM s a LEFT JOIN s b "
           "ON b.idx <= a.idx AND b.y IS NOT NULL GROUP BY a.idx, a.cy), "
           f"eg AS (SELECT a.idx, sum(pow({L}, a.cgx - b.cgx) * {gw} * b.x) "
           f"/ sum(pow({L}, a.cgx - b.cgx) * {gw}) AS v FROM s a "
           f"LEFT JOIN s b ON {gon} AND b.idx <= a.idx AND b.x IS NOT NULL "
           "GROUP BY a.idx, a.cgx) "
           "SELECT s.idx, round(e1.v, 6) AS e1, round(e2.v, 6) AS e2, "
           "round(eg.v, 6) AS eg FROM s "
           "LEFT JOIN e1 ON e1.idx = s.idx "
           "LEFT JOIN e2 ON e2.idx = s.idx "
           "LEFT JOIN eg ON eg.idx = s.idx")
    compare(f"ewm_mean_{lam30}_adjust{adj30}_over{keys30}",
            q30.collect().to_spark(), sql)

    # 31. Avro OCF round-trip (round-8, VERDICT r7 #7): random frames
    # through write_avro → read_avro must reproduce the in-memory values
    # exactly (nullable unions, zigzag ints, doubles incl. the null/NaN
    # distinction, unicode strings, bools, timestamp-micros)
    import os as _os
    import tempfile as _tf

    avp = _os.path.join(_tf.mkdtemp(prefix="plsq_fuzz_avro_"), "t.avro")
    try:
        df.select(["idx", "a", "x", "s", "p", "ts"]).write_avro(avp)
        back = pl.read_avro(avp)
        compare("avro_roundtrip", back.to_spark(),
                "SELECT idx, a, x, s, p, ts FROM t")
    finally:
        if _os.path.exists(avp):
            _os.remove(avp)
            _os.rmdir(_os.path.dirname(avp))

    # 32. rolling SLIDING-KERNEL route (round-9): an ALL-SIMPLE agg batch
    # containing min/max routes to the per-chunk Arrow kernel
    # (operators/rolling_kernel.py) — the blind spot template 27 could
    # never reach (its median/spearman always force the collect-window
    # path; the r8 kernel crash shipped exactly in that shadow).  Pins
    # null skipping, sum-over-empty-window = 0, int64 sum accumulation,
    # all 4 closed modes, grouped/ungrouped, both timestamp shapes.
    per32, d32 = rng.choice([("45m", "45 MINUTES"), ("3h", "3 HOURS"),
                             ("1d", "1 DAY")])
    k32 = rng.choice([None, "g", "h"])
    t32 = rng.choice(["ts", "hts"])
    cl32 = rng.choice(["right", "left", "both", "none"])
    cmp_lo = ">" if cl32 in ("right", "none") else ">="
    cmp_hi = "<" if cl32 in ("left", "none") else "<="
    b32 = df.lazy().filter(pl.col(t32).is_not_null())
    kf = ""
    if k32 is not None:
        b32 = b32.filter(pl.col(k32).is_not_null())
        kf = f"AND {k32} IS NOT NULL"
    b32 = b32.sort(t32, "idx")
    aggs32 = [pl.col("x").min().alias("mn"),
              pl.col("y").max().alias("mx"),
              pl.col("x").sum().alias("sm"),
              pl.col("a").sum().alias("sa"),
              pl.col("y").mean().alias("me"),
              # round-9 wavelet order statistics ride the same kernel
              pl.col("x").median().alias("md"),
              pl.col("y").quantile(0.25, "linear").alias("q25"),
              pl.col("x").count().alias("c"),
              pl.len().alias("n"),
              # round-9 central-moment arm (chunk-shifted prefix moments)
              pl.col("x").std().alias("sd"),
              pl.col("y").var(ddof=0).alias("vp"),
              # round-9 pair arm (prefix sums of a, b, ab)
              pl.cov("x", "y").alias("cv")]
    sql32_extra = ""
    wrap32 = rng.random() < 0.5
    if wrap32:
        # round-9 WRAPPED route: elementwise post-transforms flip the
        # whole batch onto _agg_sliding_kernel_wrapped (leaf substitution);
        # corr rides here because its zero-variance NaN (Spark) vs NULL
        # (DuckDB) needs the fill_nan(None) wrapper to compare
        aggs32.append(
            (pl.col("y").max() - pl.col("y").min()).alias("rg"))
        aggs32.append(pl.corr("x", "y").fill_nan(None).alias("cr"))
        sql32_extra = (", max(byy) - min(byy) AS rg"
                       ", corr(bx, byy) AS cr")
    q32 = (b32.rolling(index_column=t32, period=per32, group_by=k32,
                       closed=cl32).agg(*aggs32))
    ksel = f"a.{k32} AS ak," if k32 else ""
    kjoin = f"a.{k32} = b.{k32} AND" if k32 else ""
    kout = f"ak AS {k32}," if k32 else ""
    kgrp = ", ak" if k32 else ""
    sql = (f"WITH s AS (SELECT idx, {t32} AS ats, g, h, a, x, y FROM t "
           f"WHERE {t32} IS NOT NULL {kf}), "
           f"j AS (SELECT a.idx AS ai, a.ats, {ksel} b.idx AS bi, "
           f"b.x AS bx, b.y AS byy, b.a AS ba FROM s a LEFT JOIN s b "
           f"ON {kjoin} b.ats {cmp_lo} a.ats - INTERVAL {d32} "
           f"AND b.ats {cmp_hi} a.ats) "
           f"SELECT {kout} ats AS {t32}, min(bx) AS mn, max(byy) AS mx, "
           "COALESCE(sum(bx), 0) AS sm, COALESCE(sum(ba), 0) AS sa, "
           "avg(byy) AS me, median(bx) AS md, "
           "quantile_cont(byy, 0.25) AS q25, "
           "count(bx) AS c, count(bi) AS n, "
           "stddev_samp(bx) AS sd, var_pop(byy) AS vp, "
           "covar_samp(bx, byy) AS cv"
           f"{sql32_extra} "
           f"FROM j GROUP BY ai, ats{kgrp}")
    compare(f"rolling_kernel_{per32}_{k32}_{cl32}_w{int(wrap32)}",
            q32.collect().to_spark(), sql)

    duck.unregister("t")
    return diffs


def main():
    import duckdb
    from pyspark.sql import SparkSession

    import polars_ruby_spark as pl
    from polars_ruby_spark.session import configure

    n = int(sys.argv[1]) if len(sys.argv) > 1 else 60
    start = int(sys.argv[2]) if len(sys.argv) > 2 else 0
    spark = configure(
        SparkSession.builder.master("local[*]")
        .appName("fuzz-diff")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
    ).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    duck = duckdb.connect()
    failures = []
    for seed in range(start, start + n):
        try:
            diffs = run_seed(pl, spark, duck, seed)
        except Exception as exc:  # noqa: BLE001 — a crash is a finding too
            diffs = [f"seed={seed} CRASH: {type(exc).__name__}: {exc}"]
        failures.extend(diffs)
        for d in diffs:
            print("DIFF", d[:400])
        if (seed - start + 1) % 20 == 0:
            print(f"... {seed - start + 1}/{n} seeds, "
                  f"{len(failures)} divergences", flush=True)
    print(f"{n} seeds: {len(failures)} divergences")
    sys.exit(min(len(failures), 120))


if __name__ == "__main__":
    main()

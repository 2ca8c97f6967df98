"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship TPC-H-Q1-style query at sf0.001.
``queries()`` — one entry per implemented operator family (SURVEY.md §2).
``oracle_sql()`` — DuckDB-equivalent SQL per query (same column names).

All queries are built through the engine package (``polars_ruby_spark``) so
the driver exercises our API layer, not raw PySpark.  Floating-point
aggregates are rounded identically on both sides (sum→2dp, avg/std→4dp)
because double accumulation order differs across engines.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

SF_DEFAULT = "/root/testdata/sf0.001"


def _prep(spark: SparkSession) -> None:
    """Engine semantics on a caller-provided session (polars casts are
    null-on-error → ANSI off; timestamps tz-naive-UTC)."""
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.caseSensitive", "true")
    # amortize Python-worker round-trips in vectorized (Arrow) stages —
    # measured 2× on the ANN matmul queries vs the 10k default
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")


def _out(lf):
    """Driver handoff: the correctness harness canonicalizes (sorts) rows,
    and a Spark DataFrame carries no row-order contract — skip the engine's
    deferred row-order restore sort (polars-semantics exports keep it)."""
    return lf._raw_spark() if hasattr(lf, "_raw_spark") else lf.to_spark()


def _t(spark: SparkSession, sf_dir: str, name: str):
    import polars_ruby_spark as pl

    _prep(spark)
    return pl.scan_parquet(f"{sf_dir}/{name}.parquet", spark=spark)


# ---------------------------------------------------------------------------
# Queries — each returns the underlying Spark DataFrame.
# ---------------------------------------------------------------------------

def q01_pricing_summary(spark, sf_dir):
    """TPC-H Q1: scan→filter→group_by→agg→sort (SURVEY §7.1)."""
    return _out(_q01_lf(spark, sf_dir))


def _q01_lf(spark, sf_dir):
    import polars_ruby_spark as pl

    li = _t(spark, sf_dir, "lineitem")
    out = (
        li.filter(pl.col("l_shipdate") <= pl.lit("1998-09-02").cast(pl.Datetime))
        .group_by("l_returnflag", "l_linestatus")
        .agg(
            pl.col("l_quantity").sum().round(2).alias("sum_qty"),
            pl.col("l_extendedprice").sum().round(2).alias("sum_base_price"),
            (pl.col("l_extendedprice") * (1 - pl.col("l_discount"))).sum().round(2).alias("sum_disc_price"),
            (pl.col("l_extendedprice") * (1 - pl.col("l_discount")) * (1 + pl.col("l_tax"))).sum().round(2).alias("sum_charge"),
            pl.col("l_quantity").mean().round(4).alias("avg_qty"),
            pl.col("l_extendedprice").mean().round(4).alias("avg_price"),
            pl.col("l_discount").mean().round(4).alias("avg_disc"),
            pl.len().alias("count_order"),
        )
        .sort("l_returnflag", "l_linestatus")
    )
    return out


def q02_project_arithmetic(spark, sf_dir):
    """select/with_columns: arithmetic, when/then, is_between, is_in (§2.2)."""
    import polars_ruby_spark as pl

    li = _t(spark, sf_dir, "lineitem")
    out = li.select(
        pl.col("l_orderkey"),
        pl.col("l_linenumber"),
        (pl.col("l_extendedprice") * (1 - pl.col("l_discount"))).round(4).alias("net"),
        pl.col("l_returnflag").is_in(["A", "N"]).alias("flag_an"),
        pl.col("l_quantity").is_between(10, 20).alias("qty_mid"),
        pl.when(pl.col("l_discount") > 0.05).then(pl.lit("hi"))
        .when(pl.col("l_discount") > 0.02).then(pl.lit("mid"))
        .otherwise(pl.lit("lo")).alias("disc_band"),
    )
    return _out(out)


def q03_top_k(spark, sf_dir):
    """sort desc + limit (top-k; §2.6)."""
    import polars_ruby_spark as pl

    o = _t(spark, sf_dir, "orders")
    out = (o.sort(["o_totalprice", "o_orderkey"], descending=[True, False])
           .head(10)
           .select("o_orderkey", "o_custkey", "o_totalprice"))
    return _out(out)


def q04_join_inner_agg(spark, sf_dir):
    """inner equi join + grouped agg (§2.3/§2.4); dim side broadcast."""
    import polars_ruby_spark as pl

    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    out = (
        o.join(c, left_on="o_custkey", right_on="c_custkey", how="inner", broadcast=True)
        .group_by("c_mktsegment")
        .agg(
            pl.len().alias("n_orders"),
            pl.col("o_totalprice").sum().round(2).alias("revenue"),
        )
    )
    return _out(out)


def q05_join_left(spark, sf_dir):
    """left join keeping unmatched rows; count non-null (§2.3)."""
    import polars_ruby_spark as pl

    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    out = (
        c.join(o, left_on="c_custkey", right_on="o_custkey", how="left")
        .group_by("c_custkey")
        .agg(pl.col("o_orderkey").count().alias("n_orders"))
    )
    return _out(out)


def q06_join_semi(spark, sf_dir):
    import polars_ruby_spark as pl  # noqa: F401

    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    out = c.join(o, left_on="c_custkey", right_on="o_custkey", how="semi").select(
        "c_custkey", "c_mktsegment")
    return _out(out)


def q07_join_anti(spark, sf_dir):
    import polars_ruby_spark as pl  # noqa: F401

    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    out = c.join(o, left_on="c_custkey", right_on="o_custkey", how="anti").select(
        "c_custkey", "c_acctbal")
    return _out(out)


def q08_join_full(spark, sf_dir):
    """full outer join keeps both key columns (lazy_frame.rb:1648 doctest)."""
    import polars_ruby_spark as pl

    s = _t(spark, sf_dir, "supplier").group_by("s_nationkey").agg(pl.len().alias("n_sup"))
    c = _t(spark, sf_dir, "customer").group_by("c_nationkey").agg(pl.len().alias("n_cust"))
    out = s.join(c, left_on="s_nationkey", right_on="c_nationkey", how="full")
    return _out(out)


def q09_join_cross(spark, sf_dir):
    import polars_ruby_spark as pl  # noqa: F401

    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    out = r.join(n, how="cross").select("r_name", "n_name")
    return _out(out)


def q10_join_asof(spark, sf_dir):
    """as-of backward join per user (custom operator; §2.3 join_asof)."""
    import polars_ruby_spark as pl

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(pl.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = (
        ev.filter(pl.col("event_type") == "purchase")
        .group_by("user_id", "ts")
        .agg(pl.col("value").max().alias("pval"))
    )
    out = clicks.join_asof(purchases, on="ts", by="user_id", strategy="backward").select(
        "event_id", "user_id", "pval")
    return _out(out)


def q11_window_rank(spark, sf_dir):
    """window rank family over partitions (§2.5)."""
    import polars_ruby_spark as pl

    o = _t(spark, sf_dir, "orders")
    out = (
        o.with_columns(
            pl.col("o_totalprice").rank("min", descending=True).over("o_orderstatus").alias("rnk"),
            pl.col("o_totalprice").rank("dense", descending=True).over("o_orderstatus").alias("drnk"),
        )
        .filter(pl.col("rnk") <= 20)
        .select("o_orderkey", "o_orderstatus", "rnk", "drnk")
    )
    return _out(out)


def q12_lag_diff(spark, sf_dir):
    """shift/diff within groups over row order (§2.5)."""
    import polars_ruby_spark as pl

    ev = _t(spark, sf_dir, "events").sort(["ts", "event_id"])
    out = ev.with_columns(
        pl.col("value").diff(1).over("user_id").round(4).alias("dv"),
    ).select("event_id", "user_id", "dv")
    return _out(out)


def q13_cum_sum(spark, sf_dir):
    """cumulative aggregates within groups (§2.5 cum_*)."""
    import polars_ruby_spark as pl

    ev = _t(spark, sf_dir, "events").sort(["ts", "event_id"])
    out = ev.with_columns(
        pl.col("value").cum_sum().over("user_id").round(4).alias("cv"),
    ).select("event_id", "user_id", "cv")
    return _out(out)


def q14_rolling_1h(spark, sf_dir):
    """time-based rolling mean (rolling_*_by; §2.5) — range-frame window."""
    import polars_ruby_spark as pl

    ev = _t(spark, sf_dir, "events")
    out = ev.with_columns(
        pl.col("value").rolling_mean_by("ts", "1h", closed="both").over("user_id")
        .round(4).alias("rv"),
    ).select("event_id", "user_id", "rv")
    return _out(out)


def q15_dynamic_1h(spark, sf_dir):
    """group_by_dynamic tumbling event-time windows (§2.10) → F.window."""
    import polars_ruby_spark as pl

    ev = _t(spark, sf_dir, "events")
    out = ev.group_by_dynamic("ts", every="1h", by=["event_type"]).agg(
        pl.len().alias("n"),
        pl.col("value").sum().round(2).alias("sv"),
    )
    return _out(out)


def q16_str_funcs(spark, sf_dir):
    """string namespace (§2.8): case, length, contains, extract, split."""
    import polars_ruby_spark as pl

    d = _t(spark, sf_dir, "documents")
    out = d.select(
        pl.col("doc_id"),
        pl.col("text").str.slice(0, 20).str.to_uppercase().alias("head_upper"),
        pl.col("text").str.len_chars().alias("n_chars2"),
        pl.col("text").str.contains("spark", literal=True).alias("has_spark"),
        pl.col("text").str.extract(r"^(\w+)", 1).alias("first_word"),
        pl.col("text").str.split(" ").list.len().alias("n_tokens"),
    )
    return _out(out)


def q17_dt_funcs(spark, sf_dir):
    """temporal namespace (§2.8): parts, weekday shim, truncate, epoch."""
    import polars_ruby_spark as pl

    o = _t(spark, sf_dir, "orders")
    out = o.select(
        pl.col("o_orderkey"),
        pl.col("o_orderdate").dt.year().alias("y"),
        pl.col("o_orderdate").dt.month().alias("m"),
        pl.col("o_orderdate").dt.day().alias("d"),
        pl.col("o_orderdate").dt.quarter().alias("q"),
        pl.col("o_orderdate").dt.weekday().alias("wd"),
        pl.col("o_orderdate").dt.ordinal_day().alias("doy"),
        pl.col("o_orderdate").dt.truncate("1mo").alias("month_start"),
        pl.col("o_orderdate").dt.epoch("s").alias("epoch_s"),
    )
    return _out(out)


def q18_list_funcs(spark, sf_dir):
    """list namespace over array<float> (§2.8) — higher-order functions."""
    import polars_ruby_spark as pl

    e = _t(spark, sf_dir, "embeddings")
    out = e.select(
        pl.col("vec_id"),
        pl.col("embedding").list.len().alias("dim"),
        pl.col("embedding").list.get(0).cast(pl.Float64).round(4).alias("first_val"),
        pl.col("embedding").list.max().cast(pl.Float64).round(4).alias("max_val"),
        # list.sum keeps the element dtype (polars semantics), so summing f32
        # directly accumulates in f32 and flaps at round-half boundaries vs
        # the double-summing oracle — cast the ELEMENTS up before the sum
        pl.col("embedding").cast(pl.List(pl.Float64)).list.sum().round(4).alias("vec_sum"),
    )
    return _out(out)


def q19_pivot(spark, sf_dir):
    """pivot wide (§2.8 encoding) → groupBy().pivot()."""
    import polars_ruby_spark as pl
    from polars_ruby_spark.frame import DataFrame

    o = _t(spark, sf_dir, "orders")
    df = DataFrame(o._sdf)
    out = df.pivot("o_orderstatus", index="o_orderpriority", values="o_orderkey",
                   aggregate_function="len")
    sdf = out.to_spark()
    filled = sdf.fillna(0)
    return filled


def q20_unpivot(spark, sf_dir):
    """unpivot/melt long (§2.8) → df.unpivot."""
    import polars_ruby_spark as pl  # noqa: F401

    li = _t(spark, sf_dir, "lineitem")
    out = li.unpivot(on=["l_quantity", "l_discount"],
                     index=["l_orderkey", "l_linenumber"])
    return _out(out)


def q21_stats(spark, sf_dir):
    """aggregate stats: n_unique/null_count/min/max/std/var/median (§2.4)."""
    import polars_ruby_spark as pl

    li = _t(spark, sf_dir, "lineitem")
    out = li.select(
        pl.col("l_orderkey").n_unique().alias("n_orders"),
        pl.col("l_quantity").null_count().alias("nulls_qty"),
        pl.col("l_extendedprice").min().round(4).alias("min_price"),
        pl.col("l_extendedprice").max().round(4).alias("max_price"),
        pl.col("l_extendedprice").std().round(4).alias("std_price"),
        pl.col("l_extendedprice").var().round(2).alias("var_price"),
        pl.col("l_extendedprice").median().round(4).alias("med_price"),
    )
    return _out(out)


def q22_quantile(spark, sf_dir):
    """quantile with linear interpolation (§2.4)."""
    import polars_ruby_spark as pl

    li = _t(spark, sf_dir, "lineitem")
    out = li.group_by("l_returnflag").agg(
        pl.col("l_extendedprice").quantile(0.25, "linear").round(4).alias("p25"),
        pl.col("l_extendedprice").quantile(0.9, "linear").round(4).alias("p90"),
    )
    return _out(out)


def q23_sql_context(spark, sf_dir):
    """SQLContext entry point (§2.11) — temp views + spark.sql."""
    import polars_ruby_spark as pl

    ctx = pl.SQLContext(orders=_t(spark, sf_dir, "orders"))
    out = ctx.execute(
        "SELECT o_orderpriority, count(*) AS n, round(sum(o_totalprice), 2) AS total "
        "FROM orders GROUP BY o_orderpriority")
    return _out(out)


def q24_unique_first(spark, sf_dir):
    """unique(keep='first') under explicit order (§2.4 distinct)."""
    import polars_ruby_spark as pl

    o = _t(spark, sf_dir, "orders").sort(["o_orderdate", "o_orderkey"])
    out = o.unique(subset=["o_custkey"], keep="first").select("o_custkey", "o_orderkey")
    return _out(out)


def q25_concat(spark, sf_dir):
    """vertical concat (§2.7) → unionByName."""
    import polars_ruby_spark as pl

    o = _t(spark, sf_dir, "orders")
    hi = o.filter(pl.col("o_totalprice") > 300000).select("o_orderkey", "o_totalprice")
    lo = o.filter(pl.col("o_totalprice") < 10000).select("o_orderkey", "o_totalprice")
    out = pl.concat([hi, lo], how="vertical")
    return _out(out)


def q26_forward_fill(spark, sf_dir):
    """fill_null(forward) over groups (§2.2) — last(ignorenulls) window."""
    import polars_ruby_spark as pl

    ev = _t(spark, sf_dir, "events").sort(["ts", "event_id"])
    out = (
        ev.with_columns(
            pl.when(pl.col("value") < 5).then(pl.lit(None)).otherwise(pl.col("value"))
            .alias("v2"))
        .with_columns(pl.col("v2").forward_fill().over("user_id").alias("vf"))
        .select("event_id", "user_id", "vf")
    )
    return _out(out)


def q27_rle(spark, sf_dir):
    """run-length ids (§2.5 rle_id) — gaps-and-islands."""
    import polars_ruby_spark as pl

    ev = _t(spark, sf_dir, "events").sort("event_id")
    out = ev.with_columns(
        pl.col("event_type").rle_id().alias("run_id")
    ).select("event_id", "run_id")
    return _out(out)


def q28_cut_qcut(spark, sf_dir):
    """cut (fixed breaks) + qcut (quantile breaks, 2-pass) — §2.5 cutqcut."""
    import polars_ruby_spark as pl

    li = _t(spark, sf_dir, "lineitem")
    out = li.select(
        pl.col("l_orderkey"),
        pl.col("l_linenumber"),
        pl.col("l_quantity").cut([10, 30]).alias("qty_band"),
        pl.col("l_extendedprice").qcut(4, labels=["q1", "q2", "q3", "q4"]).alias("price_q"),
    )
    return _out(out)


def q29_value_counts(spark, sf_dir):
    """Series.value_counts (§2.4) — groupBy(col).count()."""
    ev = _t(spark, sf_dir, "events").collect()
    out = ev.get_column("event_type").value_counts()
    return _out(out)


def q30_to_dummies(spark, sf_dir):
    """to_dummies one-hot fan-out (§2.8 encoding)."""
    o = _t(spark, sf_dir, "orders").collect()
    out = (o.select("o_orderkey", "o_orderstatus").collect()
           .to_dummies(columns=["o_orderstatus"]))
    return _out(out)


def q31_ewm_mean(spark, sf_dir):
    """ewm_mean over event time per group (§2.5, custom exact math)."""
    import polars_ruby_spark as pl

    ev = _t(spark, sf_dir, "events").filter(pl.col("event_id") <= 60).sort(["ts", "event_id"])
    out = ev.with_columns(
        pl.col("value").ewm_mean(alpha=0.5).over("event_type").round(4).alias("em"),
    ).select("event_id", "event_type", "em")
    return _out(out)


def q32_interpolate(spark, sf_dir):
    """interpolate(linear) filling injected nulls per group (§2.2)."""
    import polars_ruby_spark as pl

    ev = _t(spark, sf_dir, "events").sort(["ts", "event_id"])
    out = (
        ev.with_columns(
            pl.when((pl.col("value") >= 3) & (pl.col("value") <= 8))
            .then(pl.lit(None)).otherwise(pl.col("value")).alias("v2"))
        .with_columns(pl.col("v2").interpolate().over("user_id").round(4).alias("vi"))
        .select("event_id", "user_id", "vi")
    )
    return _out(out)


def q33_horizontal_fold(spark, sf_dir):
    """Row-wise sum/max horizontal + fold via higher-order fns (§2.4)."""
    import polars_ruby_spark as pl

    li = _t(spark, sf_dir, "lineitem")
    out = li.select(
        pl.col("l_orderkey"),
        pl.col("l_linenumber"),
        pl.sum_horizontal(["l_quantity", "l_tax", "l_discount"]).round(4).alias("hsum"),
        pl.max_horizontal(["l_quantity", "l_tax", "l_discount"]).round(4).alias("hmax"),
        pl.fold(pl.lit(0.0), lambda a, x: a + x * 2,
                [pl.col("l_quantity"), pl.col("l_discount")]).round(4).alias("folded"),
    )
    return _out(out)


def q34_struct_ops(spark, sf_dir):
    """struct pack → field access → unnest round-trip (§2.8 struct)."""
    import polars_ruby_spark as pl

    li = _t(spark, sf_dir, "lineitem")
    packed = li.select(
        pl.struct(["l_orderkey", "l_linenumber"]).alias("s"),
        pl.col("l_quantity"),
    )
    out = packed.with_columns(
        packed_key=pl.col("s").struct.field("l_orderkey"),
    ).unnest("s")
    return _out(out)


def q35_entropy_mode(spark, sf_dir):
    """entropy over value-count distribution + deterministic mode (§2.4)."""
    import polars_ruby_spark as pl

    ev = _t(spark, sf_dir, "events").collect()
    counts = ev.get_column("event_type").value_counts()
    out = counts.select(
        pl.col("count").entropy(base=2).round(6).alias("type_entropy"),
    )
    return _out(out)


def q36_upsample(spark, sf_dir):
    """upsample to an hourly grid (grid gen + left join; §2.10)."""
    import polars_ruby_spark as pl

    ev = (_t(spark, sf_dir, "events")
          .filter(pl.col("user_id") == 1)
          .with_columns(pl.col("ts").dt.truncate("1h").alias("tsh"))
          .group_by("event_type", "tsh").agg(pl.col("value").sum().round(4).alias("v"))
          .collect())
    out = ev.upsample("tsh", every="1h", by="event_type")
    return _out(out).select("event_type", "tsh", "v")


def q37_merge_sorted(spark, sf_dir):
    """merge two key-sorted frames (§2.3 merge_sorted)."""
    import polars_ruby_spark as pl

    o = _t(spark, sf_dir, "orders")
    a = o.filter(pl.col("o_orderkey") % 2 == 0).sort(["o_orderdate", "o_orderkey"])
    b = o.filter(pl.col("o_orderkey") % 2 == 1).sort(["o_orderdate", "o_orderkey"])
    out = a.merge_sorted(b, "o_orderdate").select("o_orderkey", "o_orderdate")
    return _out(out)


def q38_group_head(spark, sf_dir):
    """group_by(...).head(n) per-group top rows in row order (§2.4)."""
    import polars_ruby_spark as pl

    li = _t(spark, sf_dir, "lineitem").sort(["l_orderkey", "l_linenumber"])
    out = li.group_by("l_orderkey").head(2).select("l_orderkey", "l_linenumber")
    return _out(out)


def q39_dup_flags(spark, sf_dir):
    """is_duplicated / is_unique flags via value-partition windows (§2.4)."""
    import polars_ruby_spark as pl

    o = _t(spark, sf_dir, "orders")
    out = o.select(
        pl.col("o_orderkey"),
        pl.col("o_totalprice").is_duplicated().alias("dup"),
        pl.col("o_totalprice").is_unique().alias("uniq"),
    )
    return _out(out)


# ---------------------------------------------------------------------------
# Extension pack: LLM-training-data pipeline operators (BASELINE.json north
# star) — dedup, similarity search, text analysis, multimodal plumbing.
# ---------------------------------------------------------------------------

def q40_dedup_exact(spark, sf_dir):
    """Exact dedup via content fingerprint (hash-aggregate, one shuffle)."""
    from polars_ruby_spark.operators import dedup

    d = _t(spark, sf_dir, "documents")
    return dedup.exact_dedup(d._sdf)


def q41_minhash_pairs(spark, sf_dir):
    """MinHash+LSH near-duplicate candidate pairs (shingle→minhash→band)."""
    from polars_ruby_spark.operators import dedup

    d = _t(spark, sf_dir, "documents")
    return dedup.minhash_dedup_pairs(d._sdf, num_hashes=9, bands=3)


def q42_ngram_jaccard(spark, sf_dir):
    """Token 3-gram Jaccard over adjacent-id doc pairs (array set algebra)."""
    from polars_ruby_spark.operators import dedup

    d = _t(spark, sf_dir, "documents")._sdf
    a = d.select(*[d[c].alias(f"a_{c}") for c in d.columns])
    b = d.select(*[d[c].alias(f"b_{c}") for c in d.columns])
    pairs = a.join(b, a["a_doc_id"] + 1 == b["b_doc_id"]).select(
        a["a_doc_id"].alias("id_a"), b["b_doc_id"].alias("id_b"),
        a["a_text"].alias("ta"), b["b_text"].alias("tb"))
    return dedup.ngram_jaccard(pairs, "ta", "tb").select("id_a", "id_b", "jaccard")


def q43_ann_cosine(spark, sf_dir):
    """Brute-force cosine top-5 (query set broadcast; JVM dot products)."""
    from polars_ruby_spark.operators import similarity

    e = _t(spark, sf_dir, "embeddings")._sdf
    q = e.filter("vec_id < 20")
    out = similarity.cosine_topk(q, e, k=5)
    return out.select("query_id", "rank", "neighbor_id")  # cosine excluded: fp-order noise


def q44_lang_id(spark, sf_dir):
    """Stopword-ratio language id (per-doc prediction)."""
    from polars_ruby_spark.operators import text

    d = _t(spark, sf_dir, "documents")
    return text.language_id(d._sdf).select("doc_id", "lang_pred")


def q45_quality(spark, sf_dir):
    """Quality scoring: length/stopword/punctuation mix."""
    from polars_ruby_spark.operators import text

    d = _t(spark, sf_dir, "documents")
    return text.quality_score(d._sdf).select("doc_id", "n_tokens", "stop_ratio", "quality")


def q46_token_count(spark, sf_dir):
    """Whitespace + BPE-ish regex token counting."""
    from polars_ruby_spark.operators import text

    d = _t(spark, sf_dir, "documents")
    return text.token_count(d._sdf).select("doc_id", "ws_tokens", "re_tokens")


def q47_fingerprint(spark, sf_dir):
    """Order-insensitive document fingerprint (sorted distinct token md5)."""
    from polars_ruby_spark.operators import text

    d = _t(spark, sf_dir, "documents")
    return text.fingerprint(d._sdf).select("doc_id", "fingerprint")


def q48_multimodal(spark, sf_dir):
    """Binary media plumbing: pack → Arrow-batched mapInPandas feature stub."""
    from pyspark.sql import functions as F

    from polars_ruby_spark.operators import multimodal

    d = _t(spark, sf_dir, "documents")._sdf.withColumn("data", F.encode("text", "utf-8"))
    packed = multimodal.pack_media(d, "data", mime="text/plain")
    feats = multimodal.decode_features(packed)
    # unnest feat → scalar doubles: the driver's canonicalizer lexsorts all
    # columns via pandas and cannot sort list cells (round-1 q48 FAIL)
    return feats.select(
        "doc_id", "n_bytes",
        *[F.col("feat")[i].alias(f"f{i}") for i in range(4)])


def q49_simhash(spark, sf_dir):
    """SimHash 64-bit fingerprint — md5-derived bit votes, oracle-matched
    (the Hamming-LSH pair stage reuses q41's verified band machinery)."""
    from polars_ruby_spark.operators import dedup

    d = _t(spark, sf_dir, "documents")
    return dedup.simhash(d._sdf)


def q50_lsh_ann(spark, sf_dir):
    """Sign-LSH bucketed ANN, oracle-gated in its exact-degenerate regime:
    n_planes=0 puts every vector in one bucket, so the bucket equi-join
    covers all pairs and the result must equal brute-force top-k (the q79
    IVF full-probe pattern).  The approximate n_planes>0 mode is the 100 TB
    scale path — determinism + exactness tests in test_extensions.py."""
    from polars_ruby_spark.operators import similarity

    e = _t(spark, sf_dir, "embeddings")._sdf
    q = e.filter("vec_id < 20")
    return similarity.lsh_cosine_topk(q, e, k=5, n_planes=0).select(
        "query_id", "rank", "neighbor_id")


def q51_streaming_window(spark, sf_dir):
    """Structured Streaming: file-source stream → watermark → tumbling window
    → parquet sink (availableNow), read back (§2.10 extension).  Append mode
    emits exactly the windows whose end ≤ final watermark (max ts − 10m)."""
    import tempfile

    import polars_ruby_spark as pl
    from polars_ruby_spark.streaming import stream as st

    _prep(spark)
    tmp = tempfile.mkdtemp(prefix="plsq51_")
    lf, _name = _events_stream(spark, sf_dir, columns=("ts", "value"))
    win = st.windowed_agg(lf, "ts", every="1h", watermark="10m",
                          aggs={"n": pl.len(),
                                "sv": pl.col("value").sum().round(4)})
    q = st.sink_stream(win, tmp + "/out", tmp + "/ckpt")
    q.awaitTermination(300)
    return pl.read_parquet(tmp + "/out", spark=spark).to_spark()


def q52_dynamic_sliding(spark, sf_dir):
    """group_by_dynamic hopping windows (period > every, a row in 2 windows)
    + _lower/_upper boundaries (§2.10)."""
    import polars_ruby_spark as pl

    ev = _t(spark, sf_dir, "events")
    out = ev.group_by_dynamic("ts", every="1h", period="2h",
                              include_boundaries=True, by=["event_type"]).agg(
        pl.len().alias("n"),
        pl.col("value").sum().round(4).alias("sv"),
    )
    return _out(out)


def q53_rolling_center(spark, sf_dir):
    """centered row-frame rolling mean with min_periods (§2.5)."""
    import polars_ruby_spark as pl

    ev = _t(spark, sf_dir, "events").sort(["ts", "event_id"])
    out = ev.with_columns(
        pl.col("value").rolling_mean(5, center=True).over("user_id").round(4).alias("rm"),
    ).select("event_id", "user_id", "rm")
    return _out(out)


def q54_peaks(spark, sf_dir):
    """peak_max/peak_min local-extrema flags (§2.5 peaks)."""
    import polars_ruby_spark as pl

    ev = _t(spark, sf_dir, "events").sort(["ts", "event_id"])
    out = ev.with_columns(
        pl.col("value").peak_max().over("user_id").alias("pk_hi"),
        pl.col("value").peak_min().over("user_id").alias("pk_lo"),
    ).select("event_id", "user_id", "pk_hi", "pk_lo")
    return _out(out)


def q55_session_windows(spark, sf_dir):
    """Session windows (gap-based, F.session_window — batch+streaming API;
    §2.10 extension).  Oracle: classic gaps-and-islands."""
    import polars_ruby_spark as pl
    from polars_ruby_spark.streaming import stream as st

    ev = _t(spark, sf_dir, "events")
    out = st.session_window_agg(
        ev, "ts", gap="30m",
        aggs={"n": pl.len(), "sv": pl.col("value").sum().round(4)},
        by=["user_id"])
    return _out(out)


def q56_map_elements(spark, sf_dir):
    """map_elements scalar python fn → vectorized pandas UDF (§2.9)."""
    import polars_ruby_spark as pl

    ev = _t(spark, sf_dir, "events")
    out = ev.select(
        pl.col("event_id"),
        pl.col("value").map_elements(lambda v: round(v * 2 + 0.5, 4),
                                     return_dtype=pl.Float64).alias("mapped"),
    )
    return _out(out)


def q57_concat_diag_horizontal(spark, sf_dir):
    """diagonal concat (schema union, null-fill) + horizontal concat (§2.7)."""
    import polars_ruby_spark as pl

    n = _t(spark, sf_dir, "nation")
    a = n.select("n_nationkey", "n_name")
    b = n.select("n_nationkey", "n_regionkey")
    diag = pl.concat([a, b], how="diagonal")

    r = _t(spark, sf_dir, "region").sort("r_regionkey")
    left = r.select("r_regionkey", "r_name").collect()
    right = r.select(pl.col("r_name").str.to_uppercase().alias("upper")).collect()
    horiz = left.hstack(right)
    out = diag.join(horiz.lazy(), left_on="n_regionkey", right_on="r_regionkey",
                    how="left").select("n_nationkey", "n_name", "n_regionkey", "upper")
    return _out(out)


def q58_ranges(spark, sf_dir):
    """int_range + date_range generators (§2.8 ranges) → spark.range/sequence."""
    import polars_ruby_spark as pl

    ints = pl.int_range(0, 30, eager=True, spark=spark)  # Series 'arange'
    # lazy range = Expr (reference semantics) → select it alone for a frame
    dates = pl.select(pl.date_range("2024-01-01", "2024-01-30", "1d",
                                    spark=spark)).lazy()
    di = dates.with_row_index("idx")
    out = di.join(ints.to_frame().lazy(), left_on="idx", right_on="arange",
                  how="inner").select("idx", "date")
    return _out(out)


def q59_json(spark, sf_dir):
    """json_path_match + json_decode over the events.props JSON column (§2.8)."""
    import polars_ruby_spark as pl

    ev = _t(spark, sf_dir, "events")
    out = ev.select(
        pl.col("event_id"),
        pl.col("props").str.json_path_match("$.k").cast(pl.Int64).alias("k_path"),
        pl.col("props").str.json_decode(pl.Struct({"k": pl.Int64}))
        .struct.field("k").alias("k_typed"),
    )
    return _out(out)


def q60_dt_edge(spark, sf_dir):
    """dt namespace edge ops: weekday Mon=1 shim, iso_year, ordinal_day,
    month_start/end, offset_by, epoch (§2.8 temporal)."""
    import polars_ruby_spark as pl

    ev = _t(spark, sf_dir, "events")
    out = ev.select(
        pl.col("event_id"),
        pl.col("ts").dt.weekday().alias("wd"),
        pl.col("ts").dt.iso_year().alias("iy"),
        pl.col("ts").dt.ordinal_day().alias("doy"),
        pl.col("ts").dt.month_start().cast(pl.Date).alias("mstart"),
        pl.col("ts").dt.month_end().cast(pl.Date).alias("mend"),
        pl.col("ts").dt.offset_by("1mo").cast(pl.Date).alias("plus_1mo"),
        pl.col("ts").dt.epoch("s").alias("epoch_s"),
    )
    return _out(out)


def q61_str_edge(spark, sf_dir):
    """str namespace edge ops: zfill/pad_end/slice-negative/reverse/
    split_exact/strip_prefix/count_matches/hex encode (§2.8 string)."""
    import polars_ruby_spark as pl

    p = _t(spark, sf_dir, "part")
    out = p.select(
        pl.col("p_partkey"),
        pl.col("p_partkey").cast(pl.String).str.zfill(8).alias("zf"),
        pl.col("p_brand").str.pad_end(12, ".").alias("pe"),
        pl.col("p_name").str.slice(-5).alias("tail5"),
        pl.col("p_name").str.reverse().alias("rev"),
        pl.col("p_name").str.split_exact(" ", 1).struct.field("field_0").alias("w0"),
        pl.col("p_type").str.strip_prefix("STANDARD ").alias("noprefix"),
        pl.col("p_name").str.count_matches("a").alias("n_a"),
        pl.col("p_brand").str.encode("hex").alias("hexed"),
    )
    return _out(out)


def q62_list_eval(spark, sf_dir):
    """list namespace: eval(element expr), sort/unique/slice/join/contains,
    arg_max — higher-order functions, no UDF (§2.8 list / §2.9 list.eval)."""
    import polars_ruby_spark as pl

    d = _t(spark, sf_dir, "documents")
    toks = pl.col("text").str.split(" ")
    out = d.select(
        pl.col("doc_id"),
        toks.list.eval(pl.element().str.len_chars()).list.max().alias("max_len"),
        toks.list.unique().list.len().alias("n_uniq"),
        toks.list.slice(0, 3).list.join("-").alias("head3"),
        toks.list.contains("the").alias("has_the"),
        toks.list.sort().list.first().alias("first_sorted"),
    )
    return _out(out)


def q63_ordinal(spark, sf_dir):
    """ordinal row ops over explicit sort: slice, gather_every, reverse
    (§2.2/§2.6 row-index machinery)."""
    import polars_ruby_spark as pl

    o = _t(spark, sf_dir, "orders").sort("o_orderkey")
    sl = o.slice(10, 5).select("o_orderkey").with_columns(pl.lit("slice").alias("src"))
    ge = (o.gather_every(1000).select("o_orderkey")
          .with_columns(pl.lit("every1000").alias("src")))
    rv = (o.reverse().head(5).select("o_orderkey")
          .with_columns(pl.lit("rev_head").alias("src")))
    out = pl.concat([sl, ge, rv], how="vertical")
    return _out(out)


def q64_dynamic_monthly(spark, sf_dir):
    """group_by_dynamic with calendar unit (1mo tumbling → date_trunc;
    variable-length months can't use fixed-duration F.window) (§2.10)."""
    import polars_ruby_spark as pl

    ev = _t(spark, sf_dir, "events")
    out = ev.group_by_dynamic("ts", every="1mo", by=["event_type"],
                              include_boundaries=True).agg(
        pl.len().alias("n"),
        pl.col("value").mean().round(4).alias("av"),
    )
    return _out(out)


def q65_frame_sample(spark, sf_dir):
    """Multimodal video frame-sampling plumbing: planned frame grid via
    sequence+explode (decode step stubbed; §multimodal extension)."""
    from pyspark.sql import functions as F

    from polars_ruby_spark.operators import multimodal

    d = _t(spark, sf_dir, "documents")._sdf.withColumn("data", F.encode("text", "utf-8"))
    packed = multimodal.pack_media(d, "data", mime="video/fake")
    out = multimodal.frame_sample(packed, every_n=3)
    return out.select("doc_id", "frame_no")


def q66_search_sorted_groupsort(spark, sf_dir):
    """search_sorted + per-group sort/reverse remap under over (§2.5/§2.6)."""
    import polars_ruby_spark as pl

    o = _t(spark, sf_dir, "orders").sort("o_orderkey")
    out = o.select(
        pl.col("o_orderkey"),
        pl.col("o_totalprice").search_sorted(100000.0, side="left").alias("n_below"),
        pl.col("o_totalprice").sort(descending=True).over("o_orderstatus")
        .round(2).alias("price_sorted_in_status"),
    )
    return _out(out)


def q67_rolling_fingerprint(spark, sf_dir):
    """Order-sensitive Rabin-Karp document fingerprint (text extension)."""
    from polars_ruby_spark.operators import text

    d = _t(spark, sf_dir, "documents")
    return text.rolling_fingerprint(d._sdf).select("doc_id", "roll_fp")


def q68_topk_salted(spark, sf_dir):
    """Skew-safe per-key top-k (salted two-phase; no single hot-key task)."""
    from polars_ruby_spark.operators import skew

    o = _t(spark, sf_dir, "orders")._sdf
    out = skew.top_k_per_key(o, "o_orderpriority",
                             ["o_totalprice", "o_orderkey"], k=3, salt=8)
    return out.select("o_orderpriority", "o_orderkey", "o_totalprice")


def q69_dynamic_closed_both(spark, sf_dir):
    """group_by_dynamic closed='both' (boundary rows in two windows) via
    enumerated window assignment (§2.10; lazy_frame.rb:1416)."""
    import polars_ruby_spark as pl

    ev = _t(spark, sf_dir, "events")
    out = (ev.with_columns(pl.col("ts").dt.truncate("1m").alias("ts"))
           .group_by_dynamic("ts", every="15m", closed="both",
                             by=["event_type"])
           .agg(pl.len().alias("n"),
                pl.col("value").sum().round(2).alias("sv")))
    return _out(out)


def q70_cosine_neardup(spark, sf_dir):
    """Exact embedding-cosine near-dup pairs via triangle block partitioning
    + per-task BLAS matmul (beyond-reference dedup family)."""
    from polars_ruby_spark.operators import similarity

    e = _t(spark, sf_dir, "embeddings")._sdf
    return similarity.cosine_neardup_pairs(e, threshold=0.4, n_blocks=8)


def q71_stream_dedup(spark, sf_dir):
    """Streaming exact dedup (dropDuplicatesWithinWatermark) run to
    completion over a file-source stream; watermark wide enough that no
    duplicate escapes at this SF, so the result is DISTINCT keys (§2.10
    streaming extension)."""
    from polars_ruby_spark.streaming import stream as st

    _prep(spark)
    lf, _name = _events_stream(spark, sf_dir,
                               columns=("ts", "user_id", "event_type"))
    deduped = st.dedup_stream(lf, ["user_id", "event_type"], "ts",
                              watermark="365d")
    q = (deduped._sdf.selectExpr("user_id", "event_type")
         .writeStream.format("memory").queryName("plsq71_out")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(300)
    return spark.sql("SELECT user_id, event_type FROM plsq71_out")


def q72_agg_slices(spark, sf_dir):
    """Agg-context positional slices (head/tail/slice — §2.8 Expr surface):
    per-group ordered LIST results."""
    import polars_ruby_spark as pl

    o = _t(spark, sf_dir, "orders").sort("o_orderkey")
    out = o.group_by("o_orderstatus").agg(
        pl.col("o_orderkey").head(3).alias("hd"),
        pl.col("o_orderkey").tail(2).alias("tl"),
        pl.col("o_orderkey").slice(1, 2).alias("sl"),
    )
    # driver canonicalizer can't sort list cells — emit joined strings
    return _out(out).select(
        "o_orderstatus",
        *[F.concat_ws(",", F.col(c)).alias(c) for c in ("hd", "tl", "sl")])


def q73_rle(spark, sf_dir):
    """Expr.rle — run-length compression into (len, value) rows (§2.5)."""
    import polars_ruby_spark as pl

    o = _t(spark, sf_dir, "orders").sort("o_orderkey")
    return (o.select(pl.col("o_orderstatus").rle().alias("r"))
            .unnest("r").to_spark().select("len", "value"))


def q74_cube(spark, sf_dir):
    """Spark-native grouping-sets extension: 2^k combinations in one shuffle
    (group_by_cube; SURVEY §2.4 'offer as extension')."""
    import polars_ruby_spark as pl

    o = _t(spark, sf_dir, "orders")
    out = o.group_by_cube("o_orderstatus", "o_orderpriority").agg(
        pl.len().alias("n"),
        pl.col("o_totalprice").sum().round(2).alias("s"))
    return _out(out)


def q75_time_dtype(spark, sf_dir):
    """Time dtype (Int64 ns-since-midnight): dt.time() extraction, cast, and
    dt.combine (§1.3/§2.8)."""
    import datetime as _dt

    import polars_ruby_spark as pl

    ev = _t(spark, sf_dir, "events")
    out = ev.select(
        pl.col("event_id"),
        pl.col("ts").dt.time().alias("tns"),
        pl.col("ts").cast(pl.Time).alias("tcast"),
        pl.col("ts").dt.combine(_dt.time(12, 0)).alias("noon"),
    )
    return _out(out)


def q76_binary_ns(spark, sf_dir):
    """bin namespace (§2.8): encode/decode hex+base64, size, prefix tests."""
    import polars_ruby_spark as pl

    d = _t(spark, sf_dir, "documents")
    head = pl.col("text").str.slice(0, 8).cast(pl.Binary)
    out = d.select(
        pl.col("doc_id"),
        head.bin.encode("hex").alias("hx"),
        head.bin.encode("base64").alias("b64"),
        head.bin.size().alias("nb"),
        head.bin.starts_with(pl.lit("T").cast(pl.Binary)).alias("t_start"),
    )
    return _out(out)


def q77_horizontal(spark, sf_dir):
    """Horizontal (row-wise) aggregates + fold (§2.4): JVM higher-order
    functions, no Python."""
    import polars_ruby_spark as pl

    li = _t(spark, sf_dir, "lineitem")
    out = li.select(
        pl.col("l_orderkey"), pl.col("l_linenumber"),
        pl.sum_horizontal("l_quantity", "l_discount", "l_tax").round(4).alias("sh"),
        pl.max_horizontal("l_quantity", "l_extendedprice").alias("mh"),
        pl.min_horizontal("l_quantity", "l_extendedprice").alias("nh"),
        pl.fold(pl.lit(1.0), lambda acc, x: acc * (x + 1),
                ["l_discount", "l_tax"]).round(6).alias("fd"),
    )
    return _out(out)


def q78_merge_sorted(spark, sf_dir):
    """merge_sorted (§2.3): interleave two key-sorted frames."""
    import polars_ruby_spark as pl

    o = _t(spark, sf_dir, "orders")
    hi = o.filter(pl.col("o_totalprice") > 150000).sort("o_orderdate")
    lo = o.filter(pl.col("o_totalprice") <= 150000).sort("o_orderdate")
    out = hi.merge_sorted(lo, "o_orderdate").select(
        "o_orderkey", "o_orderdate", "o_totalprice")
    return _out(out)


def q79_ivf_ann(spark, sf_dir):
    """IVF ANN (k-means coarse quantizer → probe-pruned candidate join).
    Run at FULL probe here so the result is exact and oracle-checkable;
    n_probe < n_centroids is the approximate scale path (tested for
    determinism in test_ivf_full_probe_equals_brute_force)."""
    from polars_ruby_spark.operators import similarity

    e = _t(spark, sf_dir, "embeddings")._sdf
    q = e.filter("vec_id < 20")
    out = similarity.ivf_cosine_topk(q, e, k=5, n_centroids=8, n_probe=8)
    return out.select("query_id", "rank", "neighbor_id")


def q80_dedup_clusters(spark, sf_dir):
    """Near-dup clustering: MinHash+LSH pairs → connected components
    (min-label propagation, diameter-bounded rounds) → one canonical
    survivor per cluster.  The stage that actually deduplicates a corpus;
    oracle is a DuckDB recursive CTE computing the same component minima."""
    from polars_ruby_spark.operators import dedup

    d = _t(spark, sf_dir, "documents")
    return dedup.dedup_clusters(d._sdf, num_hashes=9, bands=3)


def q81_tfidf_topk(spark, sf_dir):
    """Top-5 TF-IDF terms per document (explode → tf/df aggregates → term
    join → per-doc window; corpus N as a broadcast one-row aggregate)."""
    from polars_ruby_spark.operators import text

    d = _t(spark, sf_dir, "documents")._sdf
    return text.tf_idf_topk(d, k=5)


def q82_repetition_signals(spark, sf_dir):
    """Gopher-style repetition/quality signals (distinct-token ratio, top
    bigram fraction, mean word length) in one scan."""
    from polars_ruby_spark.operators import text

    d = _t(spark, sf_dir, "documents")._sdf
    return text.repetition_signals(d)


def q83_bm25_search(spark, sf_dir):
    """BM25 top-10 docs for a bag-of-terms query (pre-explode term filter,
    broadcast df/corpus stats, TakeOrdered global top-k)."""
    from polars_ruby_spark.operators import text

    d = _t(spark, sf_dir, "documents")._sdf
    return text.bm25_search(d, ["spark", "query", "join"], k=10)


def q84_hash_sample(spark, sf_dir):
    """Deterministic per-source training-mix sampling (md5-bucket membership:
    reproducible across engines/runs/repartitionings, no RNG state)."""
    from polars_ruby_spark.operators import sampling

    d = _t(spark, sf_dir, "documents")._sdf
    return sampling.hash_sample(
        d, {"src0": 0.5, "src1": 0.25}, group_col="source",
        default_rate=0.1).select("doc_id", "lang", "source")


def q85_profile(spark, sf_dir):
    """One-pass dataset profile: all per-column stats in a single keyless
    aggregate, pivoted long with a stack generator (exact median)."""
    from polars_ruby_spark.operators import profiling

    d = _t(spark, sf_dir, "documents")._sdf
    return profiling.profile(d, ["doc_id", "n_chars"], ["lang", "source"])


def q86_pack_shards(spark, sf_dir):
    """Sequence packing into 512-token shards (two-phase prefix sum —
    per-partition windows + O(partitions)-row offset table, no global
    single-task window)."""
    from polars_ruby_spark.operators import packing, text

    d = _t(spark, sf_dir, "documents")._sdf
    with_tok = text.token_count(d)
    return packing.pack_greedy(with_tok, "ws_tokens", budget=512)


def q87_decontaminate(spark, sf_dir):
    """Eval-set decontamination: flag training docs (id >= 10) sharing any
    3-shingle with the eval docs (id < 10); broadcast semi-join probe."""
    from polars_ruby_spark.operators import dedup

    d = _t(spark, sf_dir, "documents")._sdf
    return dedup.decontaminate_flags(
        d.filter("doc_id >= 10"), d.filter("doc_id < 10"))


def q88_reshape(spark, sf_dir):
    """Expr.reshape (expr.rb:6233): key column sorted then folded into
    width-10 list rows (hash agg on row_idx div 10, no global window)."""
    import polars_ruby_spark as pl

    o = _t(spark, sf_dir, "orders")
    out = o.sort("o_orderkey").select(
        pl.col("o_orderkey").reshape([-1, 10]).alias("keys"))
    # driver canonicalizer can't sort list cells — emit joined strings
    return _out(out).select(F.concat_ws(",", F.col("keys")).alias("keys"))


def q89_stratified_split(spark, sf_dir):
    """Deterministic train/val/test split: md5-bucket assignment — disjoint
    by construction, reproducible across engines/runs/repartitionings."""
    from polars_ruby_spark.operators import sampling

    d = _t(spark, sf_dir, "documents")._sdf
    return sampling.stratified_split(
        d, {"train": 0.8, "val": 0.1, "test": 0.1}).select(
        "doc_id", "source", "split")


def q90_chunk_tokens(spark, sf_dir):
    """Token-window chunking (size 64, stride 48): map-local posexplode of
    sequence starts + slice — no shuffle, no UDF."""
    from polars_ruby_spark.operators import chunking

    d = _t(spark, sf_dir, "documents")._sdf
    return chunking.chunk_tokens(d, size=64, stride=48)


def q91_mixing_weights(spark, sf_dir):
    """Temperature-based (alpha=0.5) training-mix weights per source:
    one groupBy + one-row scalar-attach broadcast for normalization."""
    from polars_ruby_spark.operators import sampling

    d = _t(spark, sf_dir, "documents")._sdf
    out = sampling.mixing_weights(d, "source", size_col="n_chars",
                                  alpha=0.5, budget=1_000_000.0)
    return out.select("source", F.col("size").alias("n_chars_total"),
                      F.round("p", 6).alias("p"), F.round("w", 6).alias("w"),
                      F.round("epochs", 4).alias("epochs"))


def q92_quantize_int8(spark, sf_dir):
    """Per-vector int8 max-abs quantization with reconstruction diagnostics
    (4x ANN storage/shuffle reduction path); flat projection, no shuffle."""
    from polars_ruby_spark.operators import similarity

    e = _t(spark, sf_dir, "embeddings")._sdf
    return similarity.quantize_int8(e)


def q93_ngram_dup_coverage(spark, sf_dir):
    """Exact-substring duplication coverage via 13-gram hashes (Lee et al.
    2022 suffix-array dedup, distributed n-gram form): gram md5 prefix
    computed before the shuffle; gram-count join reuses agg partitioning."""
    from polars_ruby_spark.operators import dedup

    d = _t(spark, sf_dir, "documents")._sdf
    return dedup.ngram_dup_coverage(d, n=13)


def q94_weighted_sample(spark, sf_dir):
    """Quality-weighted deterministic rejection sampling: keep iff md5
    unit-hash < quality score; single flat filter above the scan."""
    from polars_ruby_spark.operators import sampling, text

    d = _t(spark, sf_dir, "documents")._sdf
    scored = text.quality_score(d)
    return sampling.weighted_sample(scored, "quality").select(
        "doc_id", F.round("quality", 4).alias("quality"))


def q95_expr_value_counts(spark, sf_dir):
    """Expr.value_counts (expr.rb:6526): row-count-changing sole-select
    expression → struct{value, count}, one hash groupBy."""
    import polars_ruby_spark as pl

    d = _t(spark, sf_dir, "documents")
    vc = d.select(pl.col("lang").value_counts(sort=True, name="n"))
    return vc.unnest("lang").to_spark()


def q96_vocab_encode(spark, sf_dir):
    """Vocabulary build (top-V tokens, TakeOrdered + bounded-V id window) +
    broadcast-join token-id encoding of every document."""
    from polars_ruby_spark.operators import text

    d = _t(spark, sf_dir, "documents")._sdf
    vocab = text.vocab_build(d, vocab_size=50)
    enc = text.encode_tokens(d, vocab)
    # driver canonicalizer can't sort list cells — emit joined strings
    return enc.select(
        "doc_id", F.concat_ws(",", F.col("token_ids")).alias("token_ids"))


def q97_source_overlap(spark, sf_dir):
    """Pairwise shingle-Jaccard overlap matrix between sources (md5
    hash-before-shuffle distinct + partition-reusing self-join)."""
    from polars_ruby_spark.operators import text

    d = _t(spark, sf_dir, "documents")._sdf
    return text.source_overlap(d)


def q98_label_centroids(spark, sf_dir):
    """Per-label embedding centroids + mean norms (posexplode + one
    (label,dim) hash agg; no driver collect, no UDF)."""
    from polars_ruby_spark.operators import similarity

    e = _t(spark, sf_dir, "embeddings")._sdf
    c = similarity.label_centroids(e)
    # driver canonicalizer can't sort list cells — explode the centroid to
    # one (label, dim, m) row per dimension
    return (c.select("label", "n", "mean_norm",
                     F.posexplode("centroid").alias("dim", "m"))
            .select("label", "n", F.col("dim").cast("long").alias("dim"),
                    "m", "mean_norm"))


def q99_semantic_dedup(spark, sf_dir):
    """SemDeDup (cluster-confined exact cosine near-dup → components →
    canonical survivor, all inside each cluster's one grouped task; no
    connected-components stage).  Uses the AUTO cluster default (r8):
    ceil(n / 2048) — at the oracle scales (≤2048 embeddings) it resolves
    to ONE cluster, i.e. the exact pipeline the recursive-CTE oracle
    computes; at sf1.0 (~20k rows) it gives ~10 clusters so per-task BLAS
    cost stays flat instead of the measured 69× blow-up of a fixed count.
    ``n_clusters=1`` stays available as the always-exact override."""
    from polars_ruby_spark.operators import similarity

    e = _t(spark, sf_dir, "embeddings")._sdf
    return similarity.semantic_dedup(e, threshold=0.4)


def q100_shard_assign(spark, sf_dir):
    """Deterministic md5-bucket shard assignment (the balanced export
    layout): per-shard doc counts; pure flat projection, one tiny agg."""
    from polars_ruby_spark.operators import sampling

    d = _t(spark, sf_dir, "documents")._sdf
    return (sampling.shard_assign(d, 16).groupBy("shard")
            .agg(F.count(F.lit(1)).alias("n")))


def q101_corr_cov(spark, sf_dir):
    """corr (pearson + spearman) and cov (§2.4, functions/lazy.rb:679):
    spearman = pearson over rank-transformed columns (two windows, one agg)."""
    import polars_ruby_spark as pl
    from polars_ruby_spark import functions as plf

    li = _t(spark, sf_dir, "lineitem")
    out = li.select(
        plf.corr(pl.col("l_quantity"), pl.col("l_extendedprice")).round(6).alias("pearson"),
        plf.corr(pl.col("l_quantity"), pl.col("l_extendedprice"),
                 method="spearman").round(6).alias("spearman"),
        plf.cov(pl.col("l_quantity"), pl.col("l_extendedprice")).round(4).alias("cov"),
    )
    return _out(out)


def q102_arg_ops(spark, sf_dir):
    """arg_min/arg_max/arg_sort (§2.4/§2.6): positional indices under the
    frame's row order (row-index machinery, min_by/max_by aggregation)."""
    import polars_ruby_spark as pl

    o = _t(spark, sf_dir, "orders").sort("o_orderkey")
    ab = o.select(
        pl.col("o_totalprice").arg_min().alias("amin"),
        pl.col("o_totalprice").arg_max().alias("amax"),
    )
    # sole-select arg_sort = scalable sort projection of the row index; its
    # head(5) compiles to TakeOrdered, the 5-row rank re-index stays tiny,
    # and the one-row min_by/max_by aggregate attaches as a broadcast scalar
    perm = (o.select(pl.col("o_totalprice").arg_sort().alias("idx"))
            .head(5).with_row_index("rank"))
    out = perm._sdf.crossJoin(F.broadcast(ab._sdf))
    return out.select("amin", "amax", "rank", "idx")


def q103_bool_nan_aggs(spark, sf_dir):
    """any/all bool aggregates + NaN-propagating nan_max/nan_min +
    null_count over injected NaN/null mixes (§2.4)."""
    import polars_ruby_spark as pl

    li = _t(spark, sf_dir, "lineitem")
    d = li.with_columns(
        (pl.col("l_quantity") > 25).alias("big"),
        pl.when(pl.col("l_linenumber") == 3)
        .then(pl.lit(float("nan"))).otherwise(pl.col("l_discount")).alias("dn"),
        pl.when(pl.col("l_linenumber") == 2)
        .then(pl.lit(None)).otherwise(pl.col("l_tax")).alias("tn"),
    )
    out = d.group_by("l_returnflag").agg(
        pl.col("big").any().alias("any_big"),
        pl.col("big").all().alias("all_big"),
        pl.col("dn").nan_max().alias("nmax"),
        pl.col("dn").nan_min().alias("nmin"),
        pl.col("tn").null_count().alias("nnull"),
    )
    return _out(out)


def q104_replace_mapping(spark, sf_dir):
    """replace (unmatched pass through) and replace_strict (unmatched →
    default) value mappings (§2.8)."""
    import polars_ruby_spark as pl

    n = _t(spark, sf_dir, "nation")
    out = n.select(
        pl.col("n_nationkey"),
        pl.col("n_name").replace({"FRANCE": "FR", "GERMANY": "DE"}).alias("abbr"),
        pl.col("n_regionkey").replace_strict({0: "africa", 1: "america"},
                                             default="other").alias("region_cls"),
    )
    return _out(out)


def q105_join_nulls(spark, sf_dir):
    """join_nulls=True: null == null key matching via eqNullSafe (§2.3)."""
    import polars_ruby_spark as pl

    o = _t(spark, sf_dir, "orders").with_columns(
        pl.when(pl.col("o_custkey") % 7 == 0).then(pl.lit(None))
        .otherwise(pl.col("o_custkey")).alias("k"))
    left = o.select(pl.col("o_orderkey"), pl.col("k"))
    right = (o.select(pl.col("k")).unique()
             .with_columns((pl.col("k") % 3).alias("cls")))
    j = left.join(right, on="k", how="inner", join_nulls=True)
    out = j.group_by("cls").agg(pl.len().alias("n"))
    return _out(out)


def q106_groupby_shortcuts(spark, sf_dir):
    """GroupBy shortcut aggregates (.median/.mean over every non-key column
    — group_by.rb:337-598)."""
    import polars_ruby_spark as pl

    o = _t(spark, sf_dir, "orders").select(
        pl.col("o_orderstatus"), pl.col("o_totalprice"), pl.col("o_custkey"))
    med = o.group_by("o_orderstatus").median()
    out = med.with_columns(pl.col("o_totalprice").round(4))
    return _out(out)


def q107_global_ordinals(spark, sf_dir):
    """Ungrouped cum_sum/cum_max/reverse over FULL lineitem row order — the
    round-2 scale-safe path: two-pass partition-prefix attach (range
    repartition + per-partition prefix + broadcast offsets) and index-remap
    join instead of an empty-partitionBy single-task window.  cum_sum runs on
    an integer cast so the two-pass partial-sum association stays exact."""
    import polars_ruby_spark as pl

    # the full composite below is the UNIQUE sort key at sf0.1 —
    # (orderkey, linenumber) alone has ties there, and cumulative values
    # among tied sort keys are tie-order-dependent across engines
    li = _t(spark, sf_dir, "lineitem").sort(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_extendedprice")
    out = li.with_columns(
        pl.col("l_quantity").cast(pl.Int64).cum_sum().alias("run_qty"),
        pl.col("l_extendedprice").cum_max().alias("run_max"),
        pl.col("l_orderkey").reverse().alias("rev_key"),
    ).select("l_orderkey", "l_linenumber", "run_qty", "run_max", "rev_key")
    return _out(out)


def q108_cumulative_eval(spark, sf_dir):
    """Expr.cumulative_eval (expr.rb:6684, round-2 new): expanding-prefix
    evaluation of an element()-based expression.  Distributed plan: flat
    sequence-explode fan-out + one hash aggregate on the prefix end — the
    O(n²) pair count is inherent to the operator, every stage multi-task
    (bounded here to the first 2000 keys)."""
    import polars_ruby_spark as pl
    from polars_ruby_spark import functions as plf  # noqa: F401

    o = _t(spark, sf_dir, "orders").sort("o_orderkey").head(2000)
    out = o.select(pl.col("o_totalprice").cumulative_eval(
        pl.element().max() - pl.element().min()).alias("spread"))
    return _out(out)


def q109_struct_roundtrip(spark, sf_dir):
    """list.to_struct(fields) → struct.rename_fields → unnest roundtrip
    (list_expr.rb:752, struct_expr.rb:40 — both round-2 new)."""
    import polars_ruby_spark as pl
    from polars_ruby_spark import functions as plf

    n = _t(spark, sf_dir, "nation")
    out = (n.select(
        pl.col("n_name"),
        plf.concat_list([pl.col("n_nationkey"), pl.col("n_regionkey")])
        .list.to_struct(fields=["a", "b"]).alias("s"))
        .select(pl.col("n_name"),
                pl.col("s").struct.rename_fields(["k", "r"]).alias("s"))
        .unnest("s"))
    return _out(out)


def q110_calendar_offset(spark, sf_dir):
    """Calendar dynamic window with offset + closed='right' (round-2:
    lazy_frame.rb:1416-1458 variants): month windows shifted by 3 days,
    boundary rows assigned to the PREVIOUS window.  One hash-agg shuffle."""
    import polars_ruby_spark as pl

    ev = _t(spark, sf_dir, "events")
    out = ev.group_by_dynamic("ts", every="1mo", offset="3d", closed="right",
                              by=["event_type"], include_boundaries=True).agg(
        pl.len().alias("n"),
        pl.col("value").sum().round(4).alias("sv"),
    )
    return _out(out)


def q111_unigram_lm(spark, sf_dir):
    """Unigram-LM quality score (KenLM-perplexity stand-in, CCNet-style):
    corpus-trained unigram logprobs → per-doc avg logprob + pseudo-ppl.
    Two shuffles (vocab agg, per-doc agg); vocab joined back broadcast."""
    from polars_ruby_spark.operators import text

    d = _t(spark, sf_dir, "documents")
    return text.unigram_logprob(d._sdf)


def q112_dup_ngrams(spark, sf_dir):
    """Duplicate-3-gram fraction per doc (Gopher/FineWeb repetition-across-
    corpus filter): JVM-side n-gram build, one distinct + hash agg for
    docs-per-gram, join back, per-doc ratio."""
    from polars_ruby_spark.operators import text

    d = _t(spark, sf_dir, "documents")
    return text.dup_ngram_fraction(d._sdf, n=3)


def q113_null_semantics(spark, sf_dir):
    """Round-2 parity batch pins under the oracle: rank leaves injected
    nulls unranked, n_unique counts null as a value, explode keeps
    empty-list rows, multi-value mode.  Nulls injected deterministically
    (every 7th order) so the semantics actually exercise."""
    import polars_ruby_spark as pl

    o = _t(spark, sf_dir, "orders").sort("o_orderkey")
    base = o.with_columns(
        pl.when(pl.col("o_orderkey") % 7 == 0).then(pl.lit(None))
        .otherwise(pl.col("o_totalprice")).alias("p"))
    out = (base.with_columns(
        pl.col("p").rank("min").over("o_orderstatus").alias("rnk"))
        .group_by("o_orderstatus")
        .agg(
            pl.col("p").n_unique().alias("nuq"),
            pl.col("rnk").max().alias("max_rnk"),
            pl.col("rnk").null_count().alias("null_rnks"),
        )
        .sort("o_orderstatus"))
    return _out(out)


def q114_dynamic_datapoint(spark, sf_dir):
    """group_by_dynamic(start_by='datapoint'): each event_type's window grid
    anchors at ITS first event (per-group min broadcast + arithmetic
    buckets — F.window's epoch anchor is global, so it can't express this).
    One hash agg for anchors + one for windows."""
    import polars_ruby_spark as pl

    ev = _t(spark, sf_dir, "events")
    out = ev.group_by_dynamic("ts", every="6h", by=["event_type"],
                              start_by="datapoint").agg(
        pl.len().alias("n"),
        pl.col("value").sum().round(4).alias("sv"),
    )
    return _out(out)


def q115_agg_typing(spark, sf_dir):
    """Boolean aggregates + integer pow typing (doctest-parity batch 7):
    sum over bool counts trues, mean is the true-fraction, int ** int stays
    integer.  One hash agg, map-side combined."""
    import polars_ruby_spark as pl

    li = _t(spark, sf_dir, "lineitem")
    out = (li.with_columns((pl.col("l_quantity") > 25).alias("big"))
           .group_by("l_returnflag")
           .agg(
               pl.col("big").sum().alias("n_big"),
               pl.col("big").mean().round(9).alias("frac_big"),
               (pl.col("l_linenumber") ** 2).sum().alias("sq_sum"),
           )
           .sort("l_returnflag"))
    return _out(out)


def q116_unique_counts(spark, sf_dir):
    """Expr.unique_counts (expr.rb:6544): count per unique value in order of
    FIRST APPEARANCE — verified by pairing each count with its output
    ordinal.  One hash groupBy carrying min(row_idx); no window."""
    import polars_ruby_spark as pl

    d = _t(spark, sf_dir, "documents").sort("doc_id")
    out = d.select(pl.col("lang").unique_counts()).with_row_index("ord")
    return _out(out)


def q117_arg_where(spark, sf_dir):
    """Sole-select arg_where (functions/lazy.rb:1092): one row per matching
    row index.  Flat filter over the row-indexed frame — no window."""
    import polars_ruby_spark as pl

    ev = _t(spark, sf_dir, "events").sort("event_id")
    out = ev.select(pl.arg_where(pl.col("value") > 220.0))
    return _out(out)


def q118_diff_drop_extend(spark, sf_dir):
    """diff(null_behavior='drop') drops the n-row prefix, then
    extend_constant appends constant rows (both row-count-changing
    sole-select shapes, chained)."""
    import polars_ruby_spark as pl

    o = _t(spark, sf_dir, "orders").sort("o_orderkey").head(50)
    dd = o.select(pl.col("o_totalprice").diff(null_behavior="drop").alias("d"))
    out = dd.select(pl.col("d").extend_constant(-1.0, 2).alias("d"))
    return _out(out)


def q119_sort_by_directions(spark, sf_dir):
    """sort_by with per-key directions under over() (expr.rb sort_by):
    grouped rank-zip remap (two row_number windows + one join — never a
    collected per-row array)."""
    import polars_ruby_spark as pl

    o = _t(spark, sf_dir, "orders").sort("o_orderkey")
    out = (o.select(
        pl.col("o_orderstatus"),
        pl.col("o_orderkey").sort_by(["o_orderpriority", "o_totalprice"],
                                     descending=[False, True])
          .over("o_orderstatus").alias("k"))
        .with_row_index("ord"))
    return _out(out)


def q120_explode_zip(spark, sf_dir):
    """Multi-column explode zips in LOCKSTEP (polars semantics; a per-column
    explode would cross-product).  One generate node, no shuffle."""
    import polars_ruby_spark as pl

    d = _t(spark, sf_dir, "documents").sort("doc_id").head(200)
    base = d.with_columns(
        pl.col("text").str.split(" ").alias("w"),
        pl.col("text").str.to_uppercase().str.split(" ").alias("wu"))
    out = base.explode("w", "wu").select("doc_id", "w", "wu")
    return _out(out)


def q121_cat_categories(spark, sf_dir):
    """cat.get_categories: one row per category in first-appearance order
    (cat_expr.rb) — hash groupBy carrying min(row_idx), no window."""
    import polars_ruby_spark as pl

    d = _t(spark, sf_dir, "documents").sort("doc_id")
    out = (d.select(pl.col("source").cast(pl.Categorical)
                    .cat.get_categories()).with_row_index("ord"))
    return _out(out)


def q122_json_infer(spark, sf_dir):
    """str.json_decode with INFERRED schema (string_expr.rb:804 optional
    dtype): bounded driver probe over the first rows, then one JVM-side
    from_json projection."""
    import polars_ruby_spark as pl

    ev = _t(spark, sf_dir, "events").sort("event_id").head(500)
    out = ev.select(
        pl.col("event_id"),
        pl.col("props").str.json_decode().struct.field("k").alias("k"))
    return _out(out)


def q123_duration_totals(spark, sf_dir):
    """Duration accessors over real timestamp subtraction (date_time_expr.rb
    :970): total_days/hours/seconds of (fixed date − o_orderdate).  The
    interval-typed difference is normalized to epoch µs first (a bare long
    cast of a DayTimeInterval yields SECONDS — the latent unit bug this
    query pins)."""
    import polars_ruby_spark as pl

    o = _t(spark, sf_dir, "orders")
    anchor = pl.lit("1998-12-31").cast(pl.Datetime)
    dur = anchor - pl.col("o_orderdate").cast(pl.Datetime)
    out = (o.select(
        pl.col("o_orderkey"),
        dur.dt.total_days().alias("days"),
        dur.dt.total_hours().alias("hours"),
        dur.dt.total_seconds().alias("secs"),
    ).sort("o_orderkey"))
    return _out(out)


def q124_pii(spark, sf_dir):
    """PII detection + redaction (training-data pipeline op): per-doc match
    counts and redacted length over deterministically injected PII.  Flat
    regexp_count/regexp_replace codegen projections, 0 shuffles."""
    from pyspark.sql import functions as F

    from polars_ruby_spark.operators.text import pii_redact, pii_signals

    import polars_ruby_spark as pl

    d = _t(spark, sf_dir, "documents").sort("doc_id").head(500)
    base = d.with_columns(
        pl.format("{} contact u{}@ex.com ip 10.0.0.{} tel 555-123-4567",
                  pl.col("text"), pl.col("doc_id"),
                  (pl.col("doc_id") % 250) + 1).alias("t2"))
    sig = pii_signals(base._sdf, "t2")
    red = pii_redact(sig, "t2", "clean")
    return red.select("doc_id", "n_email", "n_phone", "n_ipv4", "n_ssn",
                      "n_pii", F.length("clean").alias("red_len"))


def q125_calendar_offsets(spark, sf_dir):
    """Calendar offset_by over event timestamps — preserves time-of-day and
    clamps month ends (batch-19 fix: add_months returns a DATE; the time
    component is re-attached).  Flat codegen projection, 0 shuffles."""
    import polars_ruby_spark as pl

    ev = _t(spark, sf_dir, "events")
    return ev.select(
        pl.col("event_id"),
        pl.col("ts").dt.offset_by("1mo").alias("plus_1mo"),
        pl.col("ts").dt.offset_by("-1y").alias("minus_1y"),
        pl.col("ts").dt.offset_by("3d12h").alias("plus_3d12h"),
    ).to_spark()


def q126_agg_context(spark, sf_dir):
    """Order-dependent per-row ops INSIDE group_by().agg (guide_test.rb agg
    semantics): shift_and_fill / reverse compile to per-group array
    transforms of the ordered collected base (one hash agg, no window-in-
    aggregate), filtered aggregates, unique().count() agg-of-agg, and an
    aggregate OVER a shifted sequence — exploded back to scalars lockstep
    for the driver's canonicalizer."""
    import polars_ruby_spark as pl

    ev = _t(spark, sf_dir, "events").sort(["ts", "event_id"])
    g = ev.group_by("user_id").agg(
        pl.col("event_id").alias("eid"),
        pl.col("value").shift_and_fill(1, 0.0).alias("sv"),
        pl.col("value").reverse().alias("rv"),
        pl.col("value").filter(pl.col("value") > 0).sum().alias("fsum"),
        pl.col("event_type").unique().count().alias("uniq_types"),
        pl.col("value").shift_and_fill(1, 0.0).sum().alias("ssum"),
    )
    out = g.explode("eid", "sv", "rv").select(
        pl.col("user_id"), pl.col("eid"),
        pl.col("sv").round(4).alias("sv"),
        pl.col("rv").round(4).alias("rv"),
        pl.col("fsum").round(4).alias("fsum"),
        pl.col("uniq_types"),
        pl.col("ssum").round(4).alias("ssum"),
    )
    return _out(out)


def q127_list_eval_rank(spark, sf_dir):
    """Aggregates and rank INSIDE list.eval (guide_test.rb list-context):
    element().rank(reverse) / col("").count() compiles to nested JVM
    higher-order functions (filter/size counts per element) — no window,
    no UDF, no explode on the Spark side; exploded to scalars only for the
    driver's canonicalizer."""
    import polars_ruby_spark as pl

    em = _t(spark, sf_dir, "embeddings")
    rank_pct = pl.element().rank(reverse=True) / pl.col("").count()
    out = (em.select(
        pl.col("vec_id"),
        pl.col("embedding").list.eval(rank_pct).alias("rp"))
        .explode("rp")
        .select(pl.col("vec_id"), pl.col("rp").round(6).alias("rank_pct")))
    return _out(out)


def q128_boilerplate(spark, sf_dir):
    """Corpus-frequent shingle ('boilerplate') filter — C4/CCNet-style line
    frequency re-expressed over unstructured text: distinct 5-gram document
    frequencies (one map-combined hash agg), per-doc boilerplate fraction
    (gram-key join + per-doc agg)."""
    from polars_ruby_spark.operators.text import boilerplate_signals

    import polars_ruby_spark as pl

    d = _t(spark, sf_dir, "documents")
    out = boilerplate_signals(d._sdf, "text", "doc_id", k=5, df_threshold=3)
    return out.selectExpr("doc_id", "n_shingles", "n_frequent",
                          "round(boilerplate_frac, 6) AS boilerplate_frac")


def q129_url_normalize(spark, sf_dir):
    """URL extraction + canonicalization over deterministically injected
    URLs (training-data pipeline op): lowercase host, strip www., drop
    query/fragment.  Flat regexp codegen, 0 shuffles."""
    from polars_ruby_spark.operators.text import url_signals

    import polars_ruby_spark as pl

    d = _t(spark, sf_dir, "documents").sort("doc_id").head(500)
    base = d.with_columns(
        pl.format("{} see HTTPS://WWW.Example{}.COM/Path/{}?utm=x#frag",
                  pl.col("text"), (pl.col("doc_id") % 7),
                  pl.col("doc_id")).alias("t2"))
    out = url_signals(base._sdf, "t2")
    return out.select("doc_id", "url", "host", "domain", "url_normalized")


def q130_gopher_rules(spark, sf_dir):
    """Gopher-style quality rules (training-data pipeline op): word-count /
    mean-word-length / alphabetic-fraction gates — flat HOF projections,
    0 shuffles."""
    from polars_ruby_spark.operators.text import gopher_rules

    d = _t(spark, sf_dir, "documents")
    out = gopher_rules(d._sdf, "text", min_words=30)
    return out.selectExpr("doc_id", "n_words",
                          "round(mean_word_len, 6) AS mean_word_len",
                          "round(alpha_word_frac, 6) AS alpha_word_frac",
                          "gopher_pass")


def q131_scalar_semantics(spark, sf_dir):
    """Batch-21/22 doctest semantics over TPC-H data: is_between closed
    modes, clip, dtype-preserving ceil/floor, grouped pct_change, and the
    row-order-preserving is_unique/is_first_distinct family (flat windows
    + one brand-key exchange, no single-partition funnels)."""
    import polars_ruby_spark as pl

    p = _t(spark, sf_dir, "part").sort("p_partkey")
    out = p.select(
        pl.col("p_partkey"),
        pl.col("p_size").is_between(20, 30).alias("sz_both"),
        pl.col("p_size").is_between(20, 30, closed="left").alias("sz_left"),
        pl.col("p_retailprice").clip(950.0, 1500.0).round(2).alias("clipped"),
        pl.col("p_retailprice").ceil().alias("ceilp"),
        pl.col("p_retailprice").floor().alias("floorp"),
        pl.col("p_retailprice").pct_change().over("p_brand").round(6)
        .alias("pct"),
        pl.col("p_size").is_first_distinct().alias("first_sz"),
        pl.col("p_size").is_unique().alias("uniq_sz"),
    )
    return _out(out)


def q132_ewm_single_series(spark, sf_dir):
    """ewm_mean/ewm_std over ONE series spanning the WHOLE events table
    (§2.5) — the round-2 scale-killer regression gate: the old plan
    materialized every row's full prefix (O(n²) cells); the new
    block-segmented prescaled scan (operators/ewm.py) is O(n), multi-task,
    a per-partition Arrow kernel + a lazily folded O(partitions) carry."""
    import polars_ruby_spark as pl

    ev = _t(spark, sf_dir, "events").sort(["ts", "event_id"])
    out = ev.with_columns(
        pl.col("value").ewm_mean(alpha=0.7).round(4).alias("em"),
        pl.col("value").ewm_std(alpha=0.7).round(4).alias("es"),
    ).select("event_id", "em", "es")
    return _out(out)


def q133_calendar_hopping(spark, sf_dir):
    """group_by_dynamic with CALENDAR every + LONGER calendar period
    (every=1mo, period=3mo — monthly sliding quarters, §2.10; closed the
    round-2 'tumbling only' gap).  Candidate-start enumeration + one hash
    agg; variable month lengths via make_interval."""
    import polars_ruby_spark as pl

    ev = _t(spark, sf_dir, "events").sort(["ts", "event_id"])
    out = (
        ev.group_by_dynamic("ts", every="1mo", period="3mo",
                            group_by="event_type")
        .agg(pl.col("value").sum().round(4).alias("sv"),
             pl.col("value").mean().round(4).alias("mv"),
             pl.len().alias("n"))
    )
    return _out(out)


def q134_calendar_rolling(spark, sf_dir):
    """rolling(period="1mo") — calendar-unit per-row look-back windows
    (§2.10, lazy_frame.rb:1161; closed the round-2 raise).  Month-bucket
    band join + one hash agg per anchor row."""
    import polars_ruby_spark as pl

    ev = _t(spark, sf_dir, "events").sort(["ts", "event_id"])
    out = (
        ev.rolling(index_column="ts", period="1mo", group_by="event_type")
        .agg(pl.col("value").sum().alias("sv"), pl.len().alias("n"))
        .with_columns(pl.col("sv").round(4))
    )
    return _out(out)


def q135_datapoint_hopping(spark, sf_dir):
    """start_by='datapoint' with period != every (every=1h, period=2h;
    §2.10) — per-group first-datapoint anchor + candidate-start enumeration
    (closed the round-2 'tumbling only' datapoint gap)."""
    import polars_ruby_spark as pl

    ev = _t(spark, sf_dir, "events").sort(["ts", "event_id"])
    out = (
        ev.group_by_dynamic("ts", every="1h", period="2h",
                            group_by="event_type", start_by="datapoint")
        .agg(pl.col("value").sum().round(4).alias("sv"), pl.len().alias("n"))
    )
    return _out(out)


def q136_grouped_stats(spark, sf_dir):
    """Grouped spearman corr + entropy under over() (§2.4; closed the two
    remaining round-2 grouped-context raises).  Spearman = per-group
    average ranks then ONE windowed pearson corr (frame hook, single keys
    exchange); entropy = ln(S) - sum(x ln x)/S, two windowed sums."""
    import polars_ruby_spark as pl

    li = (_t(spark, sf_dir, "lineitem").filter(pl.col("l_orderkey") <= 2000)
          .sort(["l_orderkey", "l_linenumber"]))
    out = li.with_columns(
        pl.corr("l_quantity", "l_extendedprice", method="spearman")
        .over("l_returnflag").round(6).alias("sp"),
        pl.col("l_quantity").entropy().over("l_returnflag").round(6)
        .alias("ent"),
    ).select("l_orderkey", "l_linenumber", "l_returnflag", "sp", "ent")
    return _out(out)


def q137_spearman_agg(spark, sf_dir):
    """Spearman corr INSIDE group_by().agg() (§2.4; closed the round-3
    raise).  _agg_pre_fn hook: per-group average ranks as helper columns
    (windows partitioned by the SAME keys the groupBy hashes — one logical
    exchange), then a plain pearson-corr hash aggregate on top.  Parity:
    functions/lazy.rb:679 (corr computes in any context)."""
    import polars_ruby_spark as pl

    li = _t(spark, sf_dir, "lineitem")
    out = li.group_by("l_returnflag").agg(
        pl.corr("l_quantity", "l_extendedprice", method="spearman")
        .round(6).alias("sp"),
        pl.corr("l_quantity", "l_discount").round(6).alias("pr"),
        pl.len().alias("n"),
    )
    return _out(out)


def q138_cumulative_eval_grouped(spark, sf_dir):
    """cumulative_eval under over(keys) (§2.4/§2.5; closed the round-3
    sole-select-only boundary).  Per-group ordered (i,v) pairs collected
    once per group (one keys exchange), expanding-prefix reduction per row
    via JVM higher-order functions — no Python, no self-join.  Parity:
    expr.rb:6684 (cumulative_eval in any context)."""
    import polars_ruby_spark as pl

    o = _t(spark, sf_dir, "orders").sort("o_orderkey").head(3000)
    # integer cents: expanding sums stay EXACT, so the mean is the same
    # IEEE division in both engines (double prefix-sums differ by fold
    # order at round() boundaries)
    cents = (pl.col("o_totalprice") * 100).round(0).cast(pl.Int64)
    # UNROUNDED outputs (round-7): integer-cent sums divide to the same
    # double in both engines, and max/first select identical stored
    # values, so the comparator's 9dp normalizer sees equal doubles —
    # a 4dp round here hit an EXACT decimal tie at sf0.1 where Spark
    # (BigDecimal.valueOf shortest-repr HALF_UP) and DuckDB disagree
    out = o.with_columns(
        cents.cumulative_eval(pl.element().mean())
        .over("o_orderstatus").alias("cmean"),
        pl.col("o_totalprice").cumulative_eval(
            pl.element().max() - pl.element().first())
        .over("o_orderstatus").alias("cspread"),
    ).select("o_orderkey", "o_orderstatus", "cmean", "cspread")
    return _out(out)


def q139_jpeg_decode(spark, sf_dir):
    """FULL baseline-DCT JPEG decode through the Spark multimodal pipeline
    (round-5; closed the round-3 header-only boundary).  Per doc a
    deterministic 16x16 grayscale JPEG is encoded executor-side (four
    constant 8x8 blocks -> DC-only, exact at quant=1), packed into the
    canonical media struct, then FULLY decoded — segment parse, huffman
    entropy decode, dequant, vectorized IDCT — via the Arrow-batched
    mapInPandas stage.  The oracle states the closed-form ground truth of
    the decoded pixels (mean = base + 15), so a single wrong pixel fails
    the hash.  Beyond-reference multimodal item."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from polars_ruby_spark.operators import multimodal

    d = _t(spark, sf_dir, "documents")._sdf.filter("doc_id < 64") \
        .select("doc_id")

    def gen(batches):
        import numpy as np

        for pdf in batches:
            blobs = []
            for did in pdf["doc_id"]:
                base = int(did) % 200
                px = np.empty((16, 16), dtype=np.uint8)
                px[:8, :8] = base
                px[:8, 8:] = base + 10
                px[8:, :8] = base + 20
                px[8:, 8:] = base + 30
                blobs.append(multimodal.encode_jpeg_baseline(px, quant=1))
            pdf = pdf.copy()
            pdf["data"] = blobs
            yield pdf

    schema = T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("data", T.BinaryType())])
    with_jpeg = d.mapInPandas(gen, schema)
    packed = multimodal.pack_media(with_jpeg, "data", mime="image/jpeg")
    feats = multimodal.decode_features(
        packed, real_decoder=multimodal.image_pixel_decoder,
        target_partition_mb=None)
    return feats.select(
        "doc_id",
        F.col("feat")[0].alias("w"), F.col("feat")[1].alias("h"),
        F.col("feat")[2].alias("c"),
        F.round(F.col("feat")[3], 4).alias("mean_px"))


def q140_mixed_every(spark, sf_dir):
    """group_by_dynamic with MIXED calendar+fixed every ("1mo10d", §2.10;
    round-5, closed the round-3 raise at group_by.py).  No closed-form
    row->window mapping exists (month lengths vary), so the candidate
    window index is bracketed by 28/31-day bounds, enumerated, and resolved
    by one exact interval test — still a single hash-agg shuffle.  Parity:
    lazy_frame.rb:1416-1458 (any every)."""
    import polars_ruby_spark as pl

    o = _t(spark, sf_dir, "orders")
    out = (o.group_by_dynamic("o_orderdate", every="1mo10d")
           .agg(pl.col("o_totalprice").sum().round(4).alias("sv"),
                pl.len().alias("n")))
    return _out(out)


def q141_datapoint_calendar(spark, sf_dir):
    """group_by_dynamic start_by='datapoint' with CALENDAR every ("2mo",
    §2.10; round-5 — previously the calendar path silently used the epoch
    grid).  Per-group min-date anchors the month grid (broadcast-joined
    pre-pass); candidate starts bracketed + exact-filtered; single hash-agg
    shuffle.  Parity: lazy_frame.rb:1416-1458 start_by."""
    import polars_ruby_spark as pl

    o = _t(spark, sf_dir, "orders")
    out = (o.group_by_dynamic("o_orderdate", every="2mo",
                              group_by="o_orderstatus", start_by="datapoint")
           .agg(pl.col("o_totalprice").sum().round(4).alias("sv"),
                pl.len().alias("n")))
    return _out(out)


def q142_dynamic_spearman(spark, sf_dir):
    """Spearman corr INSIDE group_by_dynamic().agg() (§2.4/§2.10; round-5,
    closed the round-4 raise).  The agg pre-stage hook now binds against
    the window-assigned frame: average ranks over windows partitioned by
    (window_start, keys) — the SAME attributes the groupBy hashes, one
    logical exchange — then a plain pearson hash aggregate.  Parity:
    functions/lazy.rb:679 (corr computes in any context)."""
    import polars_ruby_spark as pl

    ev = _t(spark, sf_dir, "events")
    out = (ev.group_by_dynamic("ts", every="1d", group_by="event_type")
           .agg(pl.corr("value", "user_id", method="spearman")
                .round(6).alias("s"),
                pl.len().alias("n")))
    return _out(out)


def q143_rolling_spearman(spark, sf_dir):
    """Spearman corr inside rolling().agg() (§2.5/§2.10; round-5).
    Overlapping look-back frames cannot host a rank window, so hooked
    aggregates take the band-join membership path: anchors equi-join their
    window rows on a period-wide time bucket + exact interval test, the
    rank pre-stage partitions by anchor id, one hash agg per anchor.
    fill_nan aligns Spark's zero-variance NaN with SQL NULL."""
    import polars_ruby_spark as pl

    ev = _t(spark, sf_dir, "events")
    out = (ev.rolling(index_column="ts", period="1h", by="event_type")
           .agg(pl.corr("value", "user_id", method="spearman")
                .fill_nan(None).round(6).alias("s"),
                pl.len().alias("n")))
    return _out(out)


def q144_video_frames(spark, sf_dir):
    """REAL video frame sampling (round-5; closed the frame_sample stub's
    decode boundary): per doc a deterministic 3-frame MJPEG AVI is packed
    executor-side (constant 16x16 frames, base = doc_id%200, +10/frame),
    then every frame is FULLY decoded — RIFF chunk walk + baseline JPEG
    huffman/IDCT — via the Arrow-batched mapInPandas stage.  The oracle
    states the closed-form ground truth of each decoded frame's mean.
    Beyond-reference multimodal item."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from polars_ruby_spark.operators import multimodal

    d = _t(spark, sf_dir, "documents")._sdf.filter("doc_id < 32") \
        .select("doc_id")

    def gen(batches):
        import numpy as np

        for pdf in batches:
            blobs = []
            for did in pdf["doc_id"]:
                base = int(did) % 200
                frames = [multimodal.encode_jpeg_baseline(
                    np.full((16, 16), base + 10 * f, np.uint8), quant=1)
                    for f in range(3)]
                blobs.append(multimodal.encode_avi_mjpeg(frames, fps=5))
            pdf = pdf.copy()
            pdf["data"] = blobs
            yield pdf

    schema = T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("data", T.BinaryType())])
    with_avi = d.mapInPandas(gen, schema)
    packed = multimodal.pack_media(with_avi, "data", mime="video/x-msvideo")
    out = multimodal.video_frame_features(
        packed, every_n=1, target_partition_mb=None)
    return out.select("doc_id", "frame_no", "width", "height",
                      F.round("mean_px", 4).alias("mean_px"))


def q145_audio_features(spark, sf_dir):
    """REAL audio decode (round-5): per doc a deterministic 16-bit PCM WAV
    (constant amplitude (doc_id%90+5)/100, 200 samples, 8 kHz) is packed
    executor-side, then FULLY decoded — RIFF/fmt/data chunk walk + PCM
    scaling — via the Arrow-batched mapInPandas stage; features =
    [sample_rate, n_samples, channels, RMS].  Constant signal -> RMS =
    amplitude exactly (16-bit quantization at 4dp).  Beyond-reference
    multimodal item."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from polars_ruby_spark.operators import multimodal

    d = _t(spark, sf_dir, "documents")._sdf.filter("doc_id < 64") \
        .select("doc_id")

    def gen(batches):
        import numpy as np

        for pdf in batches:
            blobs = []
            for did in pdf["doc_id"]:
                amp = (int(did) % 90 + 5) / 100.0
                blobs.append(multimodal.encode_wav(
                    np.full(200, amp), sample_rate=8000))
            pdf = pdf.copy()
            pdf["data"] = blobs
            yield pdf

    schema = T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("data", T.BinaryType())])
    with_wav = d.mapInPandas(gen, schema)
    packed = multimodal.pack_media(with_wav, "data", mime="audio/wav")
    feats = multimodal.decode_features(
        packed, real_decoder=multimodal.audio_feature_decoder,
        target_partition_mb=None)
    return feats.select(
        "doc_id",
        F.col("feat")[0].alias("rate"), F.col("feat")[1].alias("n"),
        F.col("feat")[2].alias("ch"),
        F.round(F.col("feat")[3], 4).alias("rms"))


def q146_windowed_in_agg(spark, sf_dir):
    """Order-dependent windowables INSIDE group_by().agg (round-5;
    lazy_frame.rb:1317 — any expression is legal under agg): bare
    rank/cum_sum/diff bind as a pre-stage window over the SAME keys the
    groupBy hashes on (one logical exchange, group_by.py sub), then
    implicitly implode; arg_max/arg_min/arg_sort yield GROUP-LOCAL
    positions (first occurrence wins ties deterministically)."""
    import polars_ruby_spark as pl

    o = _t(spark, sf_dir, "orders").sort(["o_orderdate", "o_orderkey"])
    g = o.group_by("o_custkey").agg(
        pl.col("o_orderkey").alias("ok"),
        pl.col("o_totalprice").rank().alias("rk"),
        pl.col("o_totalprice").cum_sum().alias("cs"),
        pl.col("o_totalprice").diff().alias("dfv"),
        pl.col("o_totalprice").arg_sort().alias("asr"),
        pl.col("o_totalprice").arg_max().alias("amx"),
        pl.col("o_totalprice").arg_min().alias("amn"),
    )
    out = g.explode("ok", "rk", "cs", "dfv", "asr").select(
        pl.col("o_custkey"), pl.col("ok").alias("o_orderkey"),
        pl.col("rk").round(4).alias("rk"),
        pl.col("cs").round(4).alias("cs"),
        pl.col("dfv").round(4).alias("dfv"),
        pl.col("asr"), pl.col("amx"), pl.col("amn"))
    return _out(out)


def q147_distinct_flags_agg(spark, sf_dir):
    """Uniqueness flags + order-transformed compositions inside agg
    (round-5): is_unique/is_first/is_last_distinct partition by the agg
    keys TOO (within-group uniqueness, expr.rb:2301); shift(1).cum_sum()
    and shift(1).n_unique() ride the composed ordered-array route; the
    any() reduction collapses a composed flag list per group."""
    import polars_ruby_spark as pl

    o = _t(spark, sf_dir, "orders").sort(["o_orderdate", "o_orderkey"])
    g = o.group_by("o_custkey").agg(
        pl.col("o_orderkey").alias("ok"),
        pl.col("o_orderpriority").is_unique().alias("iu"),
        pl.col("o_orderpriority").is_first_distinct().alias("fd"),
        pl.col("o_orderpriority").is_last_distinct().alias("ld"),
        pl.col("o_totalprice").shift(1).cum_sum().alias("scs"),
        pl.col("o_totalprice").shift(1).n_unique().alias("snu"),
        pl.col("o_orderpriority").shift(1).is_unique().any().alias("ian"),
    )
    out = g.explode("ok", "iu", "fd", "ld", "scs").select(
        pl.col("o_custkey"), pl.col("ok").alias("o_orderkey"),
        pl.col("iu"), pl.col("fd"), pl.col("ld"),
        pl.col("scs").round(4).alias("scs"),
        pl.col("snu"), pl.col("ian"))
    return _out(out)


def q148_gapped_index_positions(spark, sf_dir):
    """Positional ops AFTER a row-subset of an index-carrying frame
    (round-5): a windowed with_columns materializes the hidden row index,
    filter keeps it (gapped) for ORDER — positional consumers (reverse,
    arg_min/arg_max over the CURRENT frame, group-local arg positions)
    re-rank to a dense index first instead of reading stale values."""
    import polars_ruby_spark as pl

    o = (_t(spark, sf_dir, "orders").sort(["o_orderdate", "o_orderkey"])
         .with_columns(pl.col("o_totalprice").shift(1).over("o_orderstatus")
                       .round(4).alias("prev"))
         .filter(pl.col("o_totalprice") > 50000.0))
    g = o.group_by("o_custkey").agg(
        pl.col("o_orderkey").alias("ok"),
        pl.col("o_totalprice").reverse().round(4).alias("rv"),
        pl.col("prev").alias("pv"),
        pl.col("o_totalprice").arg_max().alias("amx"),
    )
    out = g.explode("ok", "rv", "pv").select(
        pl.col("o_custkey"), pl.col("ok").alias("o_orderkey"),
        pl.col("rv"), pl.col("pv"), pl.col("amx"))
    return _out(out)


def q149_filter_elements_agg(spark, sf_dir):
    """Expr.filter inside agg REMOVES non-matching elements (expr.rb:2713
    — round-5; the null-mask survives only inside null-skipping
    aggregates): bare filtered list, len() of the filtered series,
    first/last of the filtered series, and a filter over an
    order-transformed inner, each vs the row-subquery oracle."""
    import polars_ruby_spark as pl

    o = _t(spark, sf_dir, "orders").sort(["o_orderdate", "o_orderkey"])
    hi = pl.col("o_totalprice") > 150000.0
    g = o.group_by("o_custkey").agg(
        pl.col("o_orderkey").filter(hi).alias("ks"),
        pl.col("o_totalprice").filter(hi).len().alias("n"),
        pl.col("o_totalprice").filter(hi).first().round(4).alias("f"),
        pl.col("o_totalprice").filter(hi).last().round(4).alias("l"),
        pl.col("o_totalprice").shift(1).filter(hi).sum().round(4)
          .alias("ts"),
    )
    out = g.explode("ks").select(
        pl.col("o_custkey"), pl.col("ks"), pl.col("n"),
        pl.col("f"), pl.col("l"), pl.col("ts"))
    return _out(out)


def q150_list_eval_positional(spark, sf_dir):
    """Per-element ORDER-DEPENDENT exprs inside list.eval (round-6;
    list_expr.rb:787 supports arbitrary nesting): element() composed with
    its own shift/diff — the _ordered op's full-array route computes the
    whole transformed series over the eval list and each element picks its
    position (element_at by the HOF index).  Pure JVM HOFs, no window, no
    explode Spark-side."""
    import polars_ruby_spark as pl

    em = _t(spark, sf_dir, "embeddings")
    d = pl.element() - pl.element().shift(1)
    z = pl.element() * 2 + pl.element().diff(1)
    out = (em.select(
        pl.col("vec_id"),
        pl.col("embedding").list.eval(d).alias("d"),
        pl.col("embedding").list.eval(z).alias("z"))
        .explode("d", "z")
        .select(pl.col("vec_id"), pl.col("d").round(6).alias("d"),
                pl.col("z").round(6).alias("z")))
    return _out(out)


def q155_rolling_unaliased_names(spark, sf_dir):
    """Round-7 regression (ADVICE r6 #1): an UN-ALIASED rolling aggregate
    keeps its source column's name (polars semantics, lazy_frame.rb:1161);
    the direct range-frame path must bind every aggregate against the
    pre-loop columns so the later max reads the source value, not the
    just-materialized rolling sum (max also keeps the oracle tie-free:
    2dp data sums never tie at 4dp, and max selects stored values
    exactly — a windowed MEAN hit an exact 6dp tie at sf0.1 where Spark
    and DuckDB round modes disagree)."""
    import polars_ruby_spark as pl

    ev = _t(spark, sf_dir, "events").sort(["ts", "event_id"])
    out = (
        ev.rolling(index_column="ts", period="2h", group_by="event_type")
        .agg(pl.col("value").sum(), pl.col("value").max().alias("m"))
        .with_columns(pl.col("value").round(4))
    )
    return _out(out)


def q156_rolling_index_agg(spark, sf_dir):
    """Round-7 regression (ADVICE r6 #2): a rolling aggregate that READS
    THE INDEX COLUMN must see the per-window element values (the window's
    min ts), not the outer anchor's scalar.  LATE ROUND-9: this batch
    (ts.min() + median().round()) routes through the WRAPPED sliding
    kernel now — it was the pinned O(n·w) collect-window density case
    (80.2 s at sf1.0; 2.1 s through the kernel); the values are
    oracle-identical either way, and collect-window index-reading
    stays pinned by q143's spearman batch and the pytest suite."""
    import polars_ruby_spark as pl

    ev = _t(spark, sf_dir, "events").sort(["ts", "event_id"])
    out = (
        ev.rolling(index_column="ts", period="4h", group_by="event_type")
        .agg(pl.col("ts").min().alias("w_start"),
             pl.col("value").median().round(6).alias("md"))
    )
    return _out(out)


def q157_rolling_minmax_kernel(spark, sf_dir):
    """Round-9: the sliding Arrow-kernel rolling route (an ALL-SIMPLE agg
    batch containing min/max — operators/rolling_kernel.py) on a FIXED
    period, grouped, closed='both'.  Covers min/max over doubles AND over
    the timestamp index, sum + count + len, through per-chunk prefix sums
    and sparse argmin/argmax tables (the r8 route that shipped without
    ever executing; lazy_frame.rb:1161)."""
    import polars_ruby_spark as pl

    ev = _t(spark, sf_dir, "events").sort(["ts", "event_id"])
    out = (
        ev.rolling(index_column="ts", period="3h", group_by="event_type",
                   closed="both")
        .agg(pl.col("value").min().alias("mn"),
             pl.col("value").max().alias("mx"),
             pl.col("value").sum().alias("sm"),
             pl.col("ts").min().alias("w_start"),
             pl.col("value").count().alias("c"),
             pl.len().alias("n"))
        .with_columns(pl.col("sm").round(4))
    )
    return _out(out)


def q158_rolling_calendar_kernel(spark, sf_dir):
    """Round-9: the sliding kernel's CALENDAR arm — month arithmetic stays
    in Catalyst (make_interval month subtraction feeds exact per-anchor µs
    bounds); windows here span up to a full month of the dense events
    series (~2000 rows/group), exactly the O(n·w) density that kills both
    the JVM range frame and collect-window membership at 10× — the kernel
    answers each anchor in O(log w)."""
    import polars_ruby_spark as pl

    ev = _t(spark, sf_dir, "events").sort(["ts", "event_id"])
    out = (
        ev.rolling(index_column="ts", period="1mo", group_by="event_type")
        .agg(pl.col("value").min().alias("mn"),
             pl.col("value").max().alias("mx"),
             pl.col("value").sum().alias("sm"),
             pl.len().alias("n"))
        .with_columns(pl.col("sm").round(4))
    )
    return _out(out)


def q159_rolling_median_kernel(spark, sf_dir):
    """Round-9: rolling MEDIAN + QUANTILE through the sliding kernel's
    wavelet-tree order statistics (operators/rolling_kernel.py) — the same
    4-hour-window density shape as q156, but O((n+anchors)·log n) per
    chunk instead of the collect-window path's O(n·w) membership arrays
    (q156 measured ~35× on 10× data; this query holds ≲3×).  The round
    sits OUTSIDE the agg so the batch stays kernel-classifiable; DuckDB's
    median/quantile_cont use the same sorted-midpoint / pos=q·(n−1)
    linear interpolation the engine reducer does."""
    import polars_ruby_spark as pl

    ev = _t(spark, sf_dir, "events").sort(["ts", "event_id"])
    out = (
        ev.rolling(index_column="ts", period="4h", group_by="event_type")
        .agg(pl.col("value").median().alias("md"),
             pl.col("value").quantile(0.25, "linear").alias("q25"),
             pl.col("value").min().alias("mn"),
             pl.len().alias("n"))
        .with_columns(pl.col("md").round(6), pl.col("q25").round(6))
    )
    return _out(out)


def q160_rolling_moments_kernel(spark, sf_dir):
    """Round-9: the sliding kernel's CENTRAL-MOMENT arm — rolling std
    (ddof 1/0), var, skew, kurtosis answered by chunk-shifted prefix
    moments (operators/rolling_kernel.py), O(n) per chunk where both the
    JVM range frame and the collect-window reducer pay O(n·w) per window.
    DuckDB natives cover std/var; its skewness/kurtosis are the
    bias-CORRECTED sample forms, so the oracle hand-rolls the biased
    moments Spark's skewness/kurtosis (and the engine's _arr_reduce)
    compute (lazy_frame.rb:1161; expr.rb rolling_std/var/skew).

    The RATIONAL-valued quantities (var, kurtosis — no square root in
    their algebra) are compared through sqrt(x + c): 2-decimal source
    values make raw variances land EXACTLY on .5 rounding boundaries
    where Spark (HALF_UP) and DuckDB disagree; the sqrt makes ties
    measure-zero while any var/kurt error still perturbs the hash."""
    import polars_ruby_spark as pl

    ev = _t(spark, sf_dir, "events").sort(["ts", "event_id"])
    out = (
        ev.rolling(index_column="ts", period="3h", group_by="event_type")
        .agg(pl.col("value").std().alias("sd"),
             pl.col("value").var(ddof=0).alias("vp"),
             pl.col("value").skew().alias("sk"),
             pl.col("value").kurtosis().alias("ku"),
             pl.col("value").min().alias("mn"))
        .with_columns(pl.col("sd").round(5),
                      (pl.col("vp") + 1).sqrt().round(5).alias("vp"),
                      pl.col("sk").round(5),
                      (pl.col("ku") + 3).sqrt().round(5).alias("ku"))
    )
    return _out(out)


def q161_rolling_wrapped_kernel(spark, sf_dir):
    """Round-9: POST-TRANSFORMED kernelable batches — elementwise wrappers
    (max−min range, quantile·2+1, rounded sum) over kernel leaves bind
    over the kernel output instead of forcing the O(n·w) collect-window
    walk (group_by._sliding_wrapper_plan / _agg_sliding_kernel_wrapped;
    the q156 density pin's 80 s at sf1.0 collapses to the kernel's ~2.6 s
    for the same windows)."""
    import polars_ruby_spark as pl

    ev = _t(spark, sf_dir, "events").sort(["ts", "event_id"])
    out = (
        ev.rolling(index_column="ts", period="2h", group_by="event_type")
        .agg((pl.col("value").max() - pl.col("value").min()).alias("rng"),
             (pl.col("value").quantile(0.9, "linear") * 2 + 1)
             .round(6).alias("q2"),
             pl.col("value").sum().round(4).alias("sm"),
             pl.len().alias("n"))
    )
    return _out(out)


def q162_rolling_corr_cov_kernel(spark, sf_dir):
    """Round-9: the sliding kernel's PAIR arm — rolling pearson corr and
    covariance (ddof 1/0) via chunk-shifted prefix sums of a, b, ab (+ a²,
    b² for corr), replacing the O(n·w) JVM range-frame re-evaluation those
    aggregates took before (group_by._leaf_kind pair kinds;
    functions/lazy.rb:679 corr, cov).  Spark's zero-variance corr is NaN
    where DuckDB's is NULL → fill_nan(None) normalizes; both return NULL
    for n<2 corr/covar_samp and 0.0 for n=1 covar_pop (measured).  The
    covariances are RATIONAL-valued on this 2-decimal data (tie-prone at
    any fixed rounding — the q160 lesson), so they are compared through
    the strictly-monotone asinh x = ln(x + sqrt(x²+1)): ties become
    measure-zero while any covariance error still perturbs the hash."""
    import polars_ruby_spark as pl

    ev = _t(spark, sf_dir, "events").sort(["ts", "event_id"])
    # 3 decimals: the kernel's chunk-shifted longdouble pair sums and
    # DuckDB's streaming covariance agree to ~1e-10 RELATIVE, which at
    # sf0.1's 3e5 values lands ~27 of them on a 1e-6 rounding grid's
    # half-boundaries (measured) — 1e-3 asinh granularity keeps the gate
    # (any pair-masking/shift/ddof bug is orders of magnitude larger)
    # while making grid collisions ~1-in-10^7 per value
    asinh = [
        ((pl.col(c) + (pl.col(c) * pl.col(c) + 1).sqrt()).log()
         .round(3).alias(c)) for c in ("cs", "cp")]
    out = (
        ev.rolling(index_column="ts", period="2h", group_by="event_type")
        .agg(pl.corr("value", "user_id").alias("c"),
             pl.cov("value", "user_id").alias("cs"),
             pl.cov("value", "user_id", ddof=0).alias("cp"),
             pl.len().alias("n"))
        .with_columns(pl.col("c").fill_nan(None).round(6), *asinh)
    )
    return _out(out)


def q163_rolling_by_kernel_attach(spark, sf_dir):
    """Round-9: EXPR-LEVEL time-based rolling (rolling_median/quantile/
    std/min_by — expr.rb:3964-4848) through the sliding-kernel frame
    attachment (operators/rolling_kernel.attach_rolling_by_multi, hooked via
    _global_ordinal_fn/_grouped_remap_fn like the ewm/cum attaches):
    Spark's range frame COLLECTS AND SORTS the buffer per row for median/
    percentile (O(n·w log w)), the q143-class density wall; the kernel
    answers the same per-row look-backs in O(n log w) per chunk.
    rolling_mean_by stays on the window route (prefix-cheap; q14 pins
    it), so this query pins the four kernel-attached kinds."""
    import polars_ruby_spark as pl

    ev = _t(spark, sf_dir, "events").sort(["ts", "event_id"])
    out = (
        ev.with_columns(
            pl.col("value").rolling_median_by("ts", "2h")
            .over("event_type").round(6).alias("md"),
            pl.col("value").rolling_quantile_by("ts", "2h", quantile=0.75,
                                                interpolation="linear")
            .over("event_type").round(6).alias("q75"),
            pl.col("value").rolling_std_by("ts", "2h")
            .over("event_type").round(5).alias("sd"),
            pl.col("value").rolling_min_by("ts", "2h")
            .over("event_type").alias("mn"))
        .select("event_id", "event_type", "ts", "md", "q75", "sd", "mn")
    )
    return _out(out)


def q164_rolling_rowcount_kernel(spark, sf_dir):
    """Round-9: UNGROUPED row-count rolling (rolling_median/min/sum/std —
    expr.rb:4210-4840) through the sliding kernel chunked by the dense
    row index.  Before, these bound a KEYLESS Spark window — ONE task for
    the whole frame (the worst scale shape; WindowExec even warns) with
    per-row buffer re-aggregation on top; the kernel runs task-parallel
    at O(n log w) per chunk.  min_periods mirrors the window route's
    count>=mp null rule; center frames duplicate boundary rows both ways."""
    import polars_ruby_spark as pl

    ev = _t(spark, sf_dir, "events").sort(["ts", "event_id"])
    out = (
        ev.with_columns(
            pl.col("value").rolling_median(501).round(6).alias("md"),
            pl.col("value").rolling_min(501).alias("mn"),
            pl.col("value").rolling_sum(200, min_periods=50)
            .round(4).alias("sm"),
            pl.col("value").rolling_std(301, center=True)
            .round(5).alias("sd"))
        .select("event_id", "ts", "md", "mn", "sm", "sd")
    )
    return _out(out)


def q165_ungrouped_rank_attach(spark, sf_dir):
    """Round-9: UNGROUPED rank() (all five methods + descending) through
    the distinct-value prefix attach (operators/row_index.
    attach_global_rank_multi) — it previously compiled to a window with NO
    partitionBy, one task for the whole frame (expr.rb:5691).  Heavy ties
    via round(value): ~49k distinct values over 10k rows at sf0.01."""
    import polars_ruby_spark as pl

    ev = _t(spark, sf_dir, "events").sort(["ts", "event_id"])
    out = (
        ev.with_columns(pl.col("value").round(0).alias("vb"))
        .with_columns(
            pl.col("vb").rank("average").alias("r_avg"),
            pl.col("vb").rank("min").alias("r_min"),
            pl.col("vb").rank("max").alias("r_max"),
            pl.col("vb").rank("dense").alias("r_dn"),
            pl.col("vb").rank("ordinal").alias("r_od"),
            pl.col("vb").rank("average", descending=True).alias("r_dv"))
        .select("event_id", "vb", "r_avg", "r_min", "r_max", "r_dn",
                "r_od", "r_dv")
    )
    return _out(out)


def q166_ungrouped_fills_lag_attach(spark, sf_dir):
    """Round-9: UNGROUPED unbounded forward/backward fill (two-pass chunk
    prefix + O(chunks) struct-extreme carry,
    row_index.attach_global_fill_multi)
    and ungrouped diff/pct_change (lag via the sliding kernel's single-row
    frame) — each previously a window with NO partitionBy, one task for
    the whole frame (expr.rb:1721 fills, :2501 diff, :2560 pct_change).
    Nulls injected with a value predicate so the fills have real gaps."""
    import polars_ruby_spark as pl

    ev = _t(spark, sf_dir, "events").sort(["ts", "event_id"])
    out = (
        ev.with_columns(
            pl.when(pl.col("value") > 100).then(pl.col("value"))
            .otherwise(None).alias("vn"))
        .with_columns(
            pl.col("vn").forward_fill().alias("ff"),
            pl.col("vn").backward_fill().alias("bf"),
            # LIMITED fills (late round-10): "ff:k"/"bf:k" attach kinds —
            # distance predicate on the struct(idx, v) carry; previously
            # a KEYLESS bounded-frame window (one task)
            pl.col("vn").forward_fill(3).alias("f3"),
            pl.col("vn").backward_fill(2).alias("b2"),
            pl.col("vn").diff().round(4).alias("df"),
            (pl.col("vn").pct_change() * 100).round(4).alias("pc"),
            # bare interpolate; since round-10 a composition would ALSO
            # keep the attach (q167 covers the composed shapes) — this
            # stays bare to pin the single-hook route
            pl.col("vn").interpolate().alias("li0"))
        .with_columns(
            # asinh comparator over the materialized column: interpolated
            # values are RATIONAL (2-dec endpoints, rational gap
            # fractions) and land on exact .5 rounding boundaries where
            # Spark HALF_UP and DuckDB disagree (the q160/q162 lesson)
            ((pl.col("li0") + (pl.col("li0") * pl.col("li0") + 1).sqrt())
             .log().round(5)).alias("li"))
        .select("event_id", "vn", "ff", "bf", "f3", "b2", "df", "pc",
                "li")
    )
    return _out(out)


def q167_hook_composed_binaries(spark, sf_dir):
    """Round-10 (VERDICT r9 #2): binary compositions of hook-bearing
    exprs keep their attaches — interpolate()+interpolate() (hook×hook,
    two chained stages), forward_fill()−backward_fill() (hook×hook across
    families), diff()×col and backward_fill()×col (hook×plain-column,
    operand evaluated on the attached frame).  Each shape previously
    DROPPED the attach and re-bound the keyless one-task window (for
    interpolate, the O(n²) UnboundedFollowing frame).  Values are emitted
    raw: both engines compute the identical IEEE-double formula (the
    interpolation arithmetic is mirrored term-for-term), so the harness's
    9-dp float normalization sees identical bits."""
    import polars_ruby_spark as pl

    ev = _t(spark, sf_dir, "events").sort(["ts", "event_id"])
    out = (
        ev.with_columns(
            pl.when(pl.col("value") > 100).then(pl.col("value"))
            .otherwise(None).alias("vn"))
        .with_columns(
            (pl.col("vn").interpolate()
             + pl.col("vn").interpolate()).alias("ii"),
            (pl.col("vn").forward_fill()
             - pl.col("vn").backward_fill()).alias("fb"),
            (pl.col("value").diff() * pl.col("value")).alias("dv"),
            (pl.col("vn").backward_fill() * pl.col("value")).alias("bv"),
            # hooked when/then branch (round-10 _compose_hook_parts):
            # the conditional previously dropped the branch's attach and
            # re-bound the keyless window
            pl.when(pl.col("vn").is_null())
            .then(pl.col("vn").forward_fill())
            .otherwise(pl.col("vn") * 2).alias("cw"),
            # n-ary constructors with hooked parts (round-10
            # _wire_hook_parts): coalesce / min_horizontal previously
            # evaluated the hooked part's raw fn, re-binding the keyless
            # window
            pl.coalesce(pl.col("vn").interpolate(),
                        pl.col("value")).alias("nc"),
            pl.min_horizontal(pl.col("vn").forward_fill(),
                              pl.col("value")).alias("nh"))
        .select("event_id", "vn", "ii", "fb", "dv", "bv", "cw", "nc", "nh")
    )
    return _out(out)


def q168_rank_random(spark, sf_dir):
    """rank("random") (expr.rb:5649 — late round-10): ordinal ranking
    with a SEEDED pseudo-random tie permutation, built from the same
    distinct-value prefix table as the other five methods (the tie
    window orders by xxhash64(row index, seed), value-partitioned).
    The permutation itself is engine-specific randomness, so the oracle
    checks the DETERMINISTIC invariants: per distinct value, the random
    ranks are exactly the integers [min_rank, max_rank] — count, min,
    max and sum all close-form."""
    import polars_ruby_spark as pl

    ev = _t(spark, sf_dir, "events").sort(["ts", "event_id"])
    out = (
        ev.with_columns(
            pl.when(pl.col("value") > 100)
            .then(pl.col("value").round(0)).otherwise(None).alias("vb"))
        .with_columns(pl.col("vb").rank("random", seed=42).alias("r"))
        .filter(pl.col("vb").is_not_null())
        .group_by("vb")
        .agg(pl.len().alias("cnt"),
             pl.col("r").min().alias("min_r"),
             pl.col("r").max().alias("max_r"),
             pl.col("r").sum().alias("sum_r"))
    )
    return _out(out)


def _stage_events_stream(spark, sf_dir, n_files=1):
    """Stage a µs-timestamp copy of events for a file-source stream (the
    raw file is TIMESTAMP(NANOS), which readStream cannot probe) and
    return (stage_dir, unique_name).

    ``SPARK_GRAFT_STREAM_FILES`` (round-7): minimum stage file count —
    the determinism sweep forces different micro-batch widths with it
    (results must be batch-count invariant, the streaming analogue of
    the partition-count axis)."""
    import os
    import tempfile
    import uuid

    import polars_ruby_spark as pl

    n_files = max(n_files,
                  int(os.environ.get("SPARK_GRAFT_STREAM_FILES", "1")))
    ev = pl.scan_parquet(os.path.join(sf_dir, "events.parquet"),
                         spark=spark)
    root = tempfile.mkdtemp(prefix="plsq_stream_")
    stage = os.path.join(root, "stage")
    sdf = ev.to_spark().select("ts", "event_type", "user_id", "value")
    if n_files > 1:
        sdf = sdf.repartition(n_files)
    sdf.write.parquet(stage)
    return stage, f"plsq_mem_{uuid.uuid4().hex[:12]}"


def _events_stream(spark, sf_dir, n_files=1, max_files_per_trigger=None,
                   columns=("ts", "event_type", "user_id", "value")):
    """Streaming events frame (µs timestamps) + a unique sink name.

    Round-11 (guide §6/§1): the default path streams the RAW
    events.parquet — TIMESTAMP(NANOS) reads as Long under the session's
    nanosAsLong conf (the same conf batch scan_parquet already sets) and
    casts ``div 1000 → timestamp_micros`` in the stream projection, so
    the staged full copy of events is no longer WRITTEN on every
    invocation (it was one extra full pass + parquet encode per bench
    rep).  Staging remains for multi-file replays: the determinism
    sweep's SPARK_GRAFT_STREAM_FILES axis and q153's forced multi-batch
    state-store path."""
    import os
    import uuid

    from polars_ruby_spark.frame import LazyFrame
    from polars_ruby_spark.streaming import stream as st

    eff_files = max(n_files,
                    int(os.environ.get("SPARK_GRAFT_STREAM_FILES", "1")))
    if eff_files > 1:
        stage, name = _stage_events_stream(spark, sf_dir, n_files)
        lf = st.scan_stream(stage, spark=spark,
                            max_files_per_trigger=max_files_per_trigger)
        return LazyFrame(lf._sdf.select(*columns)), name
    from polars_ruby_spark.sources.io import _ns_timestamp_cols

    path = os.path.join(sf_dir, "events.parquet")
    ns_cols = _ns_timestamp_cols(path)
    if ns_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    sch = spark.read.parquet(path).schema
    # FileStreamSource requires a directory basePath — a glob whose
    # non-glob prefix is the parent dir streams the single file
    lf = st.scan_stream(path + "*", schema=sch, spark=spark,
                        max_files_per_trigger=max_files_per_trigger)
    proj = [(F.timestamp_micros(F.expr(f"`{c}` div 1000")).alias(c)
             if c in ns_cols else c) for c in columns]
    sdf = lf._sdf.select(*proj)
    return LazyFrame(sdf), f"plsq_mem_{uuid.uuid4().hex[:12]}"


def _replay_to_memory(lf, name, mode):
    """Run a streaming frame to completion (availableNow) into an
    in-memory sink and return the result table."""
    sdf = lf._sdf
    q = (sdf.writeStream.format("memory").queryName(name)
         .outputMode(mode).trigger(availableNow=True).start())
    q.awaitTermination()
    return sdf.sparkSession.table(name)


def q151_stream_windowed_agg(spark, sf_dir):
    """Structured-Streaming tumbling-window aggregation REPLAYED to
    completion vs the plain batch SQL oracle (round-6; the streaming ops
    were pytest-only before): file-source stream → watermark → 1h windows
    per event_type → complete-mode memory sink.  Batch and streaming share
    the window grammar (SURVEY §2.10), so equality with the batch oracle
    is the semantics contract."""
    from pyspark.sql import functions as F

    import polars_ruby_spark as pl
    from polars_ruby_spark.streaming import stream as st

    lf, name = _events_stream(spark, sf_dir)
    win = st.windowed_agg(lf, "ts", every="1h", by=["event_type"],
                          aggs={"sv": pl.col("value").sum(),
                                "n": pl.len()})
    tab = _replay_to_memory(win, name, "complete")
    return tab.select("ts", "event_type",
                      F.round("sv", 4).alias("sv"), "n")


def q152_stream_dedup_replay(spark, sf_dir):
    """Streaming exact dedup (dropDuplicatesWithinWatermark) replayed to
    completion: the surviving key set equals batch DISTINCT (which
    physical duplicate survives is arrival-order dependent, so the oracle
    contract is the key set)."""
    from polars_ruby_spark.streaming import stream as st

    lf, name = _events_stream(spark, sf_dir)
    dd = st.dedup_stream(lf, ["user_id", "event_type"], "ts",
                         watermark="10m")
    tab = _replay_to_memory(dd, name, "append")
    return tab.select("user_id", "event_type")


def q154_stream_session_replay(spark, sf_dir):
    """Session windows on a STREAM replayed to completion (round-6): the
    same F.session_window the batch q55 uses, but over readStream with a
    watermark, complete-mode memory sink — streaming and batch share one
    session semantics, proven against the gaps-and-islands SQL oracle."""
    from pyspark.sql import functions as F

    import polars_ruby_spark as pl
    from polars_ruby_spark.frame import LazyFrame
    from polars_ruby_spark.streaming import stream as st

    lf, name = _events_stream(spark, sf_dir)
    wm, _ntz = st._watermarked(lf._sdf, "ts", st.parse_duration("10m"))
    sess = st.session_window_agg(
        LazyFrame(wm), "ts", gap="30m", by=["user_id"],
        aggs={"n": pl.len(), "sv": pl.col("value").sum().round(4)})
    tab = _replay_to_memory(sess, name, "complete")
    return tab.select(F.col("session_start").cast("timestamp_ntz")
                      .alias("session_start"), "user_id", "n", "sv")


def q153_stream_running_count(spark, sf_dir):
    """Custom stateful streaming operator (applyInPandasWithState) across
    MULTIPLE micro-batches: per-key running counts kept in the state store
    (maxFilesPerTrigger=1 over a 4-file stage forces ≥4 batches); the max
    update per key equals the batch COUNT regardless of the batch split."""
    from pyspark.sql import functions as F

    from polars_ruby_spark.streaming import stream as st

    lf, name = _events_stream(spark, sf_dir, n_files=4,
                              max_files_per_trigger=1)
    rc = st.stateful_running_count(lf, "event_type", out_name="n")
    tab = _replay_to_memory(rc, name, "update")
    return tab.groupBy("event_type").agg(F.max("n").alias("n"))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    Returns the ORDER-RESTORED frame (unlike the `_out` bench handoff):
    the query's final sort is part of its contract, and with the engine's
    deferred sort the raw plan no longer carries it implicitly."""
    import polars_ruby_spark as pl  # noqa: F401

    return _q01_lf(spark, SF_DEFAULT).to_spark()


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q01_pricing_summary": q01_pricing_summary,
        "q02_project_arithmetic": q02_project_arithmetic,
        "q03_top_k": q03_top_k,
        "q04_join_inner_agg": q04_join_inner_agg,
        "q05_join_left": q05_join_left,
        "q06_join_semi": q06_join_semi,
        "q07_join_anti": q07_join_anti,
        "q08_join_full": q08_join_full,
        "q09_join_cross": q09_join_cross,
        "q10_join_asof": q10_join_asof,
        "q11_window_rank": q11_window_rank,
        "q12_lag_diff": q12_lag_diff,
        "q13_cum_sum": q13_cum_sum,
        "q14_rolling_1h": q14_rolling_1h,
        "q15_dynamic_1h": q15_dynamic_1h,
        "q16_str_funcs": q16_str_funcs,
        "q17_dt_funcs": q17_dt_funcs,
        "q18_list_funcs": q18_list_funcs,
        "q19_pivot": q19_pivot,
        "q20_unpivot": q20_unpivot,
        "q21_stats": q21_stats,
        "q22_quantile": q22_quantile,
        "q23_sql_context": q23_sql_context,
        "q24_unique_first": q24_unique_first,
        "q25_concat": q25_concat,
        "q26_forward_fill": q26_forward_fill,
        "q27_rle": q27_rle,
        "q28_cut_qcut": q28_cut_qcut,
        "q29_value_counts": q29_value_counts,
        "q30_to_dummies": q30_to_dummies,
        "q31_ewm_mean": q31_ewm_mean,
        "q32_interpolate": q32_interpolate,
        "q33_horizontal_fold": q33_horizontal_fold,
        "q34_struct_ops": q34_struct_ops,
        "q35_entropy_mode": q35_entropy_mode,
        "q36_upsample": q36_upsample,
        "q37_merge_sorted": q37_merge_sorted,
        "q38_group_head": q38_group_head,
        "q39_dup_flags": q39_dup_flags,
        "q40_dedup_exact": q40_dedup_exact,
        "q41_minhash_pairs": q41_minhash_pairs,
        "q42_ngram_jaccard": q42_ngram_jaccard,
        "q43_ann_cosine": q43_ann_cosine,
        "q44_lang_id": q44_lang_id,
        "q45_quality": q45_quality,
        "q46_token_count": q46_token_count,
        "q47_fingerprint": q47_fingerprint,
        "q48_multimodal": q48_multimodal,
        "q49_simhash": q49_simhash,
        "q50_lsh_ann": q50_lsh_ann,               # rows-only (approximate)
        "q51_streaming_window": q51_streaming_window,
        "q52_dynamic_sliding": q52_dynamic_sliding,
        "q53_rolling_center": q53_rolling_center,
        "q54_peaks": q54_peaks,
        "q55_session_windows": q55_session_windows,
        "q56_map_elements": q56_map_elements,
        "q57_concat_diag_horizontal": q57_concat_diag_horizontal,
        "q58_ranges": q58_ranges,
        "q59_json": q59_json,
        "q60_dt_edge": q60_dt_edge,
        "q61_str_edge": q61_str_edge,
        "q62_list_eval": q62_list_eval,
        "q63_ordinal": q63_ordinal,
        "q64_dynamic_monthly": q64_dynamic_monthly,
        "q65_frame_sample": q65_frame_sample,
        "q66_search_sorted_groupsort": q66_search_sorted_groupsort,
        "q67_rolling_fingerprint": q67_rolling_fingerprint,
        "q68_topk_salted": q68_topk_salted,
        "q69_dynamic_closed_both": q69_dynamic_closed_both,
        "q70_cosine_neardup": q70_cosine_neardup,
        "q71_stream_dedup": q71_stream_dedup,
        "q72_agg_slices": q72_agg_slices,
        "q73_rle": q73_rle,
        "q74_cube": q74_cube,
        "q75_time_dtype": q75_time_dtype,
        "q76_binary_ns": q76_binary_ns,
        "q77_horizontal": q77_horizontal,
        "q78_merge_sorted": q78_merge_sorted,
        "q79_ivf_ann": q79_ivf_ann,
        "q80_dedup_clusters": q80_dedup_clusters,
        "q81_tfidf_topk": q81_tfidf_topk,
        "q82_repetition_signals": q82_repetition_signals,
        "q83_bm25_search": q83_bm25_search,
        "q84_hash_sample": q84_hash_sample,
        "q85_profile": q85_profile,
        "q86_pack_shards": q86_pack_shards,
        "q87_decontaminate": q87_decontaminate,
        "q88_reshape": q88_reshape,
        "q89_stratified_split": q89_stratified_split,
        "q90_chunk_tokens": q90_chunk_tokens,
        "q91_mixing_weights": q91_mixing_weights,
        "q92_quantize_int8": q92_quantize_int8,
        "q93_ngram_dup_coverage": q93_ngram_dup_coverage,
        "q94_weighted_sample": q94_weighted_sample,
        "q95_expr_value_counts": q95_expr_value_counts,
        "q96_vocab_encode": q96_vocab_encode,
        "q97_source_overlap": q97_source_overlap,
        "q98_label_centroids": q98_label_centroids,
        "q99_semantic_dedup": q99_semantic_dedup,
        "q100_shard_assign": q100_shard_assign,
        "q101_corr_cov": q101_corr_cov,
        "q102_arg_ops": q102_arg_ops,
        "q103_bool_nan_aggs": q103_bool_nan_aggs,
        "q106_groupby_shortcuts": q106_groupby_shortcuts,
        "q107_global_ordinals": q107_global_ordinals,
        "q108_cumulative_eval": q108_cumulative_eval,
        "q109_struct_roundtrip": q109_struct_roundtrip,
        "q110_calendar_offset": q110_calendar_offset,
        "q111_unigram_lm": q111_unigram_lm,
        "q112_dup_ngrams": q112_dup_ngrams,
        "q113_null_semantics": q113_null_semantics,
        "q114_dynamic_datapoint": q114_dynamic_datapoint,
        "q115_agg_typing": q115_agg_typing,
        "q116_unique_counts": q116_unique_counts,
        "q117_arg_where": q117_arg_where,
        "q118_diff_drop_extend": q118_diff_drop_extend,
        "q119_sort_by_directions": q119_sort_by_directions,
        "q120_explode_zip": q120_explode_zip,
        "q121_cat_categories": q121_cat_categories,
        "q122_json_infer": q122_json_infer,
        "q123_duration_totals": q123_duration_totals,
        "q124_pii": q124_pii,
        "q125_calendar_offsets": q125_calendar_offsets,
        "q126_agg_context": q126_agg_context,
        "q127_list_eval_rank": q127_list_eval_rank,
        "q128_boilerplate": q128_boilerplate,
        "q129_url_normalize": q129_url_normalize,
        "q130_gopher_rules": q130_gopher_rules,
        "q131_scalar_semantics": q131_scalar_semantics,
        "q104_replace_mapping": q104_replace_mapping,
        "q105_join_nulls": q105_join_nulls,
        "q132_ewm_single_series": q132_ewm_single_series,
        "q133_calendar_hopping": q133_calendar_hopping,
        "q134_calendar_rolling": q134_calendar_rolling,
        "q135_datapoint_hopping": q135_datapoint_hopping,
        "q136_grouped_stats": q136_grouped_stats,
        "q137_spearman_agg": q137_spearman_agg,
        "q138_cumulative_eval_grouped": q138_cumulative_eval_grouped,
        "q139_jpeg_decode": q139_jpeg_decode,
        "q140_mixed_every": q140_mixed_every,
        "q141_datapoint_calendar": q141_datapoint_calendar,
        "q142_dynamic_spearman": q142_dynamic_spearman,
        "q143_rolling_spearman": q143_rolling_spearman,
        "q144_video_frames": q144_video_frames,
        "q145_audio_features": q145_audio_features,
        "q146_windowed_in_agg": q146_windowed_in_agg,
        "q147_distinct_flags_agg": q147_distinct_flags_agg,
        "q148_gapped_index_positions": q148_gapped_index_positions,
        "q149_filter_elements_agg": q149_filter_elements_agg,
        "q150_list_eval_positional": q150_list_eval_positional,
        "q151_stream_windowed_agg": q151_stream_windowed_agg,
        "q152_stream_dedup_replay": q152_stream_dedup_replay,
        "q153_stream_running_count": q153_stream_running_count,
        "q154_stream_session_replay": q154_stream_session_replay,
        "q155_rolling_unaliased_names": q155_rolling_unaliased_names,
        "q156_rolling_index_agg": q156_rolling_index_agg,
        "q157_rolling_minmax_kernel": q157_rolling_minmax_kernel,
        "q158_rolling_calendar_kernel": q158_rolling_calendar_kernel,
        "q159_rolling_median_kernel": q159_rolling_median_kernel,
        "q160_rolling_moments_kernel": q160_rolling_moments_kernel,
        "q161_rolling_wrapped_kernel": q161_rolling_wrapped_kernel,
        "q162_rolling_corr_cov_kernel": q162_rolling_corr_cov_kernel,
        "q163_rolling_by_kernel_attach": q163_rolling_by_kernel_attach,
        "q164_rolling_rowcount_kernel": q164_rolling_rowcount_kernel,
        "q165_ungrouped_rank_attach": q165_ungrouped_rank_attach,
        "q166_ungrouped_fills_lag_attach": q166_ungrouped_fills_lag_attach,
        "q167_hook_composed_binaries": q167_hook_composed_binaries,
        "q168_rank_random": q168_rank_random,
    }


def _stop_in(lang: str) -> str:
    from polars_ruby_spark.operators.text import STOPWORDS

    return ", ".join(f"'{w}'" for w in STOPWORDS[lang])


def _shingle_sql(tcol: str) -> str:
    """DuckDB 3-word shingles matching operators/dedup.shingles."""
    return (f"CASE WHEN len({tcol}) >= 3 THEN "
            f"list_transform(range(1, len({tcol}) - 1), "
            f"i -> {tcol}[i] || ' ' || {tcol}[i+1] || ' ' || {tcol}[i+2]) "
            f"ELSE [] END")


def oracle_sql() -> dict[str, str]:
    # double hashing mirrors dedup.minhash_signatures: one md5 per shingle,
    # minhash_j = min(h1 + j*h2) with h1/h2 = 48-bit digest halves
    _mh = ", ".join(
        f"list_min(list_transform(s, x -> ('0x' || substr(md5(x), 1, 12))::BIGINT"
        f" + {j} * ('0x' || substr(md5(x), 17, 12))::BIGINT)) AS m{j}"
        for j in range(9))
    _votes = ", ".join(
        f"sum(CASE WHEN (u >> {64 - i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(1, 65))
    _bitstr = " || ".join(f"CASE WHEN b{i} > 0 THEN '1' ELSE '0' END" for i in range(1, 65))
    ext = {
        "q49_simhash": f"""
            WITH toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
                          FROM documents),
                 h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 16))::UBIGINT AS u
                       FROM toks),
                 v AS (SELECT doc_id, {_votes} FROM h GROUP BY doc_id)
            SELECT doc_id, {_bitstr} AS simhash_bits FROM v
        """,
        "q40_dedup_exact": r"""
            SELECT min(doc_id) AS doc_id, count(*) AS dup_count
            FROM (SELECT doc_id,
                         md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
                  FROM documents)
            GROUP BY fp
        """,
        "q41_minhash_pairs": f"""
            WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
                 sh AS (SELECT doc_id, {_shingle_sql('t')} AS s FROM toks),
                 mh AS (SELECT doc_id, {_mh} FROM sh),
                 bands AS (
                   SELECT doc_id, 0 AS band_id, m0 || '-' || m1 || '-' || m2 AS bh FROM mh
                   UNION ALL SELECT doc_id, 1, m3 || '-' || m4 || '-' || m5 FROM mh
                   UNION ALL SELECT doc_id, 2, m6 || '-' || m7 || '-' || m8 FROM mh)
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM bands a JOIN bands b
              ON a.band_id = b.band_id AND a.bh = b.bh AND a.doc_id < b.doc_id
        """,
        "q80_dedup_clusters": f"""
            WITH RECURSIVE
                 toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
                 sh AS (SELECT doc_id, {_shingle_sql('t')} AS s FROM toks),
                 mh AS (SELECT doc_id, {_mh} FROM sh),
                 bands AS (
                   SELECT doc_id, 0 AS band_id, m0 || '-' || m1 || '-' || m2 AS bh FROM mh
                   UNION ALL SELECT doc_id, 1, m3 || '-' || m4 || '-' || m5 FROM mh
                   UNION ALL SELECT doc_id, 2, m6 || '-' || m7 || '-' || m8 FROM mh),
                 pairs AS (
                   SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                   FROM bands a JOIN bands b
                     ON a.band_id = b.band_id AND a.bh = b.bh AND a.doc_id < b.doc_id),
                 edges AS (SELECT id_a AS u, id_b AS v FROM pairs
                           UNION SELECT id_b, id_a FROM pairs),
                 reach AS (
                   SELECT u AS id, u AS label FROM edges
                   UNION
                   SELECT e.u AS id, r.label FROM edges e JOIN reach r ON r.id = e.v),
                 cc AS (SELECT id, MIN(label) AS cluster_id FROM reach GROUP BY id),
                 assign AS (
                   SELECT d.doc_id, COALESCE(cc.cluster_id, d.doc_id) AS cluster_id
                   FROM documents d LEFT JOIN cc ON cc.id = d.doc_id)
            SELECT doc_id, cluster_id,
                   count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
                   doc_id = cluster_id AS keep
            FROM assign
        """,
        "q81_tfidf_topk": """
            WITH toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
                          FROM documents),
                 tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
                        WHERE term <> '' GROUP BY doc_id, term),
                 dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
                 n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
                 scored AS (
                   SELECT doc_id, term,
                          round(tf * ln(CAST(n_docs AS DOUBLE) / df), 4) AS weight
                   FROM tf JOIN dfreq USING (term) CROSS JOIN n)
            SELECT doc_id, rank, term, weight FROM (
              SELECT doc_id, term, weight,
                     row_number() OVER (PARTITION BY doc_id
                                        ORDER BY weight DESC, term) AS rank
              FROM scored) WHERE rank <= 5
        """,
        "q82_repetition_signals": """
            WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
                 flat AS (SELECT doc_id, len(t) AS n_tok,
                                 len(list_distinct(t)) AS n_distinct,
                                 list_aggregate(list_transform(t, x -> len(x)), 'sum')
                                   AS char_sum
                          FROM toks),
                 bg AS (SELECT doc_id,
                               CASE WHEN len(t) >= 2 THEN
                                 list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
                               ELSE [] END AS g
                        FROM toks),
                 bgx AS (SELECT doc_id, unnest(g) AS gram FROM bg),
                 per AS (SELECT doc_id, gram, count(*) AS c FROM bgx GROUP BY doc_id, gram),
                 top AS (SELECT doc_id, max(c) AS top_c, sum(c) AS tot FROM per GROUP BY doc_id)
            SELECT f.doc_id,
                   round(CAST(n_distinct AS DOUBLE) / n_tok, 4) AS distinct_ratio,
                   COALESCE(round(CAST(top_c AS DOUBLE) / tot, 4), 0.0) AS top_bigram_frac,
                   round(CAST(char_sum AS DOUBLE) / n_tok, 4) AS mean_word_len
            FROM flat f LEFT JOIN top USING (doc_id)
        """,
        "q83_bm25_search": """
            WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
                 stats AS (SELECT count(*) AS n_docs, avg(len(t)) AS avgdl FROM toks),
                 base AS (SELECT doc_id, len(t) AS dl,
                                 unnest(list_filter(t, x -> x IN ('spark', 'query', 'join')))
                                   AS term
                          FROM toks),
                 tf AS (SELECT doc_id, term, count(*) AS tf, min(dl) AS dl
                        FROM base GROUP BY doc_id, term),
                 dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
                 sc AS (SELECT doc_id,
                               round(sum(
                                 ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                                 * (tf * 2.2)
                                 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 4) AS score
                        FROM tf JOIN dfreq USING (term) CROSS JOIN stats
                        GROUP BY doc_id)
            SELECT row_number() OVER (ORDER BY score DESC, doc_id) AS rank, doc_id, score
            FROM sc ORDER BY score DESC, doc_id LIMIT 10
        """,
        "q88_reshape": """
            WITH o AS (SELECT o_orderkey,
                              row_number() OVER (ORDER BY o_orderkey) - 1 AS rn
                       FROM orders)
            SELECT array_to_string(list(o_orderkey ORDER BY o_orderkey), ',') AS keys
            FROM o GROUP BY rn // 10
        """,
        "q89_stratified_split": """
            SELECT doc_id, source,
                   CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                             % 10000 < 0.8 * 10000 THEN 'train'
                        WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                             % 10000 < (0.8 + 0.1) * 10000 THEN 'val'
                        ELSE 'test' END AS split
            FROM documents
        """,
        "q90_chunk_tokens": """
            WITH t AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
                 s AS (SELECT doc_id, tok, len(tok) AS n,
                              unnest(range(0, len(tok), 48)) AS start
                       FROM t)
            SELECT doc_id, CAST(start // 48 AS INT) AS chunk_id,
                   CAST(least(64, n - start) AS INT) AS n_tokens,
                   array_to_string(tok[start + 1 : start + 64], ' ') AS chunk_text
            FROM s
        """,
        "q91_mixing_weights": """
            WITH per AS (SELECT source, CAST(sum(n_chars) AS DOUBLE) AS n_chars_total
                         FROM documents GROUP BY source),
                 tot AS (SELECT sum(n_chars_total) AS total,
                                sum(pow(n_chars_total, 0.5)) AS pow_marg FROM per)
            SELECT source, n_chars_total,
                   round(n_chars_total / total, 6) AS p,
                   round(pow(n_chars_total, 0.5) / pow_marg, 6) AS w,
                   round(pow(n_chars_total, 0.5) / pow_marg * 1000000.0
                         / n_chars_total, 4) AS epochs
            FROM per, tot
        """,
        "q92_quantize_int8": """
            WITH e AS (SELECT vec_id,
                              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                       FROM embeddings),
                 s AS (SELECT vec_id, v,
                              CASE WHEN list_max(list_transform(v, x -> abs(x))) = 0
                                   THEN 1.0
                                   ELSE list_max(list_transform(v, x -> abs(x))) / 127.0
                              END AS scale
                       FROM e)
            SELECT vec_id, round(scale, 6) AS qscale,
                   CAST(list_sum(list_transform(v,
                        x -> CAST(round(x / scale) AS BIGINT)
                             * CAST(round(x / scale) AS BIGINT))) AS BIGINT) AS q_l2,
                   round(list_sum(list_transform(v,
                        x -> abs(x - round(x / scale) * scale))) / len(v), 6)
                     AS recon_mae
            FROM s
        """,
        "q93_ngram_dup_coverage": """
            WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS tok
                       FROM documents),
                 p AS (SELECT doc_id, tok,
                              unnest(range(1, len(tok) - 13 + 2)) AS pos
                       FROM t WHERE len(tok) >= 13),
                 g AS (SELECT doc_id,
                              substr(md5(array_to_string(tok[pos : pos + 12], ' ')),
                                     1, 16) AS gh
                       FROM p),
                 d AS (SELECT gh, count(DISTINCT doc_id) AS docs FROM g GROUP BY gh)
            SELECT g.doc_id,
                   CAST(count(*) AS INT) AS n_grams,
                   CAST(sum(CASE WHEN d.docs > 1 THEN 1 ELSE 0 END) AS INT) AS dup_grams,
                   round(sum(CASE WHEN d.docs > 1 THEN 1 ELSE 0 END)
                         / CAST(count(*) AS DOUBLE), 4) AS dup_frac
            FROM g JOIN d USING (gh)
            GROUP BY g.doc_id
        """,
        "q94_weighted_sample": f"""
            WITH t AS (SELECT doc_id, text, string_split(lower(text), ' ') AS tok
                       FROM documents),
                 m AS (SELECT doc_id,
                              round(0.4 * least(len(tok) / 100.0, 1.0)
                                    + 0.4 * CAST(len(list_filter(tok,
                                          x -> x IN ({_stop_in('en')}))) AS DOUBLE)
                                          / len(tok)
                                    + 0.2 * (1.0 - CAST(len(regexp_extract_all(text,
                                          '[.,!?;:]')) AS DOUBLE) / length(text)), 4)
                                AS quality
                       FROM t)
            SELECT doc_id, quality
            FROM m
            WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000
                  < quality * 10000
        """,
        "q95_expr_value_counts": """
            SELECT lang, COUNT(*)::BIGINT AS n FROM documents GROUP BY lang
        """,
        "q106_groupby_shortcuts": """
            SELECT o_orderstatus,
                   round(median(o_totalprice), 4) AS o_totalprice,
                   median(o_custkey) AS o_custkey
            FROM orders GROUP BY o_orderstatus
        """,
        "q110_calendar_offset": """
            WITH b AS (
              SELECT event_type, value, ts,
                     date_trunc('month', ts - INTERVAL 3 DAY)::TIMESTAMP
                       + INTERVAL 3 DAY AS s0
              FROM events),
            w AS (
              SELECT event_type, value,
                     CASE WHEN ts = s0 THEN s0 - INTERVAL 1 MONTH ELSE s0 END AS w
              FROM b)
            SELECT w AS _lower_boundary, w + INTERVAL 1 MONTH AS _upper_boundary,
                   w AS ts, event_type,
                   count(*) AS n, round(sum(value), 4) AS sv
            FROM w GROUP BY 1, 2, 3, 4
        """,
        "q111_unigram_lm": """
            WITH toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
                          FROM documents),
            counts AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
            tot AS (SELECT sum(cnt) AS t FROM counts),
            lp AS (SELECT tok, ln(cnt::DOUBLE / (SELECT t FROM tot)) AS logp
                   FROM counts)
            SELECT doc_id, count(*) AS n_tokens,
                   round(avg(logp), 6) AS avg_logprob,
                   round(exp(-avg(logp)), 4) AS pseudo_ppl
            FROM toks JOIN lp USING (tok)
            GROUP BY doc_id
        """,
        "q114_dynamic_datapoint": """
            WITH m AS (
              SELECT event_type, min(ts) AS mn FROM events GROUP BY event_type),
            b AS (
              SELECT e.event_type, e.value,
                     m.mn + to_microseconds(
                       (epoch_us(e.ts) - epoch_us(m.mn))
                       // 21600000000 * 21600000000) AS w
              FROM events e JOIN m USING (event_type))
            SELECT w AS ts, event_type,
                   count(*) AS n, round(sum(value), 4) AS sv
            FROM b GROUP BY 1, 2
        """,
        # ewm oracle: alpha=0.7 -> lam=0.3; weights beyond 40 rows back are
        # < 0.3^40 ~ 1.2e-21 (values <= ~500), invisible at round(4) — an
        # explicit 40-term lag expansion sidesteps DuckDB's power() overflow
        # on the usual prescaling identity over 10k rows.
        "q132_ewm_single_series": f"""
            WITH s AS (SELECT event_id, value,
                              {", ".join(
                                  f"lag(value, {k}) OVER "
                                  f"(ORDER BY ts, event_id) AS l{k}"
                                  for k in range(1, 40))}
                       FROM events)
            SELECT event_id,
                   round(({" + ".join(
                       f"coalesce(l{k}, 0) * {0.3 ** k!r}"
                       for k in range(1, 40))} + value)
                     / ({" + ".join(
                       f"(CASE WHEN l{k} IS NOT NULL THEN {0.3 ** k!r} "
                       f"ELSE 0 END)" for k in range(1, 40))} + 1), 4) AS em,
                   round(CASE WHEN ({" + ".join(
                       f"(CASE WHEN l{k} IS NOT NULL THEN 1 ELSE 0 END)"
                       for k in range(1, 40))}) = 0 THEN 0.0 ELSE sqrt(
                     greatest(
                       (({" + ".join(
                           f"coalesce(l{k} * l{k}, 0) * {0.3 ** k!r}"
                           for k in range(1, 40))} + value * value)
                        / ({" + ".join(
                           f"(CASE WHEN l{k} IS NOT NULL THEN {0.3 ** k!r} "
                           f"ELSE 0 END)" for k in range(1, 40))} + 1)
                        - pow(({" + ".join(
                           f"coalesce(l{k}, 0) * {0.3 ** k!r}"
                           for k in range(1, 40))} + value)
                          / ({" + ".join(
                           f"(CASE WHEN l{k} IS NOT NULL THEN {0.3 ** k!r} "
                           f"ELSE 0 END)" for k in range(1, 40))} + 1), 2))
                       * pow({" + ".join(
                           f"(CASE WHEN l{k} IS NOT NULL THEN {0.3 ** k!r} "
                           f"ELSE 0 END)" for k in range(1, 40))} + 1, 2)
                       / (pow({" + ".join(
                           f"(CASE WHEN l{k} IS NOT NULL THEN {0.3 ** k!r} "
                           f"ELSE 0 END)" for k in range(1, 40))} + 1, 2)
                          - ({" + ".join(
                           f"(CASE WHEN l{k} IS NOT NULL THEN {0.3 ** (2 * k)!r} "
                           f"ELSE 0 END)" for k in range(1, 40))} + 1)),
                       0.0)) END, 4) AS es
            FROM s
        """,
        "q133_calendar_hopping": """
            WITH g AS (SELECT date_trunc('month', ts) - to_months(i::INT) AS w,
                              value, event_type
                       FROM events, range(3) r(i))
            SELECT w AS ts, event_type,
                   round(sum(value), 4) AS sv,
                   round(avg(value), 4) AS mv,
                   count(*) AS n
            FROM g GROUP BY w, event_type
        """,
        "q134_calendar_rolling": """
            SELECT a.event_type, a.ts,
                   round(sum(b.value), 4) AS sv, count(b.ts) AS n
            FROM events a LEFT JOIN events b
              ON a.event_type = b.event_type
             AND b.ts > a.ts - INTERVAL 1 MONTH AND b.ts <= a.ts
            GROUP BY a.event_type, a.ts, a.event_id
        """,
        "q137_spearman_agg": """
            WITH r AS (SELECT l_returnflag, l_quantity, l_discount,
                              rank() OVER (PARTITION BY l_returnflag
                                           ORDER BY l_quantity)
                                + (count(*) OVER (PARTITION BY l_returnflag,
                                                  l_quantity) - 1) / 2.0
                                AS ra,
                              rank() OVER (PARTITION BY l_returnflag
                                           ORDER BY l_extendedprice)
                                + (count(*) OVER (PARTITION BY l_returnflag,
                                                  l_extendedprice) - 1) / 2.0
                                AS rb
                       FROM lineitem)
            SELECT l_returnflag, round(corr(ra, rb), 6) AS sp,
                   round(corr(l_quantity, l_discount), 6) AS pr,
                   count(*) AS n
            FROM r GROUP BY l_returnflag
        """,
        "q136_grouped_stats": """
            WITH f AS (SELECT l_orderkey, l_linenumber, l_returnflag,
                              l_quantity, l_extendedprice
                       FROM lineitem WHERE l_orderkey <= 2000),
                 r AS (SELECT *,
                              rank() OVER (PARTITION BY l_returnflag
                                           ORDER BY l_quantity)
                                + (count(*) OVER (PARTITION BY l_returnflag,
                                                  l_quantity) - 1) / 2.0
                                AS ra,
                              rank() OVER (PARTITION BY l_returnflag
                                           ORDER BY l_extendedprice)
                                + (count(*) OVER (PARTITION BY l_returnflag,
                                                  l_extendedprice) - 1) / 2.0
                                AS rb
                       FROM f)
            SELECT l_orderkey, l_linenumber, l_returnflag,
                   round(corr(ra, rb) OVER (PARTITION BY l_returnflag), 6)
                     AS sp,
                   round(ln(sum(l_quantity) OVER (PARTITION BY l_returnflag))
                         / ln(2)
                         - (sum(l_quantity * ln(l_quantity))
                              OVER (PARTITION BY l_returnflag))
                           / (sum(l_quantity) OVER (PARTITION BY l_returnflag))
                           / ln(2), 6) AS ent
            FROM r
        """,
        "q135_datapoint_hopping": """
            WITH e AS (SELECT *, epoch_us(ts) tu FROM events),
                 a AS (SELECT event_type, min(tu) mn FROM e GROUP BY event_type),
                 j AS (SELECT e.*, a.mn FROM e JOIN a USING (event_type)),
                 x AS (SELECT *, unnest(range(
                           greatest((tu - mn - 7200000000) // 3600000000, 0),
                           (tu - mn) // 3600000000 + 1)) AS k
                       FROM j),
                 f AS (SELECT *, mn + k * 3600000000 AS s FROM x
                       WHERE mn + k * 3600000000 <= tu
                         AND tu < mn + k * 3600000000 + 7200000000)
            SELECT make_timestamp(s) AS ts, event_type,
                   round(sum(value), 4) AS sv, count(*) AS n
            FROM f GROUP BY s, event_type
        """,
        "q131_scalar_semantics": """
            WITH s AS (SELECT *, row_number() OVER (ORDER BY p_partkey) AS rid
                       FROM part)
            SELECT p_partkey,
                   p_size BETWEEN 20 AND 30 AS sz_both,
                   (p_size >= 20 AND p_size < 30) AS sz_left,
                   round(least(greatest(CAST(p_retailprice AS DOUBLE), 950.0),
                               1500.0), 2) AS clipped,
                   ceil(CAST(p_retailprice AS DOUBLE)) AS ceilp,
                   floor(CAST(p_retailprice AS DOUBLE)) AS floorp,
                   round((CAST(p_retailprice AS DOUBLE)
                          - lag(CAST(p_retailprice AS DOUBLE)) OVER
                            (PARTITION BY p_brand ORDER BY rid))
                         / lag(CAST(p_retailprice AS DOUBLE)) OVER
                           (PARTITION BY p_brand ORDER BY rid), 6) AS pct,
                   (row_number() OVER (PARTITION BY p_size ORDER BY rid) = 1)
                       AS first_sz,
                   (count(*) OVER (PARTITION BY p_size) = 1) AS uniq_sz
            FROM s
        """,
        "q130_gopher_rules": """
            WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS w
                       FROM documents)
            SELECT doc_id,
                   len(w) AS n_words,
                   round(list_sum(list_transform(w, x -> length(x)))
                         * 1.0 / len(w), 6) AS mean_word_len,
                   round(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))
                         * 1.0 / len(w), 6) AS alpha_word_frac,
                   (len(w) BETWEEN 30 AND 100000)
                     AND (list_sum(list_transform(w, x -> length(x))) * 1.0 / len(w)
                          BETWEEN 3.0 AND 10.0)
                     AND (len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))
                          * 1.0 / len(w) >= 0.8) AS gopher_pass
            FROM t
        """,
        "q128_boilerplate": """
            WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS w
                       FROM documents),
                 g AS (SELECT DISTINCT doc_id, gram FROM (
                         SELECT doc_id,
                                unnest(list_transform(range(1, len(w) - 3),
                                  i -> array_to_string(w[i:i+4], ' '))) AS gram
                         FROM t WHERE len(w) >= 5)),
                 dfc AS (SELECT gram, count(DISTINCT doc_id) AS df
                         FROM g GROUP BY gram)
            SELECT g.doc_id,
                   count(*) AS n_shingles,
                   sum(CASE WHEN dfc.df > 3 THEN 1 ELSE 0 END) AS n_frequent,
                   round(avg(CASE WHEN dfc.df > 3 THEN 1.0 ELSE 0.0 END), 6)
                       AS boilerplate_frac
            FROM g JOIN dfc USING (gram)
            GROUP BY g.doc_id
        """,
        "q129_url_normalize": r"""
            WITH b AS (SELECT doc_id,
                              text || ' see HTTPS://WWW.Example'
                                   || CAST(doc_id % 7 AS VARCHAR)
                                   || '.COM/Path/' || CAST(doc_id AS VARCHAR)
                                   || '?utm=x#frag' AS t2
                       FROM (SELECT * FROM documents ORDER BY doc_id LIMIT 500))
            SELECT doc_id,
                   NULLIF(regexp_extract(t2, '(?i)https?://[^\s]+', 0), '') AS url,
                   lower(regexp_extract(t2, '(?i)https?://([^/\s:?#]+)', 1)) AS host,
                   regexp_replace(lower(regexp_extract(t2, '(?i)https?://([^/\s:?#]+)', 1)),
                                  '^www\.', '') AS domain,
                   lower(regexp_extract(t2, '(?i)(https?)://', 1)) || '://'
                     || lower(regexp_extract(t2, '(?i)https?://([^/\s:?#]+)', 1))
                     || regexp_extract(t2, '(?i)https?://[^/\s?#]+([^\s?#]*)', 1)
                     AS url_normalized
            FROM b
        """,
        "q127_list_eval_rank": """
            SELECT vec_id,
                   round(unnest(list_transform(embedding, x ->
                     ((2 * len(list_filter(embedding, y -> y > x)) +
                       len(list_filter(embedding, y -> y = x)) + 1) / 2.0)
                     / len(embedding))), 6) AS rank_pct
            FROM embeddings
        """,
        "q126_agg_context": """
            WITH s AS (SELECT user_id, event_id, event_type, value,
                              row_number() OVER (ORDER BY ts, event_id) AS rid
                       FROM events),
                 g AS (SELECT user_id,
                              list(event_id ORDER BY rid) AS eids,
                              list(value ORDER BY rid) AS vals,
                              sum(CASE WHEN value > 0 THEN value END) AS fsum,
                              count(DISTINCT event_type) AS uniq_types
                       FROM s GROUP BY user_id)
            SELECT user_id,
                   unnest(eids) AS eid,
                   round(unnest(list_transform(range(1, len(vals) + 1),
                         i -> CASE WHEN i = 1 THEN 0.0 ELSE vals[i - 1] END)), 4) AS sv,
                   round(unnest(list_reverse(vals)), 4) AS rv,
                   round(fsum, 4) AS fsum,
                   uniq_types,
                   round(list_sum(vals) - vals[len(vals)], 4) AS ssum
            FROM g
        """,
        "q125_calendar_offsets": """
            SELECT event_id,
                   CAST(ts + INTERVAL 1 MONTH AS TIMESTAMP) AS plus_1mo,
                   CAST(ts - INTERVAL 1 YEAR AS TIMESTAMP) AS minus_1y,
                   CAST(ts + INTERVAL '3 days 12 hours' AS TIMESTAMP) AS plus_3d12h
            FROM events
        """,
        "q124_pii": r"""
            WITH b AS (SELECT doc_id,
                              text || ' contact u' || CAST(doc_id AS VARCHAR)
                                   || '@ex.com ip 10.0.0.'
                                   || CAST((doc_id % 250) + 1 AS VARCHAR)
                                   || ' tel 555-123-4567' AS t2
                       FROM (SELECT * FROM documents ORDER BY doc_id LIMIT 500)),
                 s AS (SELECT doc_id, t2,
                              len(regexp_extract_all(t2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
                              len(regexp_extract_all(t2, '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS n_phone,
                              len(regexp_extract_all(t2, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ipv4,
                              len(regexp_extract_all(t2, '\b\d{3}-\d{2}-\d{4}\b')) AS n_ssn
                       FROM b)
            SELECT doc_id, n_email, n_phone, n_ipv4, n_ssn,
                   n_email + n_phone + n_ipv4 + n_ssn AS n_pii,
                   length(
                     regexp_replace(
                       regexp_replace(
                         regexp_replace(
                           regexp_replace(t2,
                             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                           '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g'),
                         '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g'),
                       '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IPV4>', 'g')
                   ) AS red_len
            FROM s
        """,
        "q123_duration_totals": """
            SELECT o_orderkey,
                   date_diff('day', o_orderdate, DATE '1998-12-31') AS days,
                   date_diff('day', o_orderdate, DATE '1998-12-31') * 24 AS hours,
                   date_diff('day', o_orderdate, DATE '1998-12-31') * 86400 AS secs
            FROM orders ORDER BY o_orderkey
        """,
        "q120_explode_zip": """
            WITH b AS (SELECT doc_id, text FROM documents
                       ORDER BY doc_id LIMIT 200)
            SELECT doc_id,
                   unnest(string_split(text, ' ')) AS w,
                   unnest(string_split(upper(text), ' ')) AS wu
            FROM b
        """,
        "q121_cat_categories": """
            WITH b AS (SELECT source,
                              row_number() OVER (ORDER BY doc_id) AS i
                       FROM documents),
                 g AS (SELECT source, MIN(i) AS f FROM b
                       WHERE source IS NOT NULL GROUP BY source)
            SELECT row_number() OVER (ORDER BY f) - 1 AS ord, source
            FROM g
        """,
        "q122_json_infer": """
            WITH b AS (SELECT event_id, props FROM events
                       ORDER BY event_id LIMIT 500)
            SELECT event_id,
                   CAST(json_extract(props, '$.k') AS BIGINT) AS k
            FROM b
        """,
        "q115_agg_typing": """
            SELECT l_returnflag,
                   SUM(CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END) AS n_big,
                   ROUND(AVG(CASE WHEN l_quantity > 25 THEN 1.0 ELSE 0.0 END), 9) AS frac_big,
                   SUM(l_linenumber * l_linenumber) AS sq_sum
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
        """,
        "q116_unique_counts": """
            WITH b AS (SELECT lang, row_number() OVER (ORDER BY doc_id) AS i
                       FROM documents),
                 g AS (SELECT lang, COUNT(*) AS cnt, MIN(i) AS f
                       FROM b GROUP BY lang)
            SELECT row_number() OVER (ORDER BY f) - 1 AS ord, cnt AS lang
            FROM g
        """,
        "q117_arg_where": """
            WITH b AS (SELECT value,
                              row_number() OVER (ORDER BY event_id) - 1 AS i
                       FROM events)
            SELECT i AS value FROM b WHERE value > 220.0
        """,
        "q118_diff_drop_extend": """
            WITH o AS (SELECT o_totalprice,
                              row_number() OVER (ORDER BY o_orderkey) AS rn
                       FROM orders ORDER BY o_orderkey LIMIT 50),
                 d AS (SELECT o_totalprice
                              - lag(o_totalprice) OVER (ORDER BY rn) AS d, rn
                       FROM o)
            SELECT d FROM d WHERE rn > 1
            UNION ALL SELECT -1.0 FROM range(2)
        """,
        "q119_sort_by_directions": """
            WITH b AS (SELECT o_orderstatus, o_orderkey, o_orderpriority,
                              o_totalprice,
                              row_number() OVER (ORDER BY o_orderkey) - 1 AS rid
                       FROM orders),
                 pos AS (SELECT o_orderstatus, rid,
                                row_number() OVER (PARTITION BY o_orderstatus
                                                   ORDER BY rid) AS p
                         FROM b),
                 rnk AS (SELECT o_orderstatus, o_orderkey AS k,
                                row_number() OVER (PARTITION BY o_orderstatus
                                    ORDER BY o_orderpriority ASC,
                                             o_totalprice DESC, rid ASC) AS r
                         FROM b)
            SELECT pos.rid AS ord, pos.o_orderstatus, rnk.k
            FROM pos JOIN rnk ON pos.o_orderstatus = rnk.o_orderstatus
                             AND pos.p = rnk.r
        """,
        "q113_null_semantics": """
            WITH base AS (
              SELECT o_orderstatus,
                     CASE WHEN o_orderkey % 7 = 0 THEN NULL
                          ELSE o_totalprice END AS p
              FROM orders),
            rnk AS (
              SELECT o_orderstatus, p,
                     CASE WHEN p IS NOT NULL THEN
                       rank() OVER (PARTITION BY o_orderstatus
                                    ORDER BY p ASC NULLS LAST)
                     END AS rnk
              FROM base)
            SELECT o_orderstatus,
                   count(DISTINCT p)
                     + max(CASE WHEN p IS NULL THEN 1 ELSE 0 END) AS nuq,
                   max(rnk) AS max_rnk,
                   sum(CASE WHEN rnk IS NULL THEN 1 ELSE 0 END) AS null_rnks
            FROM rnk
            GROUP BY o_orderstatus
        """,
        "q112_dup_ngrams": """
            WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS tk
                       FROM documents),
            g AS (SELECT doc_id,
                         array_to_string(list_slice(tk, i, i + 2), ' ') AS gram
                  FROM t, unnest(range(1, greatest(len(tk) - 1, 1))) AS u(i)),
            d AS (SELECT DISTINCT doc_id, gram FROM g),
            dp AS (SELECT gram, count(*) AS n_docs FROM d GROUP BY gram)
            SELECT doc_id, count(*) AS n_ngrams,
                   sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS n_dup,
                   round(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END)::DOUBLE
                         / count(*), 4) AS dup_frac
            FROM g JOIN dp USING (gram)
            GROUP BY doc_id
        """,
        "q144_video_frames": """
            SELECT doc_id, CAST(f AS INT) AS frame_no,
                   16 AS width, 16 AS height,
                   CAST(doc_id % 200 + 10 * f AS DOUBLE) AS mean_px
            FROM documents, range(3) r(f)
            WHERE doc_id < 32
        """,
        "q145_audio_features": """
            SELECT doc_id,
                   CAST(8000 AS DOUBLE) AS rate, CAST(200 AS DOUBLE) AS n,
                   CAST(1 AS DOUBLE) AS ch,
                   round((doc_id % 90 + 5) / 100.0, 4) AS rms
            FROM documents WHERE doc_id < 64
        """,
        "q142_dynamic_spearman": """
            WITH r AS (SELECT event_type, date_trunc('day', ts) AS w,
                              rank() OVER (PARTITION BY event_type,
                                           date_trunc('day', ts)
                                           ORDER BY value)
                                + (count(*) OVER (PARTITION BY event_type,
                                                  date_trunc('day', ts),
                                                  value) - 1) / 2.0 AS ra,
                              rank() OVER (PARTITION BY event_type,
                                           date_trunc('day', ts)
                                           ORDER BY user_id)
                                + (count(*) OVER (PARTITION BY event_type,
                                                  date_trunc('day', ts),
                                                  user_id) - 1) / 2.0 AS rb
                       FROM events)
            SELECT CAST(w AS TIMESTAMP) AS ts, event_type,
                   round(corr(ra, rb), 6) AS s, count(*) AS n
            FROM r GROUP BY w, event_type
        """,
        "q143_rolling_spearman": """
            WITH j AS (SELECT a.event_id AS aid, a.ts AS ats,
                              a.event_type AS et, b.value AS bv,
                              b.user_id AS bu
                       FROM events a JOIN events b
                         ON a.event_type = b.event_type
                        AND b.ts > a.ts - INTERVAL 1 HOUR
                        AND b.ts <= a.ts),
                 r AS (SELECT aid, ats, et,
                              rank() OVER (PARTITION BY aid ORDER BY bv)
                                + (count(*) OVER (PARTITION BY aid, bv)
                                   - 1) / 2.0 AS ra,
                              rank() OVER (PARTITION BY aid ORDER BY bu)
                                + (count(*) OVER (PARTITION BY aid, bu)
                                   - 1) / 2.0 AS rb
                       FROM j)
            SELECT et AS event_type, ats AS ts,
                   round(corr(ra, rb), 6) AS s, count(*) AS n
            FROM r GROUP BY aid, ats, et
        """,
        "q140_mixed_every": """
            WITH grid AS (
              SELECT TIMESTAMP '1970-01-01' + to_months(k::INT)
                       + to_days((10*k)::INT) AS s
              FROM range(150, 300) r(k)),
                 gw AS (SELECT s, s + to_months(1) + to_days(10) AS e
                        FROM grid)
            SELECT g.s AS o_orderdate,
                   round(sum(o_totalprice), 4) AS sv, count(*) AS n
            FROM orders o JOIN gw g
              ON CAST(o.o_orderdate AS TIMESTAMP) >= g.s
             AND CAST(o.o_orderdate AS TIMESTAMP) < g.e
            GROUP BY g.s
        """,
        "q141_datapoint_calendar": """
            WITH a AS (SELECT o_orderstatus,
                              min(CAST(o_orderdate AS TIMESTAMP)) AS anc
                       FROM orders GROUP BY 1),
                 grid AS (SELECT o_orderstatus,
                                 anc + to_months((2*k)::INT) AS s,
                                 anc + to_months((2*(k+1))::INT) AS e
                          FROM a, range(0, 60) r(k))
            SELECT g.s AS o_orderdate, g.o_orderstatus,
                   round(sum(o_totalprice), 4) AS sv, count(*) AS n
            FROM orders o JOIN grid g
              ON o.o_orderstatus = g.o_orderstatus
             AND CAST(o.o_orderdate AS TIMESTAMP) >= g.s
             AND CAST(o.o_orderdate AS TIMESTAMP) < g.e
            GROUP BY g.s, g.o_orderstatus
        """,
        "q146_windowed_in_agg": """
            WITH s AS (SELECT o_custkey, o_orderkey, o_totalprice,
                              row_number() OVER (ORDER BY o_orderdate,
                                                 o_orderkey) AS rid
                       FROM orders),
                 w AS (SELECT o_custkey, o_orderkey, o_totalprice, rid,
                              rank() OVER (PARTITION BY o_custkey
                                           ORDER BY o_totalprice) AS rmin,
                              count(*) OVER (PARTITION BY o_custkey,
                                             o_totalprice) AS tie,
                              sum(o_totalprice) OVER (
                                  PARTITION BY o_custkey ORDER BY rid
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS cs,
                              lag(o_totalprice) OVER (
                                  PARTITION BY o_custkey
                                  ORDER BY rid) AS lv,
                              row_number() OVER (PARTITION BY o_custkey
                                                 ORDER BY rid) - 1 AS pos,
                              row_number() OVER (
                                  PARTITION BY o_custkey
                                  ORDER BY o_totalprice, rid) AS sortpos,
                              max(o_totalprice) OVER (
                                  PARTITION BY o_custkey) AS gmax,
                              min(o_totalprice) OVER (
                                  PARTITION BY o_custkey) AS gmin
                       FROM s),
                 e AS (SELECT w.*,
                              min(CASE WHEN o_totalprice = gmax
                                  THEN pos END) OVER (
                                  PARTITION BY o_custkey) AS amx,
                              min(CASE WHEN o_totalprice = gmin
                                  THEN pos END) OVER (
                                  PARTITION BY o_custkey) AS amn
                       FROM w)
            SELECT e.o_custkey, e.o_orderkey,
                   round(e.rmin + (e.tie - 1) / 2.0, 4) AS rk,
                   round(e.cs, 4) AS cs,
                   round(e.o_totalprice - e.lv, 4) AS dfv,
                   p.pos AS asr, e.amx, e.amn
            FROM e JOIN e p ON p.o_custkey = e.o_custkey
                           AND p.sortpos = e.pos + 1
        """,
        "q147_distinct_flags_agg": """
            WITH s AS (SELECT o_custkey, o_orderkey, o_orderpriority,
                              o_totalprice,
                              row_number() OVER (ORDER BY o_orderdate,
                                                 o_orderkey) AS rid
                       FROM orders),
                 w AS (SELECT s.*,
                              count(*) OVER (PARTITION BY o_custkey,
                                             o_orderpriority) AS pc,
                              row_number() OVER (
                                  PARTITION BY o_custkey, o_orderpriority
                                  ORDER BY rid) AS pfirst,
                              row_number() OVER (
                                  PARTITION BY o_custkey, o_orderpriority
                                  ORDER BY rid DESC) AS plast,
                              lag(o_totalprice) OVER (
                                  PARTITION BY o_custkey
                                  ORDER BY rid) AS lv,
                              lag(o_orderpriority) OVER (
                                  PARTITION BY o_custkey
                                  ORDER BY rid) AS lp
                       FROM s),
                 gsc AS (SELECT o_custkey,
                                count(DISTINCT lv)
                                + max(CASE WHEN lv IS NULL
                                      THEN 1 ELSE 0 END) AS snu
                         FROM w GROUP BY o_custkey),
                 gan AS (SELECT o_custkey,
                                bool_or(c = 1) AS ian
                         FROM (SELECT o_custkey, lp, count(*) AS c
                               FROM w GROUP BY o_custkey, lp)
                         GROUP BY o_custkey)
            SELECT w.o_custkey, w.o_orderkey,
                   w.pc = 1 AS iu,
                   w.pfirst = 1 AS fd,
                   w.plast = 1 AS ld,
                   round(sum(w.lv) OVER (PARTITION BY w.o_custkey
                         ORDER BY w.rid ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW), 4) AS scs,
                   gsc.snu, gan.ian
            FROM w JOIN gsc USING (o_custkey)
                   JOIN gan USING (o_custkey)
        """,
        "q151_stream_windowed_agg": """
            SELECT date_trunc('hour', ts) AS ts, event_type,
                   round(sum(value), 4) AS sv, count(*) AS n
            FROM events GROUP BY 1, 2
        """,
        "q152_stream_dedup_replay": """
            SELECT DISTINCT user_id, event_type FROM events
        """,
        "q154_stream_session_replay": """
            WITH s AS (SELECT user_id, ts, value,
                              CASE WHEN lag(ts) OVER w IS NULL
                                     OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                                   THEN 1 ELSE 0 END AS new_s
                       FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
                 g AS (SELECT user_id, ts, value,
                              sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid FROM s)
            SELECT min(ts) AS session_start, user_id,
                   count(*) AS n, round(sum(value), 4) AS sv
            FROM g GROUP BY user_id, sid
        """,
        "q153_stream_running_count": """
            SELECT event_type, count(*) AS n FROM events GROUP BY 1
        """,
        "q155_rolling_unaliased_names": """
            SELECT a.event_type, a.ts,
                   round(sum(b.value), 4) AS value,
                   max(b.value) AS m
            FROM events a LEFT JOIN events b
              ON a.event_type = b.event_type
             AND b.ts > a.ts - INTERVAL 2 HOUR AND b.ts <= a.ts
            GROUP BY a.event_type, a.ts, a.event_id
        """,
        "q156_rolling_index_agg": """
            SELECT a.event_type, a.ts,
                   min(b.ts) AS w_start,
                   round(median(b.value), 6) AS md
            FROM events a LEFT JOIN events b
              ON a.event_type = b.event_type
             AND b.ts > a.ts - INTERVAL 4 HOUR AND b.ts <= a.ts
            GROUP BY a.event_type, a.ts, a.event_id
        """,
        "q157_rolling_minmax_kernel": """
            SELECT a.event_type, a.ts,
                   min(b.value) AS mn, max(b.value) AS mx,
                   round(sum(b.value), 4) AS sm,
                   min(b.ts) AS w_start,
                   count(b.value) AS c, count(b.event_id) AS n
            FROM events a LEFT JOIN events b
              ON a.event_type = b.event_type
             AND b.ts >= a.ts - INTERVAL 3 HOUR AND b.ts <= a.ts
            GROUP BY a.event_type, a.ts, a.event_id
        """,
        "q158_rolling_calendar_kernel": """
            SELECT a.event_type, a.ts,
                   min(b.value) AS mn, max(b.value) AS mx,
                   round(sum(b.value), 4) AS sm,
                   count(b.event_id) AS n
            FROM events a LEFT JOIN events b
              ON a.event_type = b.event_type
             AND b.ts > a.ts - INTERVAL 1 MONTH AND b.ts <= a.ts
            GROUP BY a.event_type, a.ts, a.event_id
        """,
        "q159_rolling_median_kernel": """
            SELECT a.event_type, a.ts,
                   round(median(b.value), 6) AS md,
                   round(quantile_cont(b.value, 0.25), 6) AS q25,
                   min(b.value) AS mn,
                   count(b.event_id) AS n
            FROM events a LEFT JOIN events b
              ON a.event_type = b.event_type
             AND b.ts > a.ts - INTERVAL 4 HOUR AND b.ts <= a.ts
            GROUP BY a.event_type, a.ts, a.event_id
        """,
        "q160_rolling_moments_kernel": """
            WITH w AS (
                SELECT a.event_type, a.ts, a.event_id,
                       count(b.value) AS n,
                       sum(b.value) AS s1, sum(b.value * b.value) AS s2,
                       sum(b.value * b.value * b.value) AS s3,
                       sum(b.value * b.value * b.value * b.value) AS s4,
                       stddev_samp(b.value) AS sd_n,
                       var_pop(b.value) AS vp_n,
                       min(b.value) AS mn
                FROM events a LEFT JOIN events b
                  ON a.event_type = b.event_type
                 AND b.ts > a.ts - INTERVAL 3 HOUR AND b.ts <= a.ts
                GROUP BY a.event_type, a.ts, a.event_id
            ), m AS (
                SELECT event_type, ts, n, sd_n, vp_n, mn,
                       s1 / n AS mu,
                       s2 / n - (s1 / n) * (s1 / n) AS m2,
                       s3 / n - 3 * (s1 / n) * s2 / n
                           + 2 * (s1 / n) ^ 3 AS m3,
                       s4 / n - 4 * (s1 / n) * s3 / n
                           + 6 * (s1 / n) ^ 2 * s2 / n
                           - 3 * (s1 / n) ^ 4 AS m4
                FROM w
            )
            SELECT event_type, ts,
                   round(sd_n, 5) AS sd,
                   round(sqrt(vp_n + 1), 5) AS vp,
                   round(CASE WHEN m2 > 1e-9 THEN m3 / m2 ^ 1.5 END, 5)
                       AS sk,
                   round(CASE WHEN m2 > 1e-9
                              THEN sqrt(m4 / (m2 * m2)) END, 5) AS ku,
                   mn
            FROM m
        """,
        "q168_rank_random": """
            WITH s AS (
                SELECT CASE WHEN value > 100 THEN round(value, 0) END
                           AS vb
                FROM events
            ), g AS (
                SELECT vb, CAST(count(*) AS BIGINT) AS cnt
                FROM s WHERE vb IS NOT NULL GROUP BY vb
            ), p AS (
                SELECT vb, cnt,
                       CAST(coalesce(sum(cnt) OVER (ORDER BY vb
                            ROWS BETWEEN UNBOUNDED PRECEDING AND
                            1 PRECEDING), 0) AS BIGINT) AS bef
                FROM g
            )
            SELECT vb, cnt,
                   bef + 1 AS min_r,
                   bef + cnt AS max_r,
                   CAST((2 * bef + cnt + 1) * cnt // 2 AS BIGINT) AS sum_r
            FROM p
        """,
        "q167_hook_composed_binaries": """
            WITH s AS (
                SELECT event_id, ts, value,
                       CASE WHEN value > 100 THEN value END AS vn,
                       CAST(row_number() OVER (ORDER BY ts, event_id)
                            AS DOUBLE) AS rn
                FROM events
            ), f AS (
                SELECT event_id, value, vn,
                       last_value(vn IGNORE NULLS) OVER wp AS pv,
                       first_value(vn IGNORE NULLS) OVER wf AS nv,
                       last_value(CASE WHEN vn IS NOT NULL THEN rn END
                                  IGNORE NULLS) OVER wp AS pr,
                       first_value(CASE WHEN vn IS NOT NULL THEN rn END
                                   IGNORE NULLS) OVER wf AS nr,
                       rn,
                       lag(value) OVER w AS pvl
                FROM s
                WINDOW w AS (ORDER BY ts, event_id),
                       wp AS (ORDER BY ts, event_id ROWS BETWEEN
                              UNBOUNDED PRECEDING AND CURRENT ROW),
                       wf AS (ORDER BY ts, event_id ROWS BETWEEN
                              CURRENT ROW AND UNBOUNDED FOLLOWING)
            ), g AS (
                SELECT event_id, value, vn, pv, nv, rn, pvl,
                       CASE WHEN vn IS NOT NULL THEN vn
                            WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
                              pv + (nv - pv) * (rn - pr) / (nr - pr)
                       END AS li
                FROM f
            )
            SELECT event_id, vn,
                   li + li AS ii,
                   pv - nv AS fb,
                   (value - pvl) * value AS dv,
                   nv * value AS bv,
                   CASE WHEN vn IS NULL THEN pv ELSE vn * 2 END AS cw,
                   COALESCE(li, value) AS nc,
                   LEAST(pv, value) AS nh
            FROM g
        """,
        "q166_ungrouped_fills_lag_attach": """
            WITH s AS (
                SELECT event_id, ts,
                       CASE WHEN value > 100 THEN value END AS vn,
                       CAST(row_number() OVER (ORDER BY ts, event_id)
                            AS DOUBLE) AS rn
                FROM events
            ), f AS (
                SELECT event_id, ts, vn, rn,
                       last_value(vn IGNORE NULLS) OVER wp AS ff,
                       first_value(vn IGNORE NULLS) OVER wf AS bf,
                       last_value(CASE WHEN vn IS NOT NULL THEN rn END
                                  IGNORE NULLS) OVER wp AS pr0,
                       first_value(CASE WHEN vn IS NOT NULL THEN rn END
                                   IGNORE NULLS) OVER wf AS nr0,
                       vn - lag(vn) OVER w AS df0,
                       CASE WHEN vn IS NOT NULL THEN vn ELSE
                         last_value(vn IGNORE NULLS) OVER wp
                         + (first_value(vn IGNORE NULLS) OVER wf
                            - last_value(vn IGNORE NULLS) OVER wp)
                         * (rn - last_value(CASE WHEN vn IS NOT NULL
                                            THEN rn END IGNORE NULLS)
                                 OVER wp)
                         / (first_value(CASE WHEN vn IS NOT NULL THEN rn
                                        END IGNORE NULLS) OVER wf
                            - last_value(CASE WHEN vn IS NOT NULL THEN rn
                                         END IGNORE NULLS) OVER wp)
                       END AS li0
                FROM s
                WINDOW w AS (ORDER BY ts, event_id),
                       wp AS (ORDER BY ts, event_id ROWS BETWEEN
                              UNBOUNDED PRECEDING AND CURRENT ROW),
                       wf AS (ORDER BY ts, event_id ROWS BETWEEN
                              CURRENT ROW AND UNBOUNDED FOLLOWING)
            ), g AS (
                -- pct_change forward-fills BEFORE differencing (polars
                -- expr.rb:2810 semantics; round-11) — ff is the filled
                -- series, one more window level since DuckDB cannot nest
                SELECT f.*,
                       (ff - lag(ff) OVER w2) / lag(ff) OVER w2 * 100
                           AS pc0
                FROM f
                WINDOW w2 AS (ORDER BY ts, event_id)
            )
            SELECT event_id, vn, ff, bf,
                   CASE WHEN rn - pr0 <= 3 THEN ff END AS f3,
                   CASE WHEN nr0 - rn <= 2 THEN bf END AS b2,
                   round(df0, 4) AS df, round(pc0, 4) AS pc,
                   round(ln(li0 + sqrt(li0 * li0 + 1)), 5) AS li
            FROM g
        """,
        "q165_ungrouped_rank_attach": """
            WITH s AS (
                SELECT event_id, ts, round(value, 0) AS vb
                FROM events
            )
            SELECT event_id, vb,
                   CASE WHEN vb IS NOT NULL THEN
                     (rank() OVER wa * 2 + count(*) OVER pv - 1) / 2.0
                   END AS r_avg,
                   CASE WHEN vb IS NOT NULL THEN rank() OVER wa
                   END AS r_min,
                   CASE WHEN vb IS NOT NULL THEN
                     rank() OVER wa + count(*) OVER pv - 1
                   END AS r_max,
                   CASE WHEN vb IS NOT NULL THEN dense_rank() OVER wa
                   END AS r_dn,
                   CASE WHEN vb IS NOT NULL THEN row_number() OVER wo
                   END AS r_od,
                   CASE WHEN vb IS NOT NULL THEN
                     (rank() OVER wd * 2 + count(*) OVER pv - 1) / 2.0
                   END AS r_dv
            FROM s
            WINDOW
              wa AS (ORDER BY vb ASC NULLS LAST),
              wd AS (ORDER BY vb DESC NULLS LAST),
              wo AS (ORDER BY vb ASC NULLS LAST, ts ASC, event_id ASC),
              pv AS (PARTITION BY vb)
        """,
        "q164_rolling_rowcount_kernel": """
            WITH s AS (
                SELECT event_id, ts, value,
                       count(value) OVER w500 AS c500,
                       median(value) OVER w500 AS md0,
                       min(value) OVER w500 AS mn0,
                       count(value) OVER w200 AS c200,
                       sum(value) OVER w200 AS sm0,
                       count(value) OVER wc AS cc,
                       stddev_samp(value) OVER wc AS sd0
                FROM events
                WINDOW
                  w500 AS (ORDER BY ts, event_id
                           ROWS BETWEEN 500 PRECEDING AND CURRENT ROW),
                  w200 AS (ORDER BY ts, event_id
                           ROWS BETWEEN 199 PRECEDING AND CURRENT ROW),
                  wc AS (ORDER BY ts, event_id
                         ROWS BETWEEN 150 PRECEDING AND 150 FOLLOWING)
            )
            SELECT event_id, ts,
                   round(CASE WHEN c500 >= 501 THEN md0 END, 6) AS md,
                   CASE WHEN c500 >= 501 THEN mn0 END AS mn,
                   round(CASE WHEN c200 >= 50 THEN sm0 END, 4) AS sm,
                   round(CASE WHEN cc >= 301 THEN sd0 END, 5) AS sd
            FROM s
        """,
        "q163_rolling_by_kernel_attach": """
            SELECT a.event_id, a.event_type, a.ts,
                   round(median(b.value), 6) AS md,
                   round(quantile_cont(b.value, 0.75), 6) AS q75,
                   round(stddev_samp(b.value), 5) AS sd,
                   min(b.value) AS mn
            FROM events a LEFT JOIN events b
              ON a.event_type = b.event_type
             AND b.ts > a.ts - INTERVAL 2 HOUR AND b.ts <= a.ts
            GROUP BY a.event_type, a.ts, a.event_id
        """,
        "q162_rolling_corr_cov_kernel": """
            WITH w AS (
                SELECT a.event_type, a.ts,
                       corr(b.value, b.user_id) AS c,
                       covar_samp(b.value, b.user_id) AS cs0,
                       covar_pop(b.value, b.user_id) AS cp0,
                       count(b.event_id) AS n
                FROM events a LEFT JOIN events b
                  ON a.event_type = b.event_type
                 AND b.ts > a.ts - INTERVAL 2 HOUR AND b.ts <= a.ts
                GROUP BY a.event_type, a.ts, a.event_id
            )
            SELECT event_type, ts, round(c, 6) AS c,
                   round(ln(cs0 + sqrt(cs0 * cs0 + 1)), 3) AS cs,
                   round(ln(cp0 + sqrt(cp0 * cp0 + 1)), 3) AS cp,
                   n
            FROM w
        """,
        "q161_rolling_wrapped_kernel": """
            SELECT a.event_type, a.ts,
                   max(b.value) - min(b.value) AS rng,
                   round(quantile_cont(b.value, 0.9) * 2 + 1, 6) AS q2,
                   round(sum(b.value), 4) AS sm,
                   count(a.event_id) AS n
            FROM events a LEFT JOIN events b
              ON a.event_type = b.event_type
             AND b.ts > a.ts - INTERVAL 2 HOUR AND b.ts <= a.ts
            GROUP BY a.event_type, a.ts, a.event_id
        """,
        "q150_list_eval_positional": """
            SELECT vec_id,
                   round(unnest(list_transform(range(1, len(embedding) + 1),
                         i -> embedding[i] - embedding[i - 1])), 6) AS d,
                   round(unnest(list_transform(range(1, len(embedding) + 1),
                         i -> embedding[i] * 2
                              + (embedding[i] - embedding[i - 1]))), 6) AS z
            FROM embeddings
        """,
        "q149_filter_elements_agg": """
            WITH s AS (SELECT o_custkey, o_orderkey, o_totalprice,
                              row_number() OVER (ORDER BY o_orderdate,
                                                 o_orderkey) AS rid
                       FROM orders),
                 w AS (SELECT s.*,
                              lag(o_totalprice) OVER (
                                  PARTITION BY o_custkey
                                  ORDER BY rid) AS lv
                       FROM s),
                 a AS (SELECT o_custkey,
                              count(*) FILTER (
                                  WHERE o_totalprice > 150000.0) AS n,
                              round(arg_min(o_totalprice, rid) FILTER (
                                  WHERE o_totalprice > 150000.0), 4) AS f,
                              round(arg_max(o_totalprice, rid) FILTER (
                                  WHERE o_totalprice > 150000.0), 4) AS l,
                              round(coalesce(sum(lv) FILTER (
                                  WHERE o_totalprice > 150000.0), 0),
                                  4) AS ts
                       FROM w GROUP BY o_custkey)
            SELECT a.o_custkey, m.o_orderkey AS ks, a.n, a.f, a.l, a.ts
            FROM a LEFT JOIN (SELECT o_custkey, o_orderkey FROM s
                              WHERE o_totalprice > 150000.0) m
                 USING (o_custkey)
        """,
        "q148_gapped_index_positions": """
            WITH s AS (SELECT o_custkey, o_orderkey, o_totalprice,
                              o_orderstatus,
                              row_number() OVER (ORDER BY o_orderdate,
                                                 o_orderkey) AS rid,
                              round(lag(o_totalprice) OVER (
                                  PARTITION BY o_orderstatus
                                  ORDER BY o_orderdate, o_orderkey),
                                  4) AS pv
                       FROM orders),
                 f AS (SELECT o_custkey, o_orderkey, rid, pv, o_totalprice,
                              row_number() OVER (PARTITION BY o_custkey
                                                 ORDER BY rid) - 1 AS pos,
                              count(*) OVER (PARTITION BY o_custkey)
                                  AS gn,
                              max(o_totalprice) OVER (
                                  PARTITION BY o_custkey) AS gmax
                       FROM s WHERE o_totalprice > 50000.0),
                 e AS (SELECT f.*,
                              min(CASE WHEN o_totalprice = gmax
                                  THEN pos END) OVER (
                                  PARTITION BY o_custkey) AS amx
                       FROM f)
            SELECT e.o_custkey, e.o_orderkey,
                   round(r.o_totalprice, 4) AS rv,
                   e.pv, e.amx
            FROM e JOIN e r ON r.o_custkey = e.o_custkey
                           AND r.pos = e.gn - 1 - e.pos
        """,
        "q139_jpeg_decode": """
            SELECT doc_id,
                   CAST(16 AS DOUBLE) AS w, CAST(16 AS DOUBLE) AS h,
                   CAST(1 AS DOUBLE) AS c,
                   CAST(doc_id % 200 + 15 AS DOUBLE) AS mean_px
            FROM documents WHERE doc_id < 64
        """,
        "q138_cumulative_eval_grouped": """
            -- UNROUNDED: integer-cent sums divide to the same double in
            -- both engines (a 4dp round hit an exact decimal tie at
            -- sf0.1 where Spark and DuckDB round modes disagree)
            WITH o AS (SELECT o_orderkey, o_orderstatus, o_totalprice
                       FROM orders ORDER BY o_orderkey LIMIT 3000)
            SELECT o_orderkey, o_orderstatus,
                   avg(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                       OVER w AS cmean,
                   max(o_totalprice) OVER w
                       - first_value(o_totalprice) OVER w AS cspread
            FROM o
            WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_orderkey
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        """,
        "q108_cumulative_eval": """
            WITH o AS (SELECT o_totalprice,
                              row_number() OVER (ORDER BY o_orderkey) AS rn
                       FROM orders ORDER BY o_orderkey LIMIT 2000)
            SELECT max(o_totalprice)
                     OVER (ORDER BY rn ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 - min(o_totalprice)
                     OVER (ORDER BY rn ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS spread
            FROM o
        """,
        "q109_struct_roundtrip": """
            SELECT n_name, n_nationkey AS k, n_regionkey AS r FROM nation
        """,
        "q107_global_ordinals": """
            WITH o AS (SELECT l_orderkey, l_linenumber, l_quantity,
                              l_extendedprice,
                              row_number() OVER (ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice) - 1 AS rn,
                              count(*) OVER () AS n
                       FROM lineitem)
            SELECT a.l_orderkey, a.l_linenumber,
                   sum(CAST(a.l_quantity AS BIGINT))
                     OVER (ORDER BY a.rn ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS run_qty,
                   max(a.l_extendedprice)
                     OVER (ORDER BY a.rn ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS run_max,
                   b.l_orderkey AS rev_key
            FROM o a JOIN o b ON b.rn = a.n - 1 - a.rn
        """,
        "q103_bool_nan_aggs": """
            WITH d AS (
              SELECT l_returnflag, l_quantity > 25 AS big,
                     CASE WHEN l_linenumber = 3 THEN 'nan'::DOUBLE
                          ELSE l_discount END AS dn,
                     CASE WHEN l_linenumber = 2 THEN NULL ELSE l_tax END AS tn
              FROM lineitem)
            SELECT l_returnflag,
                   bool_or(big) AS any_big,
                   bool_and(big) AS all_big,
                   CASE WHEN bool_or(isnan(dn)) THEN 'nan'::DOUBLE
                        ELSE max(dn) END AS nmax,
                   CASE WHEN bool_or(isnan(dn)) THEN 'nan'::DOUBLE
                        ELSE min(dn) END AS nmin,
                   count(*) - count(tn) AS nnull
            FROM d GROUP BY l_returnflag
        """,
        "q104_replace_mapping": """
            SELECT n_nationkey,
                   CASE n_name WHEN 'FRANCE' THEN 'FR'
                               WHEN 'GERMANY' THEN 'DE'
                               ELSE n_name END AS abbr,
                   CASE n_regionkey WHEN 0 THEN 'africa'
                                    WHEN 1 THEN 'america'
                                    ELSE 'other' END AS region_cls
            FROM nation
        """,
        "q105_join_nulls": """
            WITH o AS (SELECT o_orderkey,
                              CASE WHEN o_custkey % 7 = 0 THEN NULL
                                   ELSE o_custkey END AS k
                       FROM orders),
                 r AS (SELECT DISTINCT k FROM o),
                 r2 AS (SELECT k, k % 3 AS cls FROM r),
                 j AS (SELECT o.o_orderkey, r2.cls FROM o
                       JOIN r2 ON o.k IS NOT DISTINCT FROM r2.k)
            SELECT cls, count(*) AS n FROM j GROUP BY cls
        """,
        "q101_corr_cov": """
            WITH r AS (
              SELECT l_quantity, l_extendedprice,
                     rank() OVER (ORDER BY l_quantity)
                       + (count(*) OVER (PARTITION BY l_quantity) - 1) / 2.0 AS rq,
                     rank() OVER (ORDER BY l_extendedprice)
                       + (count(*) OVER (PARTITION BY l_extendedprice) - 1) / 2.0 AS rp
              FROM lineitem)
            SELECT round(corr(l_quantity, l_extendedprice), 6) AS pearson,
                   round(corr(rq, rp), 6) AS spearman,
                   round(covar_samp(l_quantity, l_extendedprice), 4) AS cov
            FROM r
        """,
        "q102_arg_ops": """
            WITH o AS (SELECT o_totalprice,
                              row_number() OVER (ORDER BY o_orderkey) - 1 AS ri
                       FROM orders),
                 amm AS (SELECT (SELECT ri FROM o ORDER BY o_totalprice, ri
                                 LIMIT 1) AS amin,
                                (SELECT ri FROM o ORDER BY o_totalprice DESC, ri
                                 LIMIT 1) AS amax),
                 top AS (SELECT ri AS idx,
                                row_number() OVER (ORDER BY o_totalprice, ri) - 1
                                  AS rank
                         FROM o ORDER BY o_totalprice, ri LIMIT 5)
            SELECT amin, amax, rank, idx FROM top CROSS JOIN amm
        """,
        "q100_shard_assign": """
            SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                        % 16 AS INT) AS shard,
                   count(*) AS n
            FROM documents GROUP BY 1
        """,
        "q99_semantic_dedup": """
            WITH RECURSIVE
              pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
                        FROM embeddings a JOIN embeddings b
                          ON a.vec_id < b.vec_id
                        WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                     CAST(b.embedding AS DOUBLE[]))
                              >= 0.4),
              edges AS (SELECT id_a AS u, id_b AS v FROM pairs
                        UNION SELECT id_b, id_a FROM pairs),
              reach AS (SELECT u AS id, u AS label FROM edges
                        UNION
                        SELECT e.u AS id, r.label FROM edges e
                        JOIN reach r ON r.id = e.v),
              cc AS (SELECT id, MIN(label) AS canonical FROM reach GROUP BY id)
            SELECT e.vec_id, 0 AS cluster_id,
                   COALESCE(cc.canonical, e.vec_id) AS canonical_id,
                   COALESCE(cc.canonical, e.vec_id) <> e.vec_id AS is_duplicate
            FROM embeddings e LEFT JOIN cc ON cc.id = e.vec_id
        """,
        "q96_vocab_encode": """
            WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS t
                         FROM documents),
                 flat AS (SELECT doc_id, unnest(t) AS token,
                                 unnest(range(1, len(t)+1)) AS pos FROM tok),
                 counts AS (SELECT token, count(*) AS c FROM flat
                            WHERE token <> '' GROUP BY token),
                 vocab AS (SELECT token,
                                  CAST(row_number() OVER (ORDER BY c DESC, token) - 1
                                       AS BIGINT) AS tid
                           FROM counts ORDER BY c DESC, token LIMIT 50)
            SELECT doc_id,
                   array_to_string(list(COALESCE(tid, -1) ORDER BY pos), ',') AS token_ids
            FROM flat LEFT JOIN vocab USING (token) GROUP BY doc_id
        """,
        "q97_source_overlap": f"""
            WITH t AS (SELECT source, string_split(lower(text), ' ') AS t
                       FROM documents),
                 g0 AS (SELECT source, unnest({_shingle_sql('t')}) AS gram FROM t),
                 g AS (SELECT DISTINCT source, md5(gram) AS gh FROM g0),
                 sz AS (SELECT source, count(*) AS n FROM g GROUP BY source)
            SELECT a.source AS source_a, b.source AS source_b,
                   sa.n AS n_a, sb.n AS n_b, count(*) AS n_common,
                   round(count(*) / (sa.n + sb.n - count(*)), 4) AS jaccard
            FROM g a JOIN g b ON a.gh = b.gh AND a.source < b.source
            JOIN sz sa ON sa.source = a.source
            JOIN sz sb ON sb.source = b.source
            GROUP BY a.source, b.source, sa.n, sb.n
        """,
        "q98_label_centroids": """
            WITH flat AS (SELECT label, unnest(embedding) AS v,
                                 unnest(range(0, len(embedding))) AS dim
                          FROM embeddings),
                 pd AS (SELECT label, dim, round(avg(v), 4) AS m,
                               count(*) AS n
                        FROM flat GROUP BY label, dim),
                 nr AS (SELECT label,
                               sqrt(list_aggregate(list_transform(embedding,
                                    x -> CAST(x AS DOUBLE) * x), 'sum')) AS nrm
                        FROM embeddings),
                 mn AS (SELECT label, round(avg(nrm), 4) AS mean_norm
                        FROM nr GROUP BY label)
            SELECT pd.label, CAST(pd.n AS BIGINT) AS n,
                   CAST(pd.dim AS BIGINT) AS dim, pd.m AS m, mn.mean_norm
            FROM pd JOIN mn USING (label)
        """,
        "q84_hash_sample": """
            SELECT doc_id, lang, source FROM documents
            WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000
                  < (CASE source WHEN 'src0' THEN 0.5
                                 WHEN 'src1' THEN 0.25
                                 ELSE 0.1 END) * 10000
        """,
        "q85_profile": """
            SELECT 'doc_id' AS col_name,
                   sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS n_nulls,
                   count(DISTINCT doc_id) AS n_distinct,
                   CAST(min(doc_id) AS DOUBLE) AS min_num,
                   CAST(max(doc_id) AS DOUBLE) AS max_num,
                   round(avg(doc_id), 4) AS mean,
                   round(quantile_cont(doc_id, 0.5), 4) AS p50,
                   CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
            FROM documents
            UNION ALL
            SELECT 'n_chars',
                   sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END),
                   count(DISTINCT n_chars),
                   CAST(min(n_chars) AS DOUBLE), CAST(max(n_chars) AS DOUBLE),
                   round(avg(n_chars), 4), round(quantile_cont(n_chars, 0.5), 4),
                   NULL, NULL
            FROM documents
            UNION ALL
            SELECT 'lang', sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END),
                   count(DISTINCT lang), NULL, NULL, NULL, NULL,
                   min(lang), max(lang)
            FROM documents
            UNION ALL
            SELECT 'source', sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END),
                   count(DISTINCT source), NULL, NULL, NULL, NULL,
                   min(source), max(source)
            FROM documents
        """,
        "q86_pack_shards": """
            WITH t AS (SELECT doc_id,
                              len(string_split(lower(text), ' ')) AS n_tokens
                       FROM documents),
                 c AS (SELECT doc_id, n_tokens,
                              sum(n_tokens) OVER (ORDER BY doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                                AS cum
                       FROM t)
            SELECT doc_id, n_tokens,
                   (cum - n_tokens) // 512 AS shard_id,
                   (cum - n_tokens) % 512 AS shard_offset
            FROM c
        """,
        "q87_decontaminate": f"""
            WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
                 sh AS (SELECT doc_id, {_shingle_sql('t')} AS s FROM toks),
                 be AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id < 10),
                 tr AS (SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id >= 10),
                 hits AS (SELECT DISTINCT tr.doc_id FROM tr JOIN be USING (g))
            SELECT s.doc_id, h.doc_id IS NOT NULL AS contaminated
            FROM (SELECT doc_id FROM documents WHERE doc_id >= 10) s
            LEFT JOIN hits h ON s.doc_id = h.doc_id
        """,
        "q42_ngram_jaccard": f"""
            WITH toks AS (SELECT doc_id, text, string_split(lower(text), ' ') AS t FROM documents),
                 sh AS (SELECT doc_id, list_distinct({_shingle_sql('t')}) AS s FROM toks),
                 p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.s AS sa, b.s AS sb
                       FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1)
            SELECT id_a, id_b,
                   CASE WHEN len(list_distinct(list_concat(sa, sb))) > 0 THEN
                     round(CAST(len(list_intersect(sa, sb)) AS DOUBLE)
                           / len(list_distinct(list_concat(sa, sb))), 4)
                   ELSE 0.0 END AS jaccard
            FROM p
        """,
        "q43_ann_cosine": """
            WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 20),
                 c AS (SELECT vec_id AS nid, embedding AS cv FROM embeddings),
                 s AS (SELECT qid AS query_id, nid AS neighbor_id,
                        list_aggregate(list_transform(list_zip(qv, cv),
                          p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum')
                        / (sqrt(list_aggregate(list_transform(qv,
                             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
                         * sqrt(list_aggregate(list_transform(cv,
                             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))) AS cosine
                       FROM q, c WHERE nid <> qid)
            SELECT query_id, rank, neighbor_id FROM (
              SELECT query_id, neighbor_id,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY cosine DESC, neighbor_id) AS rank
              FROM s) WHERE rank <= 5
        """,
        "q79_ivf_ann": """
            WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 20),
                 c AS (SELECT vec_id AS nid, embedding AS cv FROM embeddings),
                 s AS (SELECT qid AS query_id, nid AS neighbor_id,
                        list_aggregate(list_transform(list_zip(qv, cv),
                          p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum')
                        / (sqrt(list_aggregate(list_transform(qv,
                             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
                         * sqrt(list_aggregate(list_transform(cv,
                             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))) AS cosine
                       FROM q, c WHERE nid <> qid)
            SELECT query_id, rank, neighbor_id FROM (
              SELECT query_id, neighbor_id,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY cosine DESC, neighbor_id) AS rank
              FROM s) WHERE rank <= 5
        """,
        "q44_lang_id": f"""
            WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS tok FROM documents),
                 sc AS (SELECT doc_id,
                          len(list_filter(tok, x -> x IN ({_stop_in('en')}))) AS se,
                          len(list_filter(tok, x -> x IN ({_stop_in('de')}))) AS sd,
                          len(list_filter(tok, x -> x IN ({_stop_in('fr')}))) AS sf,
                          len(list_filter(tok, x -> x IN ({_stop_in('es')}))) AS ss
                        FROM t)
            SELECT doc_id,
                   CASE WHEN se >= sd AND se >= sf AND se >= ss THEN 'en'
                        WHEN sd >= sf AND sd >= ss THEN 'de'
                        WHEN sf >= ss THEN 'fr'
                        ELSE 'es' END AS lang_pred
            FROM sc
        """,
        "q45_quality": f"""
            WITH t AS (SELECT doc_id, text, string_split(lower(text), ' ') AS tok FROM documents),
                 m AS (SELECT doc_id,
                          len(tok) AS n_tokens,
                          CAST(len(list_filter(tok, x -> x IN ({_stop_in('en')}))) AS DOUBLE)
                            / len(tok) AS sr,
                          CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE)
                            / length(text) AS pr
                        FROM t)
            SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
                   round(sr, 4) AS stop_ratio,
                   round(0.4 * least(n_tokens / 100.0, 1.0) + 0.4 * sr + 0.2 * (1.0 - pr), 4)
                     AS quality
            FROM m
        """,
        "q46_token_count": r"""
            SELECT doc_id,
                   CAST(len(string_split(lower(text), ' ')) AS INT) AS ws_tokens,
                   CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INT)
                     AS re_tokens
            FROM documents
        """,
        "q47_fingerprint": """
            SELECT doc_id,
                   md5(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' '))
                     AS fingerprint
            FROM documents
        """,
        "q48_multimodal": """
            SELECT doc_id,
                   CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                   CAST(octet_length(encode(text)) % 251 AS DOUBLE) AS f0,
                   CAST(ascii(substr(text, 1, 1)) AS DOUBLE) AS f1,
                   CAST(ascii(substr(text, length(text), 1)) AS DOUBLE) AS f2,
                   CAST((octet_length(encode(text)) * 31 + ascii(substr(text, 1, 1))) % 997 AS DOUBLE)
                     AS f3
            FROM documents
        """,
        "q50_lsh_ann": """
            WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 20),
                 c AS (SELECT vec_id AS nid, embedding AS cv FROM embeddings),
                 s AS (SELECT qid AS query_id, nid AS neighbor_id,
                        list_aggregate(list_transform(list_zip(qv, cv),
                          p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum')
                        / (sqrt(list_aggregate(list_transform(qv,
                             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
                         * sqrt(list_aggregate(list_transform(cv,
                             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))) AS cosine
                       FROM q, c WHERE nid <> qid)
            SELECT query_id, rank, neighbor_id FROM (
              SELECT query_id, neighbor_id,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY cosine DESC, neighbor_id) AS rank
              FROM s) WHERE rank <= 5
        """,
    }
    return {
        **ext,
        "q01_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
                   round(avg(l_quantity), 4) AS avg_qty,
                   round(avg(l_extendedprice), 4) AS avg_price,
                   round(avg(l_discount), 4) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "q02_project_arithmetic": """
            SELECT l_orderkey, l_linenumber,
                   round(l_extendedprice * (1 - l_discount), 4) AS net,
                   l_returnflag IN ('A', 'N') AS flag_an,
                   l_quantity BETWEEN 10 AND 20 AS qty_mid,
                   CASE WHEN l_discount > 0.05 THEN 'hi'
                        WHEN l_discount > 0.02 THEN 'mid'
                        ELSE 'lo' END AS disc_band
            FROM lineitem
        """,
        "q03_top_k": """
            SELECT o_orderkey, o_custkey, o_totalprice
            FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
        """,
        "q04_join_inner_agg": """
            SELECT c_mktsegment, count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS revenue
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment
        """,
        "q05_join_left": """
            SELECT c_custkey, count(o_orderkey) AS n_orders
            FROM customer LEFT JOIN orders ON c_custkey = o_custkey
            GROUP BY c_custkey
        """,
        "q06_join_semi": """
            SELECT c_custkey, c_mktsegment FROM customer
            WHERE c_custkey IN (SELECT o_custkey FROM orders)
        """,
        "q07_join_anti": """
            SELECT c_custkey, c_acctbal FROM customer
            WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
        """,
        "q08_join_full": """
            WITH s AS (SELECT s_nationkey, count(*) AS n_sup FROM supplier GROUP BY s_nationkey),
                 c AS (SELECT c_nationkey, count(*) AS n_cust FROM customer GROUP BY c_nationkey)
            SELECT s.s_nationkey, s.n_sup, c.c_nationkey, c.n_cust
            FROM s FULL OUTER JOIN c ON s.s_nationkey = c.c_nationkey
        """,
        "q09_join_cross": """
            SELECT r_name, n_name FROM region CROSS JOIN nation
        """,
        "q10_join_asof": """
            WITH p AS (SELECT user_id, ts, max(value) AS pval FROM events
                       WHERE event_type = 'purchase' GROUP BY user_id, ts),
                 c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click')
            SELECT c.event_id, c.user_id, p.pval
            FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts
        """,
        "q11_window_rank": """
            SELECT o_orderkey, o_orderstatus, rnk, drnk FROM (
              SELECT o_orderkey, o_orderstatus,
                     rank() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC) AS rnk,
                     dense_rank() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC) AS drnk
              FROM orders) WHERE rnk <= 20
        """,
        "q12_lag_diff": """
            SELECT event_id, user_id,
                   round(value - lag(value) OVER
                         (PARTITION BY user_id ORDER BY ts, event_id), 4) AS dv
            FROM events
        """,
        "q13_cum_sum": """
            SELECT event_id, user_id,
                   round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS cv
            FROM events
        """,
        "q14_rolling_1h": """
            SELECT event_id, user_id,
                   round(avg(value) OVER (PARTITION BY user_id ORDER BY ts
                         RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW), 4) AS rv
            FROM events
        """,
        "q15_dynamic_1h": """
            SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS ts,
                   count(*) AS n, round(sum(value), 2) AS sv
            FROM events GROUP BY event_type, time_bucket(INTERVAL '1 hour', ts)
        """,
        "q16_str_funcs": """
            SELECT doc_id,
                   upper(substr(text, 1, 20)) AS head_upper,
                   length(text) AS n_chars2,
                   contains(text, 'spark') AS has_spark,
                   regexp_extract(text, '^(\\w+)', 1) AS first_word,
                   len(string_split(text, ' ')) AS n_tokens
            FROM documents
        """,
        "q17_dt_funcs": """
            SELECT o_orderkey,
                   CAST(year(o_orderdate) AS INT) AS y,
                   CAST(month(o_orderdate) AS INT) AS m,
                   CAST(day(o_orderdate) AS INT) AS d,
                   CAST(quarter(o_orderdate) AS INT) AS q,
                   CAST(isodow(o_orderdate) AS INT) AS wd,
                   CAST(dayofyear(o_orderdate) AS INT) AS doy,
                   CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
                   CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s
            FROM orders
        """,
        "q18_list_funcs": """
            SELECT vec_id,
                   CAST(len(embedding) AS INT) AS dim,
                   round(CAST(embedding[1] AS DOUBLE), 4) AS first_val,
                   round(CAST(list_max(embedding) AS DOUBLE), 4) AS max_val,
                   round((SELECT sum(CAST(x AS DOUBLE)) FROM unnest(embedding) AS t(x)), 4) AS vec_sum
            FROM embeddings
        """,
        "q19_pivot": """
            SELECT o_orderpriority,
                   count(*) FILTER (o_orderstatus = 'F') AS "F",
                   count(*) FILTER (o_orderstatus = 'O') AS "O",
                   count(*) FILTER (o_orderstatus = 'P') AS "P"
            FROM orders GROUP BY o_orderpriority
        """,
        "q20_unpivot": """
            SELECT l_orderkey, l_linenumber, 'l_quantity' AS variable, l_quantity AS value FROM lineitem
            UNION ALL
            SELECT l_orderkey, l_linenumber, 'l_discount' AS variable, l_discount AS value FROM lineitem
        """,
        "q21_stats": """
            SELECT count(DISTINCT l_orderkey) AS n_orders,
                   count(*) - count(l_quantity) AS nulls_qty,
                   round(min(l_extendedprice), 4) AS min_price,
                   round(max(l_extendedprice), 4) AS max_price,
                   round(stddev_samp(l_extendedprice), 4) AS std_price,
                   round(var_samp(l_extendedprice), 2) AS var_price,
                   round(median(l_extendedprice), 4) AS med_price
            FROM lineitem
        """,
        "q22_quantile": """
            SELECT l_returnflag,
                   round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
                   round(quantile_cont(l_extendedprice, 0.9), 4) AS p90
            FROM lineitem GROUP BY l_returnflag
        """,
        "q23_sql_context": """
            SELECT o_orderpriority, count(*) AS n, round(sum(o_totalprice), 2) AS total
            FROM orders GROUP BY o_orderpriority
        """,
        "q24_unique_first": """
            SELECT o_custkey, o_orderkey FROM (
              SELECT o_custkey, o_orderkey,
                     row_number() OVER (PARTITION BY o_custkey
                                        ORDER BY o_orderdate, o_orderkey) AS rn
              FROM orders) WHERE rn = 1
        """,
        "q25_concat": """
            SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 300000
            UNION ALL
            SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice < 10000
        """,
        "q26_forward_fill": """
            SELECT event_id, user_id,
                   last_value(CASE WHEN value < 5 THEN NULL ELSE value END IGNORE NULLS)
                     OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vf
            FROM events
        """,
        "q27_rle": """
            SELECT event_id,
                   CAST(sum(chg) OVER (ORDER BY event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS BIGINT) AS run_id
            FROM (
              SELECT event_id,
                     CASE WHEN event_type IS DISTINCT FROM
                          lag(event_type) OVER (ORDER BY event_id) THEN 1 ELSE 0 END AS chg
              FROM events)
        """,
        "q28_cut_qcut": """
            WITH b AS (SELECT quantile_cont(l_extendedprice, 0.25) AS b1,
                              quantile_cont(l_extendedprice, 0.50) AS b2,
                              quantile_cont(l_extendedprice, 0.75) AS b3 FROM lineitem)
            SELECT l_orderkey, l_linenumber,
                   CASE WHEN l_quantity <= 10 THEN '(-inf, 10]'
                        WHEN l_quantity <= 30 THEN '(10, 30]'
                        ELSE '(30, inf]' END AS qty_band,
                   CASE WHEN l_extendedprice <= b1 THEN 'q1'
                        WHEN l_extendedprice <= b2 THEN 'q2'
                        WHEN l_extendedprice <= b3 THEN 'q3'
                        ELSE 'q4' END AS price_q
            FROM lineitem, b
        """,
        "q29_value_counts": """
            SELECT event_type, count(*) AS "count" FROM events GROUP BY event_type
        """,
        "q30_to_dummies": """
            SELECT o_orderkey,
                   CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS o_orderstatus_F,
                   CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END AS o_orderstatus_O,
                   CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END AS o_orderstatus_P
            FROM orders
        """,
        "q31_ewm_mean": """
            WITH f AS (SELECT event_id, event_type, value, ts,
                              row_number() OVER (PARTITION BY event_type
                                                 ORDER BY ts, event_id) - 1 AS rn
                       FROM events WHERE event_id <= 60)
            SELECT event_id, event_type,
                   round(sum(value * power(2.0, rn)) OVER w
                         / sum(power(2.0, rn)) OVER w, 4) AS em
            FROM f
            WINDOW w AS (PARTITION BY event_type ORDER BY rn
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        """,
        "q32_interpolate": """
            WITH b AS (SELECT event_id, user_id, ts,
                              CASE WHEN value >= 3 AND value <= 8 THEN NULL ELSE value END AS v,
                              row_number() OVER (PARTITION BY user_id
                                                 ORDER BY ts, event_id) AS rn
                       FROM events),
                 f AS (SELECT event_id, user_id, v, rn,
                              last_value(v IGNORE NULLS) OVER wp AS pv,
                              last_value(CASE WHEN v IS NOT NULL THEN rn END IGNORE NULLS)
                                OVER wp AS pr,
                              first_value(v IGNORE NULLS) OVER wf AS nv,
                              first_value(CASE WHEN v IS NOT NULL THEN rn END IGNORE NULLS)
                                OVER wf AS nr
                       FROM b
                       WINDOW wp AS (PARTITION BY user_id ORDER BY rn
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                              wf AS (PARTITION BY user_id ORDER BY rn
                                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
            SELECT event_id, user_id,
                   round(CASE WHEN v IS NOT NULL THEN v
                              WHEN pv IS NOT NULL AND nv IS NOT NULL
                                THEN pv + (nv - pv) * (rn - pr) / (nr - pr)
                         END, 4) AS vi
            FROM f
        """,
        "q33_horizontal_fold": """
            SELECT l_orderkey, l_linenumber,
                   round(l_quantity + l_tax + l_discount, 4) AS hsum,
                   round(greatest(l_quantity, l_tax, l_discount), 4) AS hmax,
                   round((0.0 + l_quantity * 2) + l_discount * 2, 4) AS folded
            FROM lineitem
        """,
        "q34_struct_ops": """
            SELECT l_quantity, l_orderkey AS packed_key, l_orderkey, l_linenumber
            FROM lineitem
        """,
        "q35_entropy_mode": """
            SELECT round(entropy(event_type), 6) AS type_entropy FROM events
        """,
        "q36_upsample": """
            WITH e AS (SELECT event_type, date_trunc('hour', ts) AS tsh,
                              round(sum(value), 4) AS v
                       FROM events WHERE user_id = 1 GROUP BY 1, 2),
                 bounds AS (SELECT event_type, min(tsh) AS lo, max(tsh) AS hi
                            FROM e GROUP BY 1),
                 grid AS (SELECT event_type,
                                 unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS tsh
                          FROM bounds)
            SELECT g.event_type, g.tsh, e.v
            FROM grid g LEFT JOIN e ON g.event_type = e.event_type AND g.tsh = e.tsh
        """,
        "q37_merge_sorted": """
            SELECT o_orderkey, o_orderdate FROM orders
        """,
        "q38_group_head": """
            SELECT l_orderkey, l_linenumber FROM (
              SELECT l_orderkey, l_linenumber,
                     row_number() OVER (PARTITION BY l_orderkey
                                        ORDER BY l_linenumber) AS rn
              FROM lineitem) WHERE rn <= 2
        """,
        "q51_streaming_window": """
            WITH m AS (SELECT max(ts) AS mx FROM events),
                 w AS (SELECT time_bucket(INTERVAL 1 HOUR, ts) AS ts,
                              count(*) AS n, round(sum(value), 4) AS sv
                       FROM events GROUP BY 1)
            SELECT w.ts, w.n, w.sv FROM w, m
            WHERE w.ts + INTERVAL 1 HOUR <= m.mx - INTERVAL 10 MINUTE
        """,
        "q52_dynamic_sliding": """
            SELECT ws AS _lower_boundary, ws + INTERVAL 2 HOUR AS _upper_boundary,
                   ws AS ts, event_type, count(*) AS n, round(sum(value), 4) AS sv
            FROM (SELECT e.event_type, e.value,
                         time_bucket(INTERVAL 1 HOUR, e.ts) - k.k * INTERVAL 1 HOUR AS ws
                  FROM events e CROSS JOIN (SELECT unnest([0, 1]) AS k) k) t
            GROUP BY ws, event_type
        """,
        "q53_rolling_center": """
            SELECT event_id, user_id,
                   CASE WHEN count(value) OVER w >= 5
                        THEN round(avg(value) OVER w, 4) END AS rm
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)
        """,
        "q54_peaks": """
            SELECT event_id, user_id,
                   value > coalesce(lag(value) OVER w, -1e308)
                     AND value > coalesce(lead(value) OVER w, -1e308) AS pk_hi,
                   value < coalesce(lag(value) OVER w, 1e308)
                     AND value < coalesce(lead(value) OVER w, 1e308) AS pk_lo
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        """,
        "q55_session_windows": """
            WITH s AS (SELECT user_id, ts, value,
                              CASE WHEN lag(ts) OVER w IS NULL
                                     OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                                   THEN 1 ELSE 0 END AS new_s
                       FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
                 g AS (SELECT user_id, ts, value,
                              sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid FROM s)
            SELECT min(ts) AS session_start, user_id,
                   count(*) AS n, round(sum(value), 4) AS sv
            FROM g GROUP BY user_id, sid
        """,
        "q56_map_elements": """
            SELECT event_id, round(value * 2 + 0.5, 4) AS mapped FROM events
        """,
        "q57_concat_diag_horizontal": """
            WITH diag AS (
              SELECT n_nationkey, n_name, NULL::BIGINT AS n_regionkey FROM nation
              UNION ALL
              SELECT n_nationkey, NULL, n_regionkey FROM nation),
            horiz AS (SELECT r_regionkey, upper(r_name) AS upper FROM region)
            SELECT d.n_nationkey, d.n_name, d.n_regionkey, h.upper
            FROM diag d LEFT JOIN horiz h ON d.n_regionkey = h.r_regionkey
        """,
        "q58_ranges": """
            SELECT i AS idx, (DATE '2024-01-01' + i::INT) AS date
            FROM range(0, 30) t(i)
        """,
        "q59_json": """
            SELECT event_id,
                   json_extract_string(props, '$.k')::BIGINT AS k_path,
                   json_extract(props, '$.k')::BIGINT AS k_typed
            FROM events
        """,
        "q60_dt_edge": """
            SELECT event_id,
                   isodow(ts) AS wd,
                   isoyear(ts) AS iy,
                   dayofyear(ts) AS doy,
                   date_trunc('month', ts)::DATE AS mstart,
                   last_day(ts::DATE) AS mend,
                   (ts + INTERVAL 1 MONTH)::DATE AS plus_1mo,
                   floor(epoch(ts))::BIGINT AS epoch_s
            FROM events
        """,
        "q61_str_edge": """
            SELECT p_partkey,
                   lpad(p_partkey::VARCHAR, 8, '0') AS zf,
                   rpad(p_brand, 12, '.') AS pe,
                   CASE WHEN length(p_name) >= 5 THEN right(p_name, 5)
                        ELSE p_name END AS tail5,
                   reverse(p_name) AS rev,
                   string_split(p_name, ' ')[1] AS w0,
                   CASE WHEN starts_with(p_type, 'STANDARD ')
                        THEN substr(p_type, 10) ELSE p_type END AS noprefix,
                   length(p_name) - length(replace(p_name, 'a', '')) AS n_a,
                   lower(hex(p_brand)) AS hexed
            FROM part
        """,
        "q62_list_eval": """
            WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
            SELECT doc_id,
                   list_max(list_transform(toks, x -> length(x))) AS max_len,
                   len(list_distinct(toks)) AS n_uniq,
                   array_to_string(toks[1:3], '-') AS head3,
                   list_contains(toks, 'the') AS has_the,
                   list_sort(toks)[1] AS first_sorted
            FROM t
        """,
        "q63_ordinal": """
            WITH o AS (SELECT o_orderkey,
                              row_number() OVER (ORDER BY o_orderkey) - 1 AS rn,
                              count(*) OVER () AS total
                       FROM orders)
            SELECT o_orderkey, 'slice' AS src FROM o WHERE rn BETWEEN 10 AND 14
            UNION ALL
            SELECT o_orderkey, 'every1000' FROM o WHERE rn % 1000 = 0
            UNION ALL
            SELECT o_orderkey, 'rev_head' FROM o WHERE rn >= total - 5
        """,
        "q64_dynamic_monthly": """
            SELECT date_trunc('month', ts)::TIMESTAMP AS _lower_boundary,
                   date_trunc('month', ts)::TIMESTAMP + INTERVAL 1 MONTH AS _upper_boundary,
                   date_trunc('month', ts)::TIMESTAMP AS ts,
                   event_type, count(*) AS n, round(avg(value), 4) AS av
            FROM events GROUP BY 1, 2, 3, 4
        """,
        "q65_frame_sample": """
            SELECT doc_id, unnest(range(0, greatest(length(text) // 1000 - 1, 0) + 1, 3))
                   AS frame_no
            FROM documents
        """,
        "q66_search_sorted_groupsort": """
            WITH s AS (SELECT o_orderkey, o_orderstatus, o_totalprice,
                              row_number() OVER (PARTITION BY o_orderstatus
                                                 ORDER BY o_orderkey) AS rk
                       FROM orders),
                 arrs AS (SELECT o_orderstatus,
                                 list(o_totalprice ORDER BY o_totalprice DESC) AS arr
                          FROM orders GROUP BY 1)
            SELECT s.o_orderkey,
                   (SELECT count(*) FROM orders WHERE o_totalprice < 100000) AS n_below,
                   round(arr[rk], 2) AS price_sorted_in_status
            FROM s JOIN arrs USING (o_orderstatus)
        """,
        "q67_rolling_fingerprint": """
            SELECT doc_id,
                   list_reduce(
                     list_prepend(0::UBIGINT,
                       list_transform(string_split(lower(text), ' '),
                         x -> ('0x' || substr(md5(x), 1, 8))::UBIGINT)),
                     (a, x) -> (a * 31 + x) % 1000000000000000)::BIGINT AS roll_fp
            FROM documents
        """,
        "q68_topk_salted": """
            SELECT o_orderpriority, o_orderkey, o_totalprice FROM (
              SELECT o_orderpriority, o_orderkey, o_totalprice,
                     row_number() OVER (PARTITION BY o_orderpriority
                                        ORDER BY o_totalprice DESC,
                                                 o_orderkey DESC) AS rn
              FROM orders) WHERE rn <= 3
        """,
        "q71_stream_dedup": """
            SELECT DISTINCT user_id, event_type FROM events
        """,
        "q76_binary_ns": """
            SELECT doc_id,
                   lower(hex(encode(substr(text, 1, 8)))) AS hx,
                   to_base64(encode(substr(text, 1, 8))) AS b64,
                   octet_length(encode(substr(text, 1, 8))) AS nb,
                   starts_with(substr(text, 1, 8), 'T') AS t_start
            FROM documents
        """,
        "q77_horizontal": """
            SELECT l_orderkey, l_linenumber,
                   round(l_quantity + l_discount + l_tax, 4) AS sh,
                   greatest(l_quantity, l_extendedprice) AS mh,
                   least(l_quantity, l_extendedprice) AS nh,
                   round((l_discount + 1) * (l_tax + 1), 6) AS fd
            FROM lineitem
        """,
        "q78_merge_sorted": """
            SELECT o_orderkey, o_orderdate, o_totalprice
            FROM orders ORDER BY o_orderdate
        """,
        "q75_time_dtype": """
            SELECT event_id,
                   (epoch_us(ts) - epoch_us(date_trunc('day', ts))) * 1000 AS tns,
                   (epoch_us(ts) - epoch_us(date_trunc('day', ts))) * 1000 AS tcast,
                   date_trunc('day', ts) + INTERVAL 12 HOUR AS noon
            FROM events
        """,
        "q74_cube": """
            SELECT o_orderstatus, o_orderpriority, count(*) AS n,
                   round(sum(o_totalprice), 2) AS s
            FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        """,
        "q72_agg_slices": """
            SELECT o_orderstatus,
                   array_to_string((list(o_orderkey ORDER BY o_orderkey))[1:3], ',') AS hd,
                   array_to_string(list_slice(list(o_orderkey ORDER BY o_orderkey), -2, -1), ',') AS tl,
                   array_to_string((list(o_orderkey ORDER BY o_orderkey))[2:3], ',') AS sl
            FROM orders GROUP BY o_orderstatus
        """,
        "q73_rle": """
            SELECT count(*)::BIGINT AS len, any_value(o_orderstatus) AS value
            FROM (
              SELECT o_orderkey, o_orderstatus,
                     row_number() OVER (ORDER BY o_orderkey)
                     - row_number() OVER (PARTITION BY o_orderstatus
                                          ORDER BY o_orderkey) AS grp
              FROM orders)
            GROUP BY o_orderstatus, grp
        """,
        "q70_cosine_neardup": """
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                CAST(b.embedding AS DOUBLE[])), 6)
                     AS cosine
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                         CAST(b.embedding AS DOUBLE[])) >= 0.4
        """,
        "q69_dynamic_closed_both": """
            WITH m AS (SELECT event_type, value,
                              date_trunc('minute', ts) AS mt FROM events),
            a AS (
              SELECT event_type, value,
                     time_bucket(INTERVAL 15 MINUTE, mt) AS ws FROM m
              UNION ALL
              SELECT event_type, value, mt - INTERVAL 15 MINUTE AS ws FROM m
              WHERE mt = time_bucket(INTERVAL 15 MINUTE, mt)
            )
            SELECT ws AS ts, event_type, count(*) AS n,
                   round(sum(value), 2) AS sv
            FROM a GROUP BY ws, event_type
        """,
        "q39_dup_flags": """
            SELECT o_orderkey,
                   count(*) OVER (PARTITION BY o_totalprice) > 1 AS dup,
                   count(*) OVER (PARTITION BY o_totalprice) = 1 AS uniq
            FROM orders
        """,
    }

"""Extension operators: dedup, similarity, text analysis, multimodal."""

from __future__ import annotations

import polars_ruby_spark as pl
from polars_ruby_spark.operators import dedup, multimodal, similarity, text
from pyspark.sql import functions as F


def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [(1, "hello  world"), (2, "Hello world"), (3, "different doc")],
        ["doc_id", "text"])
    out = dedup.exact_dedup(df).collect()
    by_id = {r["doc_id"]: r["dup_count"] for r in out}
    assert by_id == {1: 2, 3: 1}  # 1&2 normalize to the same fingerprint


def test_minhash_finds_near_dupes(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    far = "completely unrelated text about spark catalyst optimizer internals here now"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], ["doc_id", "text"])
    pairs = {(r["id_a"], r["id_b"]) for r in
             dedup.minhash_dedup_pairs(df, num_hashes=9, bands=3).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_ngram_jaccard(spark):
    df = spark.createDataFrame(
        [("a b c d e", "a b c d e"), ("a b c d e", "v w x y z")], ["ta", "tb"])
    out = dedup.ngram_jaccard(df, "ta", "tb").collect()
    assert out[0]["jaccard"] == 1.0
    assert out[1]["jaccard"] == 0.0


def test_simhash_near_dupes(spark):
    base = " ".join(f"tok{i}" for i in range(40))
    near = base.replace("tok7", "tokX")
    df = spark.createDataFrame([(1, base), (2, near)], ["doc_id", "text"])
    pairs = {(r["id_a"], r["id_b"]) for r in dedup.simhash_pairs(df).collect()}
    assert (1, 2) in pairs


def test_cosine_topk_exact(spark, embeddings):
    sdf = embeddings.to_spark()
    q = sdf.filter("vec_id < 3")
    out = similarity.cosine_topk(q, sdf, k=3).collect()
    assert len(out) == 9
    for r in out:
        assert r["neighbor_id"] != r["query_id"]
        assert -1.0001 <= r["cosine"] <= 1.0001
    # ranks are 1..3 per query, descending cosine
    from collections import defaultdict

    per_q = defaultdict(list)
    for r in out:
        per_q[r["query_id"]].append((r["rank"], r["cosine"]))
    for rows in per_q.values():
        rows.sort()
        assert [x[0] for x in rows] == [1, 2, 3]
        assert all(rows[i][1] >= rows[i + 1][1] for i in range(len(rows) - 1))


def test_lsh_bucketing(spark, embeddings):
    sdf = embeddings.to_spark()
    q = sdf.filter("vec_id < 5")
    # bucketing is deterministic and self-consistent: a query always lands in
    # its own bucket, so with exclude-self top-1 every query with a non-empty
    # bucket yields candidates, and candidates share the query's bucket
    bucketed = similarity.lsh_bucket(sdf, n_planes=2)
    assert bucketed.select("lsh_bucket").distinct().count() <= 4
    approx = similarity.lsh_cosine_topk(q, sdf, k=2, n_planes=2).collect()
    assert len(approx) > 0
    assert all(r["rank"] in (1, 2) and r["neighbor_id"] != r["query_id"] for r in approx)
    # recall on *random* (near-orthogonal) data is weak by nature; the scale
    # path only guarantees same-bucket candidates — verify determinism instead
    again = similarity.lsh_cosine_topk(q, sdf, k=2, n_planes=2).collect()
    assert sorted(map(str, approx)) == sorted(map(str, again))


def test_language_id(spark):
    df = spark.createDataFrame(
        [(1, "the cat is in the house and it is happy"),
         (2, "der hund ist nicht mit der katze und ich"),
         (3, "le chat est dans la maison et je ne pas")],
        ["doc_id", "text"])
    out = {r["doc_id"]: r["lang_pred"] for r in text.language_id(df).collect()}
    assert out == {1: "en", 2: "de", 3: "fr"}


def test_quality_and_tokens(spark, documents):
    sdf = documents.to_spark().limit(20)
    q = text.quality_score(sdf).collect()
    assert all(0.0 <= r["quality"] <= 1.0 for r in q)
    t = text.token_count(sdf).collect()
    assert all(r["re_tokens"] >= r["ws_tokens"] > 0 for r in t)


def test_fingerprint_order_insensitive(spark):
    df = spark.createDataFrame([(1, "b a c"), (2, "c b a")], ["doc_id", "text"])
    fps = [r["fingerprint"] for r in text.fingerprint(df).collect()]
    assert fps[0] == fps[1]


def test_multimodal_roundtrip(spark, documents):
    from pyspark.sql import functions as F

    sdf = documents.to_spark().limit(10).withColumn("data", F.encode("text", "utf-8"))
    packed = multimodal.pack_media(sdf, "data", mime="text/plain")
    got = packed.schema["media"].dataType
    assert got.simpleString() == multimodal.MEDIA_SCHEMA.simpleString()  # nullability aside
    feats = multimodal.decode_features(packed).collect()
    assert len(feats) == 10
    for r in feats:
        assert len(r["feat"]) == 4
        assert r["n_bytes"] > 0
    # deterministic: same input → same features
    again = multimodal.decode_features(packed).collect()
    assert sorted(map(str, feats)) == sorted(map(str, again))


def test_multimodal_real_decoder_stub():
    import pytest

    with pytest.raises(NotImplementedError):
        multimodal.require_real_decoder(b"\x00")


def test_cosine_neardup_block_invariance(spark, sf_dir):
    """Exact blocked all-pairs must be invariant to the block count."""
    import os

    import polars_ruby_spark as pl
    from polars_ruby_spark.operators import similarity

    e = pl.scan_parquet(os.path.join(sf_dir, "embeddings.parquet"),
                        spark=spark)._sdf
    key = lambda r: (r["id_a"], r["id_b"], round(r["cosine"], 6))
    one = similarity.cosine_neardup_pairs(e, 0.35, n_blocks=1).collect()
    many = similarity.cosine_neardup_pairs(e, 0.35, n_blocks=7).collect()
    assert len(one) > 0
    assert sorted(map(key, one)) == sorted(map(key, many))


def test_salted_topk_equals_plain(spark, sf_dir):
    import os

    import polars_ruby_spark as pl
    from polars_ruby_spark.operators import skew

    o = pl.scan_parquet(os.path.join(sf_dir, "orders.parquet"), spark=spark)._sdf
    plain = skew.top_k_per_key(o, "o_orderstatus",
                               ["o_totalprice", "o_orderkey"], k=5)
    salted = skew.top_k_per_key(o, "o_orderstatus",
                                ["o_totalprice", "o_orderkey"], k=5, salt=8)
    key = lambda r: (r["o_orderstatus"], r["o_orderkey"])
    assert sorted(map(key, plain.collect())) == sorted(map(key, salted.collect()))


def test_udaf_and_set_ops(spark):
    """SURVEY §2.4/§2.7 extensions: GROUPED_AGG pandas UDAF + intersect/except."""
    import polars_ruby_spark as pl

    df = pl.from_hash({"g": ["a", "a", "b", "b"], "v": [1.0, 5.0, 2.0, 9.0]})
    rng = {r["g"]: r["rng"] for r in df.group_by("g").agg(
        pl.col("v").agg_map(lambda s: s.max() - s.min()).alias("rng")).to_a()}
    assert rng == {"a": 4.0, "b": 7.0}
    over = df.select(pl.col("v").agg_map(lambda s: float(s.sum()))
                     .over("g").alias("gs")).to_a()
    assert [r["gs"] for r in over] == [6.0, 6.0, 11.0, 11.0]

    a, b = pl.DataFrame({"x": [1, 2, 3]}), pl.DataFrame({"x": [2, 3, 4]})
    assert sorted(r["x"] for r in a.intersect(b).to_a()) == [2, 3]
    assert [r["x"] for r in a.except_(b).to_a()] == [1]


def test_ivf_full_probe_equals_brute_force(spark, embeddings):
    """IVF with n_probe == n_centroids scans every cell — must equal the
    exact brute-force top-k; partial probe stays deterministic."""
    sdf = embeddings.to_spark()
    q = sdf.filter("vec_id < 5")
    exact = similarity.cosine_topk(q, sdf, k=3).collect()
    full = similarity.ivf_cosine_topk(q, sdf, k=3, n_centroids=8,
                                      n_probe=8).collect()
    key = lambda r: (r["query_id"], r["rank"], r["neighbor_id"])
    assert sorted(map(key, exact)) == sorted(map(key, full))

    part1 = similarity.ivf_cosine_topk(q, sdf, k=3, n_centroids=8, n_probe=2)
    part2 = similarity.ivf_cosine_topk(q, sdf, k=3, n_centroids=8, n_probe=2)
    assert sorted(map(key, part1.collect())) == sorted(map(key, part2.collect()))


CC_PATHS = ("one_task", "distributed")


def _labels(cc):
    return {r["id"]: r["cluster_id"] for r in cc.collect()}


def _cc_one_task(cc) -> bool:
    return "_cc_union_find" in cc._jdf.queryExecution().optimizedPlan().toString()


def test_connected_components_chain_and_islands(spark, force_cc_path):
    """Both CC paths on a 5-node chain + 2-node island, for long ids and
    for 500-char string ids (URL-like keys): the one-task union-find and
    the distributed pointer-jumping loop give the same component minima."""
    pairs = [(2, 1), (2, 3), (3, 4), (4, 5), (10, 11)]
    expect = {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10}
    wide = lambda i: "u" * 500 + str(i)  # noqa: E731
    for path in CC_PATHS:
        force_cc_path(path)
        edges = spark.createDataFrame(pairs, ["id_a", "id_b"])
        assert _labels(dedup.connected_components(edges)) == expect, path
        edges = spark.createDataFrame(
            [(wide(a), wide(b)) for a, b in pairs], ["id_a", "id_b"])
        assert _labels(dedup.connected_components(edges)) == {
            wide(k): wide(v) for k, v in expect.items()}, path


def test_connected_components_null_endpoints(spark, force_cc_path):
    """A null endpoint is not a node; the other endpoint of its edge is a
    node that stays a singleton unless another edge joins it.  Same answer
    on both paths, in the type of ``src``."""
    edges = spark.createDataFrame(
        [(2, 1), (None, 7), (8, None), (None, None), (3, None), (3, 2)],
        "id_a long, id_b long")
    for path in CC_PATHS:
        force_cc_path(path)
        cc = dedup.connected_components(edges)
        assert _cc_one_task(cc) == (path == "one_task")
        assert _labels(cc) == {1: 1, 2: 1, 3: 1, 7: 7, 8: 8}, path
        assert [f.dataType.simpleString() for f in cc.schema] == [
            "bigint", "bigint"]


def test_connected_components_nan_is_one_id(spark, force_cc_path):
    """Double ids: NaN is one node, ordered above every number, as Spark
    compares it — the one-task kernel must neither loop on ``nan != nan``
    nor split NaN into several nodes."""
    nan = float("nan")
    edges = spark.createDataFrame(
        [(2.0, 1.0), (nan, 3.0), (7.0, nan)], "id_a double, id_b double")
    for path in CC_PATHS:
        force_cc_path(path)
        got = sorted((repr(r["id"]), repr(r["cluster_id"]))
                     for r in dedup.connected_components(edges).collect())
        assert got == [("1.0", "1.0"), ("2.0", "1.0"), ("3.0", "3.0"),
                       ("7.0", "3.0"), ("nan", "3.0")], path


def test_connected_components_empty_edges_typed(spark, force_cc_path):
    """No edges: an empty ``(id, cluster_id)`` frame typed like ``src`` on
    both paths."""
    for path in CC_PATHS:
        force_cc_path(path)
        for ddl in ("long", "string"):
            edges = spark.createDataFrame([], f"id_a {ddl}, id_b {ddl}")
            cc = dedup.connected_components(edges)
            assert cc.collect() == [], (path, ddl)
            assert cc.columns == ["id", "cluster_id"]
            assert {f.dataType.simpleString() for f in cc.schema} == {
                edges.schema["id_a"].dataType.simpleString()}, (path, ddl)


def test_connected_components_path_from_size_estimate(spark):
    """The path comes from Catalyst's size estimate: a pandas-built edge
    frame has an exact (tiny) one and takes the one-task union-find; a
    list-built one estimates Long.MaxValue and takes the distributed loop."""
    import pandas as pd

    pairs = [(2, 1), (2, 3), (10, 11)]
    small = spark.createDataFrame(
        pd.DataFrame(pairs, columns=["id_a", "id_b"]))
    unknown = spark.createDataFrame(pairs, ["id_a", "id_b"])
    assert small._jdf.queryExecution().optimizedPlan().stats().sizeInBytes() \
        < dedup._CC_ONE_TASK_BYTES
    one_task = dedup.connected_components(small)
    distributed = dedup.connected_components(unknown)
    assert _cc_one_task(one_task) and not _cc_one_task(distributed)
    assert [r["id"] for r in one_task.collect()] == [1, 2, 3, 10, 11]
    assert _labels(one_task) == _labels(distributed) == {
        1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_dedup_clusters_partitions_corpus(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    df = spark.createDataFrame(
        [(1, base), (2, base.replace("today", "tomorrow")), (3, base + " extra"),
         (4, "an entirely different document about spark and parquet files here")],
        ["doc_id", "text"])
    out = dedup.dedup_clusters(df).collect()
    rows = {r["doc_id"]: r for r in out}
    assert len(rows) == 4  # one row per doc, always
    # docs 1-3 are near-dups -> one cluster keyed by the min id, one survivor
    assert rows[1]["cluster_id"] == rows[2]["cluster_id"] == rows[3]["cluster_id"] == 1
    assert rows[1]["keep"] and not rows[2]["keep"] and not rows[3]["keep"]
    assert rows[1]["cluster_size"] == 3
    assert rows[4]["cluster_id"] == 4 and rows[4]["keep"] and rows[4]["cluster_size"] == 1


def test_tfidf_rare_term_wins(spark):
    df = spark.createDataFrame(
        [(1, "common common rare"), (2, "common common other"), (3, "common thing stuff")],
        ["doc_id", "text"])
    out = text.tf_idf_topk(df, k=1).collect()
    top = {r["doc_id"]: r["term"] for r in out}
    # 'common' appears in every doc -> idf 0; the doc-unique term wins
    # (doc 3 ties thing/stuff at equal weight -> term-asc tiebreak picks stuff)
    assert top == {1: "rare", 2: "other", 3: "stuff"}


def test_tfidf_df_branch_reuses_tf_exchange(spark):
    # The df-per-term branch derives from the tf frame; its copy of the
    # scan→explode→(doc,term) aggregate must stay canonically equal to the
    # tf branch's so AQE stage reuse collapses them (round-11: a pruned
    # count on the df side executed the whole exploded subtree twice).
    import io
    from contextlib import redirect_stdout

    df = spark.createDataFrame(
        [(i, f"alpha beta gamma tok{i} tok{i % 7}") for i in range(64)],
        ["doc_id", "text"])
    out = text.tf_idf_topk(df, k=2)
    out.collect()
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "isFinalPlan=true" in plan
    assert "ReusedExchange" in plan


def test_ngram_flag_joins_reuse_gram_exchange(spark):
    """Round-11: the n-gram flag-join family pins its gram table behind one
    explicit gram-key exchange that BOTH consumers (count branch, flag-join
    instance side) reuse — without it the explode+gram subtree executed
    twice (the broadcast join leaves no exchange to share), and a plain
    equi-join's inferred isnotnull pushed below the exchange on the count
    branch, breaking canonical equality."""
    import io
    from contextlib import redirect_stdout

    from polars_ruby_spark.operators.dedup import ngram_dup_coverage
    from polars_ruby_spark.operators.text import (boilerplate_signals,
                                                  dup_ngram_fraction)

    df = spark.createDataFrame(
        [(i, " ".join(f"w{(i * 7 + j) % 11}" for j in range(20)))
         for i in range(40)] + [(99, "short")],
        ["doc_id", "text"])
    for out in (ngram_dup_coverage(df, n=13), dup_ngram_fraction(df, n=3),
                boilerplate_signals(df)):
        out.collect()
        buf = io.StringIO()
        with redirect_stdout(buf):
            out.explain("formatted")
        plan = buf.getvalue()
        assert "isFinalPlan=true" in plan
        assert "ReusedExchange" in plan


def test_dup_ngram_fraction_null_gram_rows_survive(spark):
    """The shared-exchange rewrite must keep explode_outer's contract: docs
    shorter than n tokens keep one null-gram row (n_ngrams=0, dup_frac
    null) and never match the flag table."""
    from polars_ruby_spark.operators.text import dup_ngram_fraction

    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e"), (3, "zz")], ["doc_id", "text"])
    rows = {r["doc_id"]: r for r in dup_ngram_fraction(df, n=3).collect()}
    assert rows[3]["n_ngrams"] == 0 and rows[3]["dup_frac"] is None
    assert rows[1]["n_dup"] == 1 and rows[2]["n_dup"] == 1  # shared "a b c"


def test_repetition_signals_values(spark):
    df = spark.createDataFrame(
        [(1, "ab ab ab ab"),      # one distinct token, one distinct bigram
         (2, "a bc def ghij"),    # all-distinct, mean len (1+2+3+4)/4
         (3, "solo")],            # <2 tokens -> top_bigram_frac defined as 0
        ["doc_id", "text"])
    rows = {r["doc_id"]: r for r in text.repetition_signals(df).collect()}
    assert rows[1]["distinct_ratio"] == 0.25 and rows[1]["top_bigram_frac"] == 1.0
    assert rows[1]["mean_word_len"] == 2.0
    assert rows[2]["distinct_ratio"] == 1.0 and rows[2]["mean_word_len"] == 2.5
    assert rows[2]["top_bigram_frac"] == round(1 / 3, 4)
    assert rows[3]["top_bigram_frac"] == 0.0 and rows[3]["distinct_ratio"] == 1.0


def test_repetition_signals_zero_shuffle_plan(spark):
    """Round-11: the bigram mode reduces to a sorted-run max in one flat
    projection — the plan must hold NO exchange, generate, or join (the
    old shape exploded bigrams through two full-data exchanges plus a
    |docs|-row join)."""
    df = spark.createDataFrame(
        [(1, "x y x y x z"), (2, "a"), (3, "p q r p q")], ["doc_id", "text"])
    out = text.repetition_signals(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    for node in ("Exchange", "Generate", "Join"):
        assert node not in plan, f"{node} reappeared in repetition_signals"
    rows = {r["doc_id"]: r for r in out.collect()}
    # "x y","y x","x y","y x","x z" -> top "x y" 2 of 5
    assert rows[1]["top_bigram_frac"] == 0.4
    # "p q","q r","r p","p q" -> top 2 of 4
    assert rows[3]["top_bigram_frac"] == 0.5
    assert rows[2]["top_bigram_frac"] == 0.0


def test_bm25_orders_by_relevance(spark):
    df = spark.createDataFrame(
        [(1, "spark query join spark query join"),   # all terms, twice
         (2, "spark and some other words here now"),  # one term
         (3, "nothing relevant in this document at all")],
        ["doc_id", "text"])
    out = text.bm25_search(df, ["spark", "query", "join"], k=10).collect()
    assert [r["doc_id"] for r in out] == [1, 2]  # doc 3 absent (no match)
    assert [r["rank"] for r in out] == [1, 2]
    assert out[0]["score"] > out[1]["score"] > 0


def test_hash_sample_deterministic_and_rate(spark):
    from polars_ruby_spark.operators import sampling

    df = spark.createDataFrame(
        [(i, "g0" if i % 2 == 0 else "g1") for i in range(2000)], ["doc_id", "source"])
    out = sampling.hash_sample(df, {"g0": 0.5}, default_rate=0.0)
    ids1 = sorted(r["doc_id"] for r in out.collect())
    ids2 = sorted(r["doc_id"] for r in
                  sampling.hash_sample(df.repartition(7), {"g0": 0.5},
                                       default_rate=0.0).collect())
    assert ids1 == ids2  # membership survives repartitioning
    assert all(i % 2 == 0 for i in ids1)  # g1 rate 0 -> excluded
    assert 0.35 < len(ids1) / 1000 < 0.65  # ~50% of the 1000 g0 rows


def test_pack_greedy_contiguous_budget(spark):
    from polars_ruby_spark.operators import packing

    df = spark.createDataFrame(
        [(i, 40) for i in range(1, 26)], ["doc_id", "n_tok"])  # 25 docs x 40 tokens
    rows = {r["doc_id"]: r for r in packing.pack_greedy(df, "n_tok", budget=100).collect()}
    # starts 0,40,80,120,... -> shards 0,0,0,1,1,2,2,(280->2),...
    assert rows[1]["shard_id"] == 0 and rows[1]["shard_offset"] == 0
    assert rows[3]["shard_id"] == 0 and rows[3]["shard_offset"] == 80
    assert rows[4]["shard_id"] == 1 and rows[4]["shard_offset"] == 20
    assert rows[25]["shard_id"] == (24 * 40) // 100
    # shard ids are non-decreasing in id order and cover no gaps
    shard_seq = [rows[i]["shard_id"] for i in range(1, 26)]
    assert shard_seq == sorted(shard_seq)
    assert set(shard_seq) == set(range(max(shard_seq) + 1))


def test_profile_stats(spark):
    from polars_ruby_spark.operators import profiling

    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None), (4, "b")], ["x", "s"])
    rows = {r["col_name"]: r for r in profiling.profile(df, ["x"], ["s"]).collect()}
    x = rows["x"]
    assert (x["n_nulls"], x["n_distinct"], x["min_num"], x["max_num"],
            x["mean"], x["p50"]) == (0, 4, 1.0, 4.0, 2.5, 2.5)
    s = rows["s"]
    assert (s["n_nulls"], s["n_distinct"], s["min_str"], s["max_str"]) == (1, 2, "a", "b")
    assert s["min_num"] is None


def test_decontaminate_flags(spark):
    bench = spark.createDataFrame(
        [(100, "the secret eval answer is forty two exactly")], ["doc_id", "text"])
    train = spark.createDataFrame(
        [(1, "some text containing the secret eval answer verbatim"),
         (2, "completely clean training document with fresh words only")],
        ["doc_id", "text"])
    rows = {r["doc_id"]: r["contaminated"]
            for r in dedup.decontaminate_flags(train, bench).collect()}
    assert rows == {1: True, 2: False}


def test_stratified_split_disjoint_and_rates(spark):
    from polars_ruby_spark.operators import sampling

    df = spark.range(0, 20_000).withColumnRenamed("id", "doc_id")
    out = sampling.stratified_split(df, {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r["split"]: r["n"] for r in
              out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == 20_000  # total partition, no row lost/duped
    assert abs(counts["train"] / 20_000 - 0.8) < 0.02
    assert abs(counts["val"] / 20_000 - 0.1) < 0.01
    # deterministic: same assignment on re-run
    again = {r["doc_id"]: r["split"] for r in sampling.stratified_split(
        df, {"train": 0.8, "val": 0.1, "test": 0.1}).collect()}
    first = {r["doc_id"]: r["split"] for r in out.collect()}
    assert first == again


def test_chunk_tokens_windows(spark):
    from polars_ruby_spark.operators import chunking

    text = " ".join(f"t{i}" for i in range(10))
    df = spark.createDataFrame([(1, text), (2, "a b")], ["doc_id", "text"])
    rows = sorted(chunking.chunk_tokens(df, size=4, stride=3).collect(),
                  key=lambda r: (r["doc_id"], r["chunk_id"]))
    d1 = [r for r in rows if r["doc_id"] == 1]
    assert [r["chunk_text"] for r in d1] == [
        "t0 t1 t2 t3", "t3 t4 t5 t6", "t6 t7 t8 t9", "t9"]
    assert [r["n_tokens"] for r in d1] == [4, 4, 4, 1]
    d2 = [r for r in rows if r["doc_id"] == 2]
    assert [(r["chunk_id"], r["chunk_text"]) for r in d2] == [(0, "a b")]


def test_mixing_weights_temperature(spark):
    from polars_ruby_spark.operators import sampling

    df = spark.createDataFrame(
        [("big",)] * 90 + [("small",)] * 10, ["source"])
    rows = {r["source"]: r for r in
            sampling.mixing_weights(df, "source", alpha=0.5,
                                    budget=100.0).collect()}
    assert abs(rows["big"]["p"] - 0.9) < 1e-9
    # alpha=0.5 flattens: w ratio is sqrt(9) = 3, not 9
    assert abs(rows["big"]["w"] / rows["small"]["w"] - 3.0) < 1e-9
    assert abs(sum(r["w"] for r in rows.values()) - 1.0) < 1e-9
    # epochs = w * budget / size
    assert abs(rows["small"]["epochs"] - rows["small"]["w"] * 100.0 / 10) < 1e-9


def test_quantize_int8_reconstruction(spark, embeddings):
    from polars_ruby_spark.operators import similarity

    out = similarity.quantize_int8(embeddings._sdf.limit(50))
    rows = out.collect()
    assert len(rows) == 50
    # max-abs scaling keeps reconstruction error below scale/2 per element
    for r in rows:
        assert r["recon_mae"] <= r["qscale"] / 2 + 1e-9
        assert r["q_l2"] >= 0


def test_ngram_dup_coverage_copied_doc(spark):
    words = " ".join(f"w{i}" for i in range(30))
    other = " ".join(f"x{i}" for i in range(30))
    df = spark.createDataFrame(
        [(1, words), (2, words), (3, other)], ["doc_id", "text"])
    rows = {r["doc_id"]: r for r in
            dedup.ngram_dup_coverage(df, n=13).collect()}
    # docs 1 and 2 are full copies: every 13-gram occurs in the other
    assert rows[1]["dup_frac"] == 1.0 and rows[2]["dup_frac"] == 1.0
    assert rows[3]["dup_frac"] == 0.0
    assert rows[1]["n_grams"] == 30 - 13 + 1


def test_ngram_dup_coverage_hot_gram_matches_python(spark):
    """The one gram-exchange shape returns the exact coverage of a
    pure-Python count on a hot-boilerplate corpus (a gram shared by most
    docs is counted once per doc), and none of the three gram operators
    starts a Spark job at construction."""
    from polars_ruby_spark.operators.text import (boilerplate_signals,
                                                  dup_ngram_fraction)

    boiler = " ".join(f"b{i}" for i in range(15))
    rows = []
    for i in range(24):
        own = " ".join(f"d{i}_{j}" for j in range(10 + i % 7))
        # a hot boilerplate run in two thirds of the docs, a copied pair,
        # unique docs and one doc too short to produce a 13-gram
        rows.append((i, f"{boiler} {own}" if i % 3 else own))
    rows += [(100, rows[5][1]), (101, "too short")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sc = spark.sparkContext
    sc.setJobGroup("gram-construct", "construct")
    try:
        for op in (dedup.ngram_dup_coverage, dup_ngram_fraction,
                   boilerplate_signals):
            op(df)
    finally:
        sc._jsc.clearJobGroup()
    assert list(sc.statusTracker().getJobIdsForGroup("gram-construct")) == []

    n = 13
    grams = {d: [" ".join(t.split(" ")[p:p + n])
                 for p in range(len(t.split(" ")) - n + 1)]
             for d, t in rows}
    docs_of = {}
    for d, gs in grams.items():
        for gm in gs:
            docs_of.setdefault(gm, set()).add(d)
    expected = sorted(
        (d, len(gs), sum(len(docs_of[gm]) > 1 for gm in gs),
         round(sum(len(docs_of[gm]) > 1 for gm in gs) / len(gs), 4))
        for d, gs in grams.items() if gs)

    got = sorted(tuple(r) for r in dedup.ngram_dup_coverage(df, n=n).collect())
    assert got == expected
    assert any(r[3] > 0 for r in got) and any(r[3] == 0 for r in got)


def test_connected_components_builds_lazily(spark, force_cc_path):
    """On the one-task path construction starts no Spark job — neither on
    a pandas-built frame that takes it by its size estimate nor on a
    forced frame whose edge expression fails — and the failure surfaces at
    ``collect()``."""
    import pandas as pd
    import pytest

    sc = spark.sparkContext
    small = spark.createDataFrame(
        pd.DataFrame({"id_a": [2, 2, 10], "id_b": [1, 3, 11]}))
    sc.setJobGroup("cc-construct", "construct")
    try:
        ok = dedup.connected_components(small)
        force_cc_path("one_task")
        bad = dedup.connected_components(spark.createDataFrame(
            [(2, 1), (2, 3), (10, 11)], ["id_a", "id_b"]).select(
            F.when(F.col("id_a") > 0, F.raise_error(F.lit("cc boom")))
            .cast("long").alias("id_a"), F.col("id_b")))
    finally:
        sc._jsc.clearJobGroup()
    assert list(sc.statusTracker().getJobIdsForGroup("cc-construct")) == []
    assert _cc_one_task(ok) and _cc_one_task(bad)
    assert sorted(tuple(r) for r in ok.collect()) == [
        (1, 1), (2, 1), (3, 1), (10, 10), (11, 10)]
    with pytest.raises(Exception, match="cc boom"):
        bad.collect()


def test_ensure_parallelism_runs_no_job_on_shuffled_input(spark, documents):
    """``ensure_parallelism`` reads the partition count only of an input
    with no exchange: on a grouped input that read would run the upstream
    shuffle stage while the plan is built.  A one-partition scan still
    spreads to ``defaultParallelism``."""
    from polars_ruby_spark.operators import ensure_parallelism

    docs = documents.to_spark()
    grouped = docs.groupBy("doc_id").agg(F.first("text").alias("text"))
    sc = spark.sparkContext
    sc.setJobGroup("parallelism-construct", "construct")
    try:
        same = ensure_parallelism(grouped)
        dedup.minhash_dedup_pairs(grouped)
    finally:
        sc._jsc.clearJobGroup()
    assert list(sc.statusTracker().getJobIdsForGroup(
        "parallelism-construct")) == []
    assert same is grouped
    spread = ensure_parallelism(docs.coalesce(1))
    assert spread.rdd.getNumPartitions() == sc.defaultParallelism


def test_weighted_sample_rate_tracks_weight(spark):
    from polars_ruby_spark.operators import sampling

    df = (spark.range(0, 40_000).withColumnRenamed("id", "doc_id")
          .withColumn("wt", F.when(F.col("doc_id") % 2 == 0, 0.9)
                      .otherwise(0.1)))
    out = sampling.weighted_sample(df, "wt")
    kept = {r["k"]: r["n"] for r in
            out.groupBy((F.col("doc_id") % 2).alias("k"))
               .agg(F.count("*").alias("n")).collect()}
    assert abs(kept[0] / 20_000 - 0.9) < 0.02
    assert abs(kept[1] / 20_000 - 0.1) < 0.02


def test_weighted_sample_derived_weight_evaluates_once(spark):
    """q94 shape (round-11): the keep filter over a DERIVED weight must not
    be pushed below the weight's projections — Catalyst inlines the alias
    when pushing, so the expensive weight expression (split + stopword HOF)
    ran once in the pushed Filter for every row and AGAIN in the projection
    for every survivor.  The keep flag's non-det zero term holds it up."""
    from polars_ruby_spark.operators import sampling, text

    df = spark.createDataFrame(
        [(i, "the quick brown fox is it you that") for i in range(50)],
        "doc_id long, text string")
    out = sampling.weighted_sample(text.quality_score(df), "quality") \
        .select("doc_id", "quality")
    import io
    from contextlib import redirect_stdout
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert plan.count("split(lower") == 1, plan
    # and the result is unchanged vs the bare pushed-filter form
    from polars_ruby_spark.operators.sampling import hash_bucket
    bare = (text.quality_score(df)
            .filter(hash_bucket("doc_id", 10_000)
                    < F.col("quality").cast("double") * 10_000)
            .select("doc_id", "quality"))
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, bare.collect()))


def test_token_family_single_split_per_row(spark):
    """Round-11 CSE layering: language_id / quality_score / gopher_rules /
    repetition_signals materialize the token array ONCE — interpreted HOFs
    do no subexpression caching, so the inlined forms re-ran
    split(lower(text)) once per signal column per row."""
    import io
    from contextlib import redirect_stdout

    from polars_ruby_spark.operators import text

    df = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "der die das und ist")],
        "doc_id long, text string")
    for fn in (text.language_id, text.quality_score, text.gopher_rules,
               text.repetition_signals):
        buf = io.StringIO()
        with redirect_stdout(buf):
            fn(df).explain("formatted")
        plan = buf.getvalue()
        assert plan.count("split(lower") == 1, (fn.__name__, plan)


def test_vocab_encode_roundtrip(spark):
    df = spark.createDataFrame(
        [(1, "a b c a"), (2, "b b d"), (3, "a zzz")], ["doc_id", "text"])
    vocab = text.vocab_build(df, vocab_size=3)
    rows = {r["token"]: r for r in vocab.collect()}
    # b:3, a:3 → tie broken by token asc; c/d/zzz:1 → only one fits V=3
    assert rows["a"]["token_id"] == 0 and rows["b"]["token_id"] == 1
    assert len(rows) == 3
    enc = {r["doc_id"]: r["token_ids"] for r in
           text.encode_tokens(df, vocab).collect()}
    assert enc[1] == [0, 1, rows.get("c", {"token_id": -1})["token_id"]
                      if "c" in rows else -1, 0]
    assert enc[2][0] == 1 and enc[2][1] == 1
    assert enc[3][1] == -1  # zzz is out-of-vocab


def test_source_overlap_bounds(spark, documents):
    out = text.source_overlap(documents._sdf.limit(200)).collect()
    assert out
    for r in out:
        assert r["source_a"] < r["source_b"]
        assert 0.0 <= r["jaccard"] <= 1.0
        assert r["n_common"] <= min(r["n_a"], r["n_b"])


def test_label_centroids_match_numpy(spark, embeddings):
    import numpy as np

    sdf = embeddings._sdf.limit(300)
    got = {r["label"]: r for r in similarity.label_centroids(sdf).collect()}
    pdf = sdf.toPandas()
    for lab, grp in pdf.groupby("label"):
        mat = np.array([np.asarray(v, dtype=np.float64) for v in grp["embedding"]])
        np.testing.assert_allclose(
            np.round(mat.mean(axis=0), 4), got[lab]["centroid"], atol=2e-4)
        assert got[lab]["n"] == len(grp)


def test_semantic_dedup_full_recall_matches_exact(spark, embeddings):
    """n_clusters=1 → every pair compared → must equal the exact pipeline
    (cosine_neardup_pairs + connected_components canonical survivors)."""
    sdf = embeddings._sdf.limit(200)
    sem = {r["vec_id"]: r for r in
           similarity.semantic_dedup(sdf, threshold=0.9, n_clusters=1).collect()}
    pairs = similarity.cosine_neardup_pairs(sdf, 0.9, n_blocks=2)
    comp = {r["id"]: r["cluster_id"]
            for r in dedup.connected_components(pairs, "id_a", "id_b").collect()}
    assert len(sem) == 200
    for vid, r in sem.items():
        assert r["canonical_id"] == comp.get(vid, vid)
        assert r["is_duplicate"] == (comp.get(vid, vid) != vid)


def test_semantic_dedup_matches_cluster_reference(spark, embeddings):
    """n_clusters=4: each row's canonical id is the smallest id of its
    component, where edges join rows of one returned cluster_id at cosine
    >= tau — computed here without the operator's union-find."""
    import numpy as np

    tau = 0.4
    sdf = embeddings._sdf
    got = {r["vec_id"]: r for r in
           similarity.semantic_dedup(sdf, threshold=tau, n_clusters=4).collect()}
    vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
            for r in sdf.select("vec_id", "embedding").collect()}
    assert sorted(got) == sorted(vecs)
    members = {}
    for vid, r in got.items():
        members.setdefault(r["cluster_id"], []).append(vid)
    assert len(members) > 1
    label = {vid: vid for vid in vecs}
    for ids in members.values():
        unit = {i: vecs[i] / np.linalg.norm(vecs[i]) for i in ids}
        nbrs = {i: [j for j in ids if j != i and unit[i] @ unit[j] >= tau]
                for i in ids}
        for start in ids:  # flood each component from every member
            seen, stack = {start}, [start]
            while stack:
                for j in nbrs[stack.pop()]:
                    if j not in seen:
                        seen.add(j)
                        stack.append(j)
            label[start] = min(seen)
    assert any(label[v] != v for v in label)
    for vid, r in got.items():
        assert r["canonical_id"] == label[vid], vid
        assert r["is_duplicate"] == (label[vid] != vid)


def test_semantic_dedup_plan_is_one_grouped_pass(spark, embeddings):
    """Labels come from the per-cluster task: one centroid-assign pass, no
    connected-components stage and no join back."""
    import re

    out = similarity.semantic_dedup(embeddings._sdf, threshold=0.4, n_clusters=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"MapInArrow assign", plan)) == 1, plan
    assert "MapInPandas" not in plan, plan
    assert "_cc_union_find" not in plan and "Join" not in plan, plan


def test_ivf_assign_carries_ids_exactly(spark):
    """ivf_assign appends centroid_id to each Arrow batch and leaves the
    other columns alone: ids above 2^53 next to a null in the same batch
    come back exact (through pandas the column would be float64 and 2^53+1,
    2^53+3 would round to even), in its own output and in semantic_dedup's."""
    big = 2 ** 53
    rows = [(big + 1, [1.0, 0.0]), (None, [0.0, 1.0]), (big + 3, [1.0, 0.01])]
    sdf = spark.createDataFrame(rows, "vec_id long, embedding array<double>").coalesce(1)
    out = similarity.ivf_assign(sdf, [[1.0, 0.0], [0.0, 1.0]])
    assert [(f.name, f.dataType.simpleString()) for f in out.schema] == [
        ("vec_id", "bigint"), ("embedding", "array<double>"), ("centroid_id", "int")]
    assert sorted((r["vec_id"] or 0, r["centroid_id"]) for r in out.collect()) == [
        (0, 1), (big + 1, 0), (big + 3, 0)]
    dedup_out = similarity.semantic_dedup(sdf, threshold=0.99, n_clusters=1).collect()
    assert {r["vec_id"]: r["canonical_id"] for r in dedup_out} == {
        big + 1: big + 1, None: None, big + 3: big + 1}


def test_semantic_dedup_null_id_is_unlabeled(spark):
    """A null-id row is compared with nothing: its canonical_id and
    is_duplicate are null even when its vector equals another row's, and
    canonical_id is long for an int id."""
    rows = [(5, [1.0, 2.0, 3.0]), (None, [1.0, 2.0, 3.0]),
            (3, [0.0, 1.0, 0.0]), (4, [0.0, 2.0, 0.0])]
    sdf = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    out = similarity.semantic_dedup(sdf, threshold=0.99, n_clusters=1)
    assert [(f.name, f.dataType.simpleString()) for f in out.schema] == [
        ("vec_id", "int"), ("cluster_id", "int"), ("canonical_id", "bigint"),
        ("is_duplicate", "boolean")]
    got = {r["vec_id"]: (r["canonical_id"], r["is_duplicate"]) for r in out.collect()}
    assert got == {5: (5, False), None: (None, None), 3: (3, False), 4: (3, True)}


def test_tiny_norm_vector_has_exact_cosine(spark):
    """A vector and its 1e-13 copy (norm under 1e-12) are one direction:
    semantic_dedup pairs them and cosine_topk scores them 1."""
    v = [1.0, 2.0, 3.0]
    rows = [(1, v), (2, [x * 1e-13 for x in v]), (3, [3.0, -1.0, 0.5])]
    sdf = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r["vec_id"]: r["canonical_id"] for r in
           similarity.semantic_dedup(sdf, threshold=0.99, n_clusters=1).collect()}
    assert got == {1: 1, 2: 1, 3: 3}
    top = similarity.cosine_topk(sdf.filter("vec_id = 1"), sdf, k=1).collect()
    assert [(r["neighbor_id"], r["cosine"]) for r in top] == [(2, 1.0)]


def test_plot_spec_shapes(spark):
    df = pl.DataFrame({"cat": ["a", "b"], "v": [1.0, 2.0]})
    spec = df.collect().plot()
    assert spec["mark"]["type"] == "bar"  # str+numeric → column chart
    assert spec["encoding"]["x"]["field"] == "cat"
    assert len(spec["data"]["values"]) == 2
    sc = pl.DataFrame({"x": [1.0, 2.0], "y": [3.0, 4.0]}).collect().plot()
    assert sc["mark"]["type"] == "circle"  # numeric+numeric → scatter


def test_write_shards_layout(spark, tmp_path, documents):
    """Balanced deterministic shard export: one file per shard=N dir, every
    row in its md5 shard, counts stable across re-runs."""
    import glob
    import os

    from polars_ruby_spark.operators import sampling

    sdf = documents._sdf.limit(300)
    p = str(tmp_path / "shards")
    sampling.write_shards(sdf, p, 8)
    dirs = sorted(glob.glob(os.path.join(p, "shard=*")))
    assert len(dirs) == 8
    for d in dirs:
        assert len(glob.glob(os.path.join(d, "*.parquet"))) == 1
    back = spark.read.parquet(p)
    assert back.count() == 300
    chk = sampling.shard_assign(sdf, 8).select("doc_id", "shard")
    exp = {r["doc_id"]: r["shard"] for r in chk.collect()}
    for r in back.select("doc_id", "shard").collect():
        assert int(r["shard"]) == exp[r["doc_id"]]


def test_lsh_zero_planes_equals_brute_force(spark, embeddings):
    """n_planes=0 buckets everything together — the LSH join then covers all
    pairs and must equal exact brute-force top-k (q50's oracle regime)."""
    sdf = embeddings.to_spark()
    q = sdf.filter("vec_id < 5")
    exact = similarity.cosine_topk(q, sdf, k=3).collect()
    degen = similarity.lsh_cosine_topk(q, sdf, k=3, n_planes=0).collect()
    key = lambda r: (r["query_id"], r["rank"], r["neighbor_id"])
    assert sorted(map(key, exact)) == sorted(map(key, degen))


def test_minhash_bucket_cap_safe_after_exact_dedup(spark):
    """Round-2: max_bucket_size defaults finite.  Oversized buckets come from
    exact-duplicate clusters; once exact_dedup collapses those, the cap drops
    no pair — and on the full corpus the capped/uncapped difference involves
    only exact-duplicate docs."""
    base = [(i, f"alpha beta gamma delta epsilon zeta {i} eta theta iota kappa")
            for i in range(10)]
    near = [(100 + i, f"alpha beta gamma delta epsilon zeta {i} eta theta iota lambda")
            for i in range(10)]  # near-dup of base (1 token differs)
    boiler = [(1000 + i, "lorem ipsum dolor sit amet consectetur adipiscing elit")
              for i in range(30)]  # exact copies → one giant band bucket
    df = spark.createDataFrame(base + near + boiler, ["doc_id", "text"])

    key = lambda r: (r["id_a"], r["id_b"])
    capped_full = set(map(key, dedup.minhash_dedup_pairs(df, max_bucket_size=25).collect()))
    uncapped_full = set(map(key, dedup.minhash_dedup_pairs(df, max_bucket_size=None).collect()))
    assert capped_full <= uncapped_full
    boiler_ids = set(range(1000, 1030))
    dropped = uncapped_full - capped_full
    assert dropped and all(a in boiler_ids and b in boiler_ids for a, b in dropped)

    # after exact dedup the oversized bucket is gone: cap is a no-op
    survivors = dedup.exact_dedup(df)
    surv_df = df.join(survivors.select("doc_id"), "doc_id", "semi")
    capped = set(map(key, dedup.minhash_dedup_pairs(surv_df, max_bucket_size=25).collect()))
    uncapped = set(map(key, dedup.minhash_dedup_pairs(surv_df, max_bucket_size=None).collect()))
    assert capped == uncapped and capped


def test_config_surface_roundtrip():
    """config.rb:51-525 — full setter surface + save/load/state round-trip."""
    import polars_ruby_spark as pl
    from polars_ruby_spark.config import Config, _STATE

    Config.restore_defaults()
    Config.set_tbl_rows(25)
    Config.set_fmt_float("full")
    Config.set_ascii_tables(True)
    Config.set_tbl_width_chars(120)
    st = Config.state(if_set=True)
    assert st["tbl_rows"] == 25 and st["fmt_float"] == "full"
    saved = Config.save()
    Config.restore_defaults()
    assert Config.state()["tbl_rows"] == 10
    Config.load(saved)
    assert Config.state()["tbl_rows"] == 25

    # context form restores on exit
    with Config(tbl_rows=3):
        assert _STATE["tbl_rows"] == 3
    assert _STATE["tbl_rows"] == 25

    # invalid enum values raise like the reference
    import pytest as _pytest
    with _pytest.raises(ValueError):
        Config.set_fmt_float("bogus")
    with _pytest.raises(ValueError):
        Config.set_tbl_cell_alignment("MIDDLE")

    # restore_defaults must not clear the module-level random seed
    pl.set_random_seed(99)
    Config.restore_defaults()
    assert _STATE["random_seed"] == 99
    Config.restore_defaults()


def test_pii_signals_and_redact(spark):
    """PII pipeline op: conservative regex counts + typed-token redaction,
    flat codegen projections (no shuffle)."""
    import polars_ruby_spark as pl
    from polars_ruby_spark.operators.text import pii_redact, pii_signals

    d = pl.from_hash({
        "doc_id": [1, 2, 3],
        "text": ["mail bob@x.com or 10.0.0.1",
                 "ssn 123-45-6789 tel 555-123-4567",
                 "no pii here"]})
    sig = pii_signals(d._sdf, "text")
    rows = {r["doc_id"]: r.asDict() for r in sig.collect()}
    assert rows[1]["n_email"] == 1 and rows[1]["n_ipv4"] == 1
    assert rows[2]["n_ssn"] == 1 and rows[2]["n_phone"] == 1
    assert rows[3]["n_pii"] == 0
    red = {r["doc_id"]: r["clean"]
           for r in pii_redact(d._sdf, "text", "clean").collect()}
    assert red[1] == "mail <EMAIL> or <IPV4>"
    assert red[2] == "ssn <SSN> tel <PHONE>"
    assert red[3] == "no pii here"


def test_boilerplate_signals(spark):
    """Corpus-frequent shingle filter: a 5-gram repeated across >threshold
    docs is boilerplate; unique text scores 0."""
    from polars_ruby_spark.operators.text import boilerplate_signals

    tpl = "this exact legal footer text appears on every single page here"
    rows = [{"doc_id": i, "text": tpl + f" unique tail {i} alpha beta gamma delta epsilon zeta"}
            for i in range(5)]
    rows.append({"doc_id": 99, "text": "completely different words nothing shared at all among documents whatsoever kappa"})
    df = pl.DataFrame(rows)
    out = {r["doc_id"]: r for r in
           boilerplate_signals(df.to_spark(), "text", "doc_id",
                               k=5, df_threshold=3).collect()}
    assert out[99]["n_frequent"] == 0 and out[99]["boilerplate_frac"] == 0.0
    # the shared footer dominates the template docs
    assert out[0]["n_frequent"] >= 7
    assert out[0]["boilerplate_frac"] > 0.3


def test_url_signals(spark):
    from polars_ruby_spark.operators.text import url_signals

    df = pl.DataFrame({"text": [
        "go to HTTPS://WWW.Example.COM/Path/One?a=1#frag now",
        "see http://sub.site.org/x/y",
        "no links here",
    ]})
    rows = url_signals(df.to_spark(), "text").collect()
    assert rows[0]["host"] == "www.example.com"
    assert rows[0]["domain"] == "example.com"
    assert rows[0]["url_normalized"] == "https://www.example.com/Path/One"
    assert rows[1]["domain"] == "sub.site.org"
    assert rows[1]["url_normalized"] == "http://sub.site.org/x/y"
    assert rows[2]["url"] is None and rows[2]["url_normalized"] is None


def test_gopher_rules(spark):
    from polars_ruby_spark.operators.text import gopher_rules

    long_ok = " ".join(["word"] * 60)
    too_short = "just a few words"
    symbols = " ".join(["@@@@"] * 60)
    df = pl.DataFrame({"text": [long_ok, too_short, symbols]})
    rows = gopher_rules(df.to_spark(), "text", min_words=50).collect()
    assert rows[0]["gopher_pass"] is True
    assert rows[1]["gopher_pass"] is False          # too few words
    assert rows[2]["gopher_pass"] is False          # no alphabetic words
    assert rows[0]["n_words"] == 60
    assert rows[0]["mean_word_len"] == 4.0


def _make_png(width, height, color=(200, 10, 10)):
    """A REAL, fully-valid RGB PNG built from the spec (zlib + CRCs)."""
    import struct
    import zlib

    def chunk(tag, body):
        return (struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body)))

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    raw = b"".join(b"\x00" + bytes(color) * width for _ in range(height))
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))


def _make_jpeg(width, height):
    """Structurally valid JPEG prefix: SOI + APP0 (JFIF) + SOF0."""
    import struct

    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01" \
        + b"\x00" + struct.pack(">HH", 1, 1) + b"\x00\x00"
    sof0 = b"\xff\xc0" + struct.pack(">H", 17) + b"\x08" \
        + struct.pack(">HH", height, width) + b"\x03" \
        + b"\x01\x22\x00\x02\x11\x01\x03\x11\x01"
    return b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"


def test_real_image_header_decode(spark):
    """Round-3: the multimodal decode step parses REAL container bytes
    (PNG IHDR / JPEG SOF0 / GIF / BMP) — dimensions, channels, bit depth —
    through the same mapInPandas plumbing; only pixel decode stays stubbed."""
    import struct

    png = _make_png(37, 21)
    jpg = _make_jpeg(640, 480)
    gif = b"GIF89a" + struct.pack("<HH", 12, 7) + b"\x00" * 20
    bmp = b"BM" + b"\x00" * 16 + struct.pack("<ii", 99, -44) + b"\x00" * 20

    hdr = multimodal.parse_image_header(png)
    assert hdr == {"mime": "image/png", "width": 37, "height": 21,
                   "channels": 3, "bit_depth": 8}
    assert multimodal.parse_image_header(jpg) == {
        "mime": "image/jpeg", "width": 640, "height": 480,
        "channels": 3, "bit_depth": 8}
    assert multimodal.parse_image_header(gif)["width"] == 12
    assert multimodal.parse_image_header(bmp) == {
        "mime": "image/bmp", "width": 99, "height": 44,
        "channels": 3, "bit_depth": 8}
    assert multimodal.parse_image_header(b"not an image") is None

    # end-to-end through the Spark plumbing
    sdf = spark.createDataFrame(
        [(1, png), (2, jpg), (3, gif), (4, b"garbage")], ["doc_id", "data"])
    packed = multimodal.pack_media(sdf, "data")
    decoded = multimodal.decode_image_meta(packed)
    rows = {r["doc_id"]: r["media"]["meta"].asDict()
            for r in decoded.collect()}
    assert rows[1]["mime"] == "image/png" and (rows[1]["width"],
                                               rows[1]["height"]) == (37, 21)
    assert rows[2]["mime"] == "image/jpeg" and rows[2]["width"] == 640
    assert rows[3]["mime"] == "image/gif"
    assert rows[4]["width"] is None          # bad file: survives, null dims
    assert rows[4]["n_bytes"] == len(b"garbage")

    # header decoder as a real_decoder for decode_features
    feats = multimodal.decode_features(
        packed.filter("doc_id <= 2"),
        real_decoder=multimodal.image_header_decoder)
    got = {r["doc_id"]: r["feat"] for r in feats.collect()}
    assert got[1] == [37.0, 21.0, 3.0, 8.0]
    assert got[2] == [640.0, 480.0, 3.0, 8.0]


# -- round-3: REAL pixel decode (PNG zlib+unfilter, BMP) ----------------------

def _png_encode(px, color_type, filters, palette=None):
    """Reference PNG encoder for tests: applies the requested per-row filter
    types then deflates — exercises the decoder's unfilter paths."""
    import struct
    import zlib

    import numpy as np

    h, w = px.shape[:2]
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color_type]
    flat = px.reshape(h, w * channels).astype(np.uint8)
    bpp = channels
    out = bytearray()
    prev = np.zeros(w * channels, dtype=np.uint8)
    for y in range(h):
        row = flat[y]
        ft = filters[y % len(filters)]
        out.append(ft)
        if ft == 0:
            enc = row
        elif ft == 1:
            left = np.concatenate([np.zeros(bpp, np.uint8), row[:-bpp]])
            enc = row - left
        elif ft == 2:
            enc = row - prev
        elif ft == 3:
            left = np.concatenate([np.zeros(bpp, np.uint8), row[:-bpp]])
            enc = row - ((left.astype(int) + prev.astype(int)) // 2).astype(
                np.uint8)
        elif ft == 4:
            left = np.concatenate([np.zeros(bpp, np.uint8), row[:-bpp]])
            ul = np.concatenate([np.zeros(bpp, np.uint8), prev[:-bpp]])
            a, b, c = left.astype(int), prev.astype(int), ul.astype(int)
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pred = np.where((pa <= pb) & (pa <= pc), a,
                            np.where(pb <= pc, b, c)).astype(np.uint8)
            enc = row - pred
        out.extend(bytes(enc))
        prev = row

    def chunk(tag, body):
        return (struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body)))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    parts = [b"\x89PNG\r\n\x1a\n", chunk(b"IHDR", ihdr)]
    if palette is not None:
        parts.append(chunk(b"PLTE", palette.astype(np.uint8).tobytes()))
    parts += [chunk(b"IDAT", zlib.compress(bytes(out))),
              chunk(b"IEND", b"")]
    return b"".join(parts)


def test_png_pixel_decode_all_filters():
    """decode_png_pixels reconstructs exact pixels through every PNG filter
    type (None/Sub/Up/Average/Paeth) and color types 0/2/3/4/6."""
    import numpy as np

    rng = np.random.default_rng(7)
    for color_type, ch in [(0, 1), (2, 3), (4, 2), (6, 4)]:
        px = rng.integers(0, 256, size=(13, 9, ch), dtype=np.uint8)
        for filters in ([0], [1], [2], [3], [4], [0, 1, 2, 3, 4]):
            blob = _png_encode(px, color_type, filters)
            got = multimodal.decode_png_pixels(blob)
            assert got.shape == (13, 9, ch)
            assert np.array_equal(got, px), (color_type, filters)

    # palette (color type 3): indices resolve through PLTE to RGB
    pal = rng.integers(0, 256, size=(16, 3), dtype=np.uint8)
    idx = rng.integers(0, 16, size=(6, 5, 1), dtype=np.uint8)
    blob = _png_encode(idx, 3, [0, 2], palette=pal)
    got = multimodal.decode_png_pixels(blob)
    assert np.array_equal(got, pal[idx[:, :, 0]])


def test_png_adam7_and_16bit():
    """Round-5: Adam7 interlace (7 independently-filtered sub-images) and
    16-bit samples (byte-wise filtering, high-byte downsample) decode."""
    import struct
    import zlib

    import numpy as np

    rng = np.random.default_rng(9)

    def chunk(tag, body):
        return (struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body)))

    # Adam7 RGB 13x11: each pass stored filter-0
    px = rng.integers(0, 256, (11, 13, 3), dtype=np.uint8)
    raw = bytearray()
    for x0, y0, dx, dy in multimodal._ADAM7:
        sub = px[y0::dy, x0::dx]
        if sub.size == 0:
            continue
        for row in sub:
            raw += b"\x00" + row.tobytes()
    ihdr = struct.pack(">IIBBBBB", 13, 11, 8, 2, 0, 0, 1)  # interlace=1
    blob = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b""))
    assert np.array_equal(multimodal.decode_png_pixels(blob), px)

    # 16-bit grayscale, filters 0 and 2 (Up) byte-wise
    g16 = rng.integers(0, 65536, (7, 9), dtype=np.uint16)
    rows16 = g16.astype(">u2").tobytes()
    raw2 = bytearray()
    prev = None
    for y in range(7):
        row = np.frombuffer(rows16, np.uint8, 18, y * 18)
        if y % 2 == 0 or prev is None:
            raw2 += b"\x00" + row.tobytes()
        else:
            raw2 += b"\x02" + (row - prev).tobytes()
        prev = row
    ihdr2 = struct.pack(">IIBBBBB", 9, 7, 16, 0, 0, 0, 0)
    blob2 = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr2)
             + chunk(b"IDAT", zlib.compress(bytes(raw2)))
             + chunk(b"IEND", b""))
    out = multimodal.decode_png_pixels(blob2)
    assert np.array_equal(out[:, :, 0], (g16 >> 8).astype(np.uint8))

    # sub-byte depths (1/2/4): MSB-first packed gray + palette, plain and
    # Adam7 — every legal PNG bit depth decodes
    def make_sub(vals, depth, color_type, palette=None, interlace=0):
        hh, ww = vals.shape

        def pack_rows(arr2d, cols):
            out = bytearray()
            for row in arr2d:
                bits = np.zeros(cols * depth, np.uint8)
                for i, v in enumerate(row):
                    for bi in range(depth):
                        bits[i * depth + bi] = (v >> (depth - 1 - bi)) & 1
                out += b"\x00" + np.packbits(bits).tobytes()
            return out

        raw = bytearray()
        if interlace:
            for x0, y0, dx, dy in multimodal._ADAM7:
                sub = vals[y0::dy, x0::dx]
                if sub.size:
                    raw += pack_rows(sub, sub.shape[1])
        else:
            raw += pack_rows(vals, ww)
        ihdr = struct.pack(">IIBBBBB", ww, hh, depth, color_type, 0, 0,
                           interlace)
        parts = [b"\x89PNG\r\n\x1a\n", chunk(b"IHDR", ihdr)]
        if palette is not None:
            parts.append(chunk(b"PLTE", palette.tobytes()))
        parts += [chunk(b"IDAT", zlib.compress(bytes(raw))),
                  chunk(b"IEND", b"")]
        return b"".join(parts)

    for depth in (1, 2, 4):
        mx = (1 << depth) - 1
        vals = rng.integers(0, mx + 1, (9, 13)).astype(np.uint8)
        exp = (vals * (255 // mx)).astype(np.uint8)
        assert np.array_equal(multimodal.decode_png_pixels(
            make_sub(vals, depth, 0))[:, :, 0], exp)
        pal = rng.integers(0, 256, (mx + 1, 3), np.uint8)
        assert np.array_equal(multimodal.decode_png_pixels(
            make_sub(vals, depth, 3, palette=pal)), pal[vals])
        assert np.array_equal(multimodal.decode_png_pixels(
            make_sub(vals, depth, 0, interlace=1))[:, :, 0], exp)


def test_bmp_pixel_decode():
    import struct

    import numpy as np

    rng = np.random.default_rng(3)
    # 24-bit bottom-up with row padding (w=3 -> stride 12, 3 pad bytes)
    px = rng.integers(0, 256, size=(4, 3, 3), dtype=np.uint8)
    stride = (3 * 3 + 3) & ~3
    body = bytearray()
    for y in range(3, -1, -1):          # bottom-up
        row = px[y][:, [2, 1, 0]].tobytes()   # RGB -> BGR on disk
        body += row + b"\x00" * (stride - len(row))
    hdr = (b"BM" + struct.pack("<IHHI", 54 + len(body), 0, 0, 54)
           + struct.pack("<IiiHHIIiiII", 40, 3, 4, 1, 24, 0, len(body),
                         0, 0, 0, 0))
    got = multimodal.decode_bmp_pixels(hdr + bytes(body))
    assert np.array_equal(got, px)

    # 32-bit BGRA
    px4 = rng.integers(0, 256, size=(2, 2, 4), dtype=np.uint8)
    body4 = b"".join(px4[y][:, [2, 1, 0, 3]].tobytes() for y in (1, 0))
    hdr4 = (b"BM" + struct.pack("<IHHI", 54 + len(body4), 0, 0, 54)
            + struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 32, 0, len(body4),
                          0, 0, 0, 0))
    assert np.array_equal(multimodal.decode_bmp_pixels(hdr4 + body4), px4)


def test_bmp_palette_and_rle():
    """Round-5: palette BMPs (1/4/8-bit, bit-packed MSB-first rows) and
    RLE4/RLE8 compression (runs, absolute mode, EOL/EOB escapes) decode."""
    import struct

    import numpy as np

    def bmp(w, h, bpp, comp, pal, body):
        pal_bytes = b"".join(bytes([p[2], p[1], p[0], 0]) for p in pal)
        off = 54 + len(pal_bytes)
        hdr = (b"BM" + struct.pack("<IHHI", off + len(body), 0, 0, off)
               + struct.pack("<IiiHHIIiiII", 40, w, h, 1, bpp, comp,
                             len(body), 0, 0, len(pal), 0))
        return hdr + pal_bytes + body

    rng = np.random.default_rng(2)
    pal = rng.integers(0, 256, (256, 3), np.uint8)

    idx = rng.integers(0, 256, (4, 5), np.uint8)
    body = b"".join(bytes(idx[y]) + b"\x00" * 3 for y in range(3, -1, -1))
    assert np.array_equal(
        multimodal.decode_bmp_pixels(bmp(5, 4, 8, 0, pal, body)), pal[idx])

    pal16 = pal[:16]
    idx4 = rng.integers(0, 16, (3, 5), np.uint8)
    rows = []
    for y in range(2, -1, -1):
        byts = bytearray()
        row = idx4[y]
        for i in range(0, 5, 2):
            hi = row[i] << 4
            lo = row[i + 1] if i + 1 < 5 else 0
            byts.append(hi | lo)
        byts += b"\x00" * ((4 - len(byts) % 4) % 4)
        rows.append(bytes(byts))
    assert np.array_equal(multimodal.decode_bmp_pixels(
        bmp(5, 3, 4, 0, pal16, b"".join(rows))), pal16[idx4])

    pal2 = pal[:2]
    idx1 = rng.integers(0, 2, (3, 10), np.uint8)
    rows = []
    for y in range(2, -1, -1):
        bits = np.zeros(16, np.uint8)
        bits[:10] = idx1[y]
        packed = np.packbits(bits).tobytes()
        packed += b"\x00" * ((4 - len(packed) % 4) % 4)
        rows.append(packed)
    assert np.array_equal(multimodal.decode_bmp_pixels(
        bmp(10, 3, 1, 0, pal2, b"".join(rows))), pal2[idx1])

    # RLE8: runs + EOL/EOB; absolute mode with word-align padding
    rle = bytes([4, 7, 2, 9, 0, 0, 6, 1, 0, 1])
    exp = np.array([[1] * 6, [7, 7, 7, 7, 9, 9]], np.uint8)
    assert np.array_equal(
        multimodal.decode_bmp_pixels(bmp(6, 2, 8, 1, pal, rle)), pal[exp])
    rle2 = bytes([0, 3, 5, 6, 7, 0, 3, 2, 0, 0, 6, 0, 0, 1])
    exp2 = np.array([[0] * 6, [5, 6, 7, 2, 2, 2]], np.uint8)
    assert np.array_equal(
        multimodal.decode_bmp_pixels(bmp(6, 2, 8, 1, pal, rle2)), pal[exp2])
    # RLE4: nibble-pair runs
    rle4 = bytes([5, 0x38, 1, 0xA0, 0, 0, 6, 0x11, 0, 1])
    exp4 = np.array([[1] * 6, [3, 8, 3, 8, 3, 10]], np.uint8)
    assert np.array_equal(multimodal.decode_bmp_pixels(
        bmp(6, 2, 4, 2, pal16, rle4)), pal16[exp4])


def test_pixel_decode_spark_pipeline(spark):
    """Full real-decode path through Spark: pack -> decode -> resize -> feat
    via the Arrow-batched mapInPandas stage; JPEG stays a loud boundary."""
    import numpy as np
    import pytest as pt

    rng = np.random.default_rng(11)
    px = rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
    png = _png_encode(px, 2, [0, 1, 2, 3, 4])
    solid = np.full((8, 4, 3), 200, dtype=np.uint8)
    png2 = _png_encode(solid, 2, [2])

    sdf = spark.createDataFrame([(1, png), (2, png2)], ["doc_id", "data"])
    packed = multimodal.pack_media(sdf, "data", mime="image/png")
    feats = multimodal.decode_features(
        packed, real_decoder=multimodal.image_pixel_decoder)
    got = {r["doc_id"]: r["feat"] for r in feats.collect()}
    assert got[1][:3] == [16.0, 16.0, 3.0]
    assert got[1][3] == float(px.mean())
    assert got[2] == [4.0, 8.0, 3.0, 200.0]

    # decode + resize thumbnail features (8x8 grayscale = 64 dims)
    th = multimodal.decode_features(
        packed, real_decoder=multimodal.thumbnail_decoder(8, 8))
    trow = {r["doc_id"]: r["feat"] for r in th.collect()}
    assert len(trow[1]) == 64
    assert trow[2] == [200.0] * 64      # solid image -> constant thumbnail

    # resize correctness on a known gradient
    grad = np.arange(16, dtype=np.uint8).reshape(4, 4, 1)
    small = multimodal.resize_nearest(grad, 2, 2)
    assert small[:, :, 0].tolist() == [[0, 2], [8, 10]]

    # unrecognized containers remain the documented boundary (PNG, baseline
    # JPEG, GIF and uncompressed BMP all decode natively now)
    with pt.raises(NotImplementedError, match="PIL/ffmpeg"):
        multimodal.decode_image_pixels(b"RIFF\x00\x00\x00\x00WAVEfmt ")


def test_gif_roundtrip_and_third_party():
    """Round-5: full GIF codec — variable-width LZW decode (clear/EOI,
    deferred first add, 12-bit growth), 4-pass interlace, palette resolve;
    the fixture encoder's literal+periodic-clear stream round-trips
    exactly, and a real compressed GIF (CPython test logo) exercises the
    dictionary-entry path the fixture encoder never emits."""
    import os

    import numpy as np

    rng = np.random.default_rng(5)
    pal = rng.integers(0, 256, (16, 3), np.uint8)
    px = pal[rng.integers(0, 16, (13, 21))]
    assert np.array_equal(
        multimodal.decode_gif_pixels(multimodal.encode_gif(px)), px)
    assert np.array_equal(
        multimodal.decode_gif_pixels(
            multimodal.encode_gif(px, interlace=True)), px)
    # 250 colors on 40x40 forces multiple CLEAR resets mid-stream
    pal2 = rng.integers(0, 256, (250, 3), np.uint8)
    px2 = pal2[rng.integers(0, 250, (40, 40))]
    assert np.array_equal(
        multimodal.decode_image_pixels(multimodal.encode_gif(px2)), px2)

    path = ("/root/.pyenv/versions/3.13.0/lib/python3.13/test/"
            "test_email/data/python.gif")
    if os.path.exists(path):
        with open(path, "rb") as f:
            blob = f.read()
        out = multimodal.decode_gif_pixels(blob)
        hdr = multimodal.parse_image_header(blob)
        assert out.shape == (hdr["height"], hdr["width"], 3)
        assert 0 < float(out.mean()) < 255


def test_jpeg_baseline_roundtrip():
    """Round-5: FULL baseline-DCT JPEG codec — encode (fixture support) and
    decode (huffman + dequant + IDCT + chroma upsample + YCbCr) round-trip
    within quantization error; restart markers and 4:2:0 subsampling
    exercise the marker/upsample paths; progressive stays a loud boundary."""
    import struct

    import numpy as np
    import pytest as pt

    rng = np.random.default_rng(7)
    # grayscale: solid and gradient exact at quant=1
    for px in [np.full((8, 8), 128, np.uint8),
               np.tile(np.arange(16, dtype=np.uint8) * 16, (16, 1))]:
        out = multimodal.decode_jpeg_pixels(
            multimodal.encode_jpeg_baseline(px))
        assert out.shape == (*px.shape, 1)
        assert np.array_equal(out[:, :, 0], px)
    # RGB 4:4:4, non-multiple-of-8 dims: within color-convert rounding
    px = rng.integers(0, 256, (13, 21, 3)).astype(np.uint8)
    out = multimodal.decode_jpeg_pixels(
        multimodal.encode_jpeg_baseline(px, quant=1))
    assert out.shape == (13, 21, 3)
    assert np.abs(out.astype(int) - px.astype(int)).max() <= 3
    # 4:2:0 on achromatic content: chroma flat -> exact luma path
    y = (np.linspace(0, 255, 32)[:, None] * np.ones(40)[None, :])
    gray3 = np.stack([y, y, y], 2).astype(np.uint8)
    out = multimodal.decode_jpeg_pixels(
        multimodal.encode_jpeg_baseline(gray3, subsampling="420"))
    assert np.abs(out.astype(int) - gray3.astype(int)).max() <= 1
    # restart-interval path: RSTn markers + DC predictor resets
    px = rng.integers(0, 256, (24, 24, 3)).astype(np.uint8)
    out = multimodal.decode_jpeg_pixels(
        multimodal.encode_jpeg_baseline(px, restart_interval=2))
    assert np.abs(out.astype(int) - px.astype(int)).max() <= 3
    # image_pixel_decoder dispatch covers JPEG
    feat = multimodal.image_pixel_decoder(
        multimodal.encode_jpeg_baseline(px))["feat"]
    assert feat[:3] == [24.0, 24.0, 3.0]
    # lossless (SOF3) raises the documented boundary (progressive decodes)
    lossless = bytearray(multimodal.encode_jpeg_baseline(px))
    idx = bytes(lossless).find(b"\xff\xc0")
    lossless[idx + 1] = 0xC3
    with pt.raises(NotImplementedError, match="lossless"):
        multimodal.decode_jpeg_pixels(bytes(lossless))


def _encode_jpeg_progressive(px, quant=1):
    """Test fixture: minimal PROGRESSIVE (SOF2) encoder — one interleaved
    DC-first scan + one full-band AC-first scan per component (Al=0, ZRL +
    per-block EOB).  Exercises the decoder's multi-scan accumulation;
    refinement/EOB-run paths are exercised by the real third-party file."""
    import struct

    import numpy as np

    px = np.asarray(px, dtype=np.float64)
    if px.ndim == 2:
        px = px[:, :, None]
    h, w, nch = px.shape
    if nch == 3:
        r, g, bl = px[:, :, 0], px[:, :, 1], px[:, :, 2]
        planes = [0.299 * r + 0.587 * g + 0.114 * bl,
                  128.0 - 0.168736 * r - 0.331264 * g + 0.5 * bl,
                  128.0 + 0.5 * r - 0.418688 * g - 0.081312 * bl]
    else:
        planes = [px[:, :, 0]]
    basis = multimodal._idct_8x8_basis()
    zz = np.array(multimodal._JPEG_ZIGZAG)
    qtab = np.full(64, quant, np.int32)
    mcux, mcuy = -(-w // 8), -(-h // 8)
    comp_blocks = []
    for plane in planes:
        p = np.pad(plane, ((0, mcuy * 8 - h), (0, mcux * 8 - w)),
                   mode="edge") - 128.0
        blocks = (p.reshape(mcuy, 8, mcux, 8).transpose(0, 2, 1, 3)
                  .reshape(mcuy * mcux, 8, 8))
        coef = np.einsum("ux,nxy,vy->nuv", basis, blocks, basis)
        qzb = (coef.reshape(-1, 64)[:, zz] / qtab[None, :]) \
            .round().astype(np.int32)
        comp_blocks.append(qzb.reshape(mcuy, mcux, 64))
    ncls = 1 if len(comp_blocks) == 1 else 2
    dc_a = list(range(12))
    ac_a = [0x00, 0xF0] + [(rr << 4) | s for rr in range(16)
                           for s in range(1, 11)]

    def mk(sym):
        L = 1
        while (1 << L) < len(sym) + 1:
            L += 1
        counts = [0] * 16
        counts[L - 1] = len(sym)
        enc, code, k = {}, 0, 0
        for ln in range(1, 17):
            for _ in range(counts[ln - 1]):
                enc[sym[k]] = (ln, code)
                k += 1
                code += 1
            code <<= 1
        return counts, sym, enc

    dc_t = [mk(dc_a) for _ in range(ncls)]
    ac_t = [mk(ac_a) for _ in range(ncls)]

    class W:
        def __init__(s):
            s.out, s.acc, s.n = bytearray(), 0, 0

        def put(s, c, ln):
            s.acc = (s.acc << ln) | (c & ((1 << ln) - 1))
            s.n += ln
            while s.n >= 8:
                b = (s.acc >> (s.n - 8)) & 0xFF
                s.out.append(b)
                if b == 0xFF:
                    s.out.append(0)
                s.n -= 8

        def flush(s):
            if s.n:
                s.put(0x7F, 8 - s.n)

    def csize(v):
        v, s = abs(int(v)), 0
        while v:
            s += 1
            v >>= 1
        return s

    out = bytearray(b"\xff\xd8")

    def seg(m, body):
        out.extend(bytes([0xFF, m]))
        out.extend(struct.pack(">H", len(body) + 2))
        out.extend(body)

    for tq in range(ncls):
        seg(0xDB, bytes([tq]) + bytes(int(x) for x in qtab))
    sof = bytearray([8]) + struct.pack(">HH", h, w) + bytes([len(planes)])
    for ci in range(len(planes)):
        sof += bytes([ci + 1, 0x11, 0 if ci == 0 else ncls - 1])
    seg(0xC2, bytes(sof))
    for cls in range(ncls):
        for tc, (counts, sym, _) in ((0, dc_t[cls]), (1, ac_t[cls])):
            seg(0xC4, bytes([(tc << 4) | cls]) + bytes(counts) + bytes(sym))
    wtr = W()
    preds = [0] * len(comp_blocks)
    for m in range(mcux * mcuy):
        my, mx = divmod(m, mcux)
        for ci, blocks in enumerate(comp_blocks):
            cls = 0 if ci == 0 else 1
            d = int(blocks[my, mx, 0]) - preds[ci]
            preds[ci] = int(blocks[my, mx, 0])
            s = csize(d)
            ln, code = dc_t[cls][2][s]
            wtr.put(code, ln)
            if s:
                wtr.put(d if d >= 0 else d + (1 << s) - 1, s)
    wtr.flush()
    sos = bytearray([len(comp_blocks)])
    for ci in range(len(comp_blocks)):
        cls = 0 if ci == 0 else 1
        sos += bytes([ci + 1, (cls << 4) | cls])
    seg(0xDA, bytes(sos) + bytes([0, 0, 0]))
    out.extend(wtr.out)
    for ci, blocks in enumerate(comp_blocks):
        cls = 0 if ci == 0 else 1
        wtr = W()
        for m in range(mcux * mcuy):
            my, mx = divmod(m, mcux)
            blk = blocks[my, mx]
            run = 0
            for k in range(1, 64):
                v = int(blk[k])
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    ln, code = ac_t[cls][2][0xF0]
                    wtr.put(code, ln)
                    run -= 16
                s = csize(v)
                ln, code = ac_t[cls][2][(run << 4) | s]
                wtr.put(code, ln)
                wtr.put(v if v >= 0 else v + (1 << s) - 1, s)
                run = 0
            if run:
                ln, code = ac_t[cls][2][0x00]
                wtr.put(code, ln)
        wtr.flush()
        seg(0xDA, bytes([1, ci + 1, (cls << 4) | cls, 1, 63, 0]))
        out.extend(wtr.out)
    out.extend(b"\xff\xd9")
    return bytes(out)


def test_jpeg_progressive_decode():
    """Round-5: progressive (SOF2) JPEG decodes — multi-scan coefficient
    accumulation (DC/AC first passes via the fixture encoder, refinement +
    EOB-run paths via a real progressive file shipped with Spark's mllib
    sample data, cross-checked against its baseline-encoded color twin)."""
    import os

    import numpy as np
    import pytest as pt

    rng = np.random.default_rng(3)
    px = rng.integers(0, 256, (13, 21, 3)).astype(np.uint8)
    dec = multimodal.decode_jpeg_pixels(_encode_jpeg_progressive(px))
    assert dec.shape == (13, 21, 3)
    assert np.abs(dec.astype(int) - px.astype(int)).max() <= 3
    g = np.tile(np.arange(16, dtype=np.uint8) * 16, (16, 1))
    assert np.array_equal(multimodal.decode_jpeg_pixels(
        _encode_jpeg_progressive(g))[:, :, 0], g)

    base = "/opt/spark-4.1.2-bin-hadoop3/data/mllib/images/origin/"
    prog_p = base + "multi-channel/grayscale.jpg"
    twin_p = base + "multi-channel/chr30.4.184.jpg"
    if not (os.path.exists(prog_p) and os.path.exists(twin_p)):
        pt.skip("no third-party progressive JPEG on this host")
    with open(prog_p, "rb") as f:
        g2 = multimodal.decode_jpeg_pixels(f.read())[:, :, 0].astype(float)
    with open(twin_p, "rb") as f:
        c = multimodal.decode_jpeg_pixels(f.read()).astype(float)
    luma = 0.299 * c[:, :, 0] + 0.587 * c[:, :, 1] + 0.114 * c[:, :, 2]
    assert float(np.corrcoef(g2.ravel(), luma.ravel())[0, 1]) > 0.99


def test_wav_and_mjpeg_avi_codecs(spark):
    """Round-5: REAL audio (RIFF/WAVE PCM 8/16/24/32 + float32) and video
    (MJPEG-in-AVI via the JPEG decoder) paths.  Round-trips through the
    fixture encoders; the CPython test-suite pluck recordings pin
    cross-depth consistency (same audio at 4 bit depths -> same RMS); the
    Spark mapInPandas frame-sampling stage decodes real frames."""
    import os

    import numpy as np

    rng = np.random.default_rng(1)
    s = rng.uniform(-0.9, 0.9, (1000, 2))
    dec, rate = multimodal.decode_wav_samples(multimodal.encode_wav(s, 22050))
    assert rate == 22050 and dec.shape == (1000, 2)
    assert np.abs(dec - s).max() < 1e-4
    feat = multimodal.audio_feature_decoder(multimodal.encode_wav(s, 22050))
    assert feat["feat"][:3] == [22050.0, 1000.0, 2.0]

    adir = "/root/.pyenv/versions/3.13.0/lib/python3.13/test/audiodata/"
    if os.path.isdir(adir):
        rmss = []
        for p in ["pluck-pcm8.wav", "pluck-pcm16.wav",
                  "pluck-pcm24.wav", "pluck-pcm32.wav"]:
            with open(adir + p, "rb") as f:
                sm, r = multimodal.decode_wav_samples(f.read())
            assert r == 11025 and sm.shape == (3307, 2)
            rmss.append(float(np.sqrt((sm ** 2).mean())))
        assert max(rmss) - min(rmss) < 2e-3  # same recording, 4 depths

    # MJPEG AVI: deterministic frames -> real per-frame decode via Spark
    frames = [multimodal.encode_jpeg_baseline(
        np.full((16, 16), 40 + i * 30, np.uint8)) for i in range(5)]
    avi = multimodal.encode_avi_mjpeg(frames, fps=5)
    assert len(list(multimodal.extract_avi_mjpeg_frames(avi))) == 5
    sdf = spark.createDataFrame([(1, avi)], ["doc_id", "data"])
    packed = multimodal.pack_media(sdf, "data", mime="video/x-msvideo")
    rows = multimodal.video_frame_features(
        packed, every_n=2, target_partition_mb=None).collect()
    got = sorted((r["frame_no"], r["width"], r["height"], r["mean_px"])
                 for r in rows)
    assert got == [(0, 16, 16, 40.0), (2, 16, 16, 100.0),
                   (4, 16, 16, 160.0)]


def test_jpeg_decodes_third_party_file():
    """Cross-compat: a real JPEG produced by an independent encoder (the
    CPython test-suite logo) decodes — validates huffman/marker handling
    against bytes this repo did not write.  Skips if the fixture is absent."""
    import os

    import pytest as pt

    path = ("/root/.pyenv/versions/3.13.0/lib/python3.13/test/"
            "test_email/data/python.jpg")
    if not os.path.exists(path):
        pt.skip("no third-party JPEG on this host")
    with open(path, "rb") as f:
        blob = f.read()
    px = multimodal.decode_jpeg_pixels(blob)
    hdr = multimodal.parse_image_header(blob)
    assert px.shape == (hdr["height"], hdr["width"], 3)
    assert 0 < float(px.mean()) < 255  # non-degenerate content


def test_semantic_dedup_autoscale(spark, embeddings):
    """r8 (VERDICT r7 #1): the SemDeDup cluster-count default must scale
    with corpus size — ceil(n / target_cluster_rows), floored at 1 — so
    per-cluster pair cost stays flat instead of growing quadratically."""
    from polars_ruby_spark.operators.similarity import (_auto_n_clusters,
                                                        semantic_dedup)

    # the formula itself, pinned
    assert _auto_n_clusters(1, 2048) == 1
    assert _auto_n_clusters(500, 2048) == 1
    assert _auto_n_clusters(2048, 2048) == 1
    assert _auto_n_clusters(2049, 2048) == 2
    assert _auto_n_clusters(20_000, 2048) == 10
    assert _auto_n_clusters(5_000_000, 2048) == 2442
    assert _auto_n_clusters(10, 2048, floor=4) == 4

    # auto default == explicit n_clusters=1 at oracle scale (n <= target)
    e = embeddings._sdf
    auto = semantic_dedup(e, threshold=0.4).orderBy("vec_id").collect()
    exact = semantic_dedup(e, threshold=0.4, n_clusters=1).orderBy("vec_id").collect()
    assert auto == exact

    # an explicit override is honored: >1 clusters => >1 distinct cluster_id
    import pyspark.sql.functions as F

    multi = semantic_dedup(e, threshold=0.4, n_clusters=4)
    assert multi.select(F.countDistinct("cluster_id")).first()[0] > 1


def test_semantic_dedup_random_sample(spark):
    """r9 (VERDICT r8 #8): the k-means fit sample is a seeded RANDOM draw,
    not limit() — on a corpus whose FIRST rows are all one identical
    vector (the sorted/partitioned-corpus shape), first-partition sampling
    fits every centroid on the same point and the assignment collapses to
    a single cluster; the random sample must see the diverse tail."""
    import numpy as np
    import pyspark.sql.functions as F
    from pyspark.sql import Row

    from polars_ruby_spark.operators.similarity import semantic_dedup

    rng = np.random.RandomState(3)
    rows = [Row(vec_id=i, embedding=[1.0, 0.0, 0.0, 0.0])
            for i in range(200)]
    for i in range(200, 1000):
        v = rng.randn(4)
        rows.append(Row(vec_id=i, embedding=(v / np.linalg.norm(v)).tolist()))
    sdf = spark.createDataFrame(rows)
    # sample_size < the degenerate head: a limit() draw would fit 6
    # identical centroids and put every row in one cluster
    out = semantic_dedup(sdf, threshold=0.99, n_clusters=6,
                         sample_size=150)
    assert out.select(F.countDistinct("cluster_id")).first()[0] > 1

"""IO round-trips (SURVEY §2.1) and Structured Streaming extension (§2.10)."""

import os

import pytest

import polars_ruby_spark as pl


def test_csv_roundtrip(spark, tmp_path):
    df = pl.from_hash({"a": [1, 2, 3], "b": ["x", "y", None]})
    path = str(tmp_path / "data_csv")
    df.collect().write_csv(path)
    back = pl.scan_csv(path, spark=spark).sort("a").collect()
    rows = back.to_a()
    assert [r["a"] for r in rows] == [1, 2, 3]
    assert [r["b"] for r in rows] == ["x", "y", None]


def test_csv_separator_and_header(spark, tmp_path):
    p = tmp_path / "sep.csv"
    p.write_text("a|b\n1|foo\n2|bar\n")
    back = pl.scan_csv(str(p), separator="|", spark=spark).sort("a").collect()
    assert [r["b"] for r in back.to_a()] == ["foo", "bar"]


def test_ndjson_roundtrip(spark, tmp_path):
    df = pl.from_hash({"a": [1, 2], "s": ["p", "q"]})
    path = str(tmp_path / "data_ndjson")
    df.collect().write_ndjson(path)
    back = pl.scan_ndjson(path, spark=spark).sort("a").collect()
    assert [r["s"] for r in back.to_a()] == ["p", "q"]


def test_parquet_roundtrip_with_row_index(spark, tmp_path):
    df = pl.from_hash({"a": [10, 20, 30]})
    path = str(tmp_path / "data_parquet")
    df.collect().write_parquet(path)
    back = pl.read_parquet(path, row_index_name="idx", spark=spark).sort("a")
    rows = back.collect().to_a()
    assert sorted(r["idx"] for r in rows) == [0, 1, 2]


def test_read_database_jdbc_roundtrip(spark, tmp_path):
    """read_database over a REAL JDBC database (round-6; mirrors the
    reference's own test strategy — test/database_test.rb runs against a
    live DB): Spark writes a table into an embedded Derby database (the
    Derby driver ships with Spark), read_database queries it back.  Derby
    uppercases unquoted identifiers, so the query quotes the lowercase
    column names the JDBC writer created."""
    db = str(tmp_path / "derbydb")
    url = f"jdbc:derby:{db};create=true"
    drv = "org.apache.derby.jdbc.EmbeddedDriver"
    src = spark.createDataFrame([(1, "a"), (2, "b"), (3, None)],
                                "id int, s string")
    (src.write.format("jdbc").option("url", url)
        .option("dbtable", "T").option("driver", drv).save())
    out = pl.read_database('SELECT "id", "s" FROM T', url=url, driver=drv)
    assert sorted(out.rows()) == [(1, "a"), (2, "b"), (3, None)]


def test_avro_roundtrip(spark, tmp_path):
    """Round-7: read_avro/write_avro run on the pure-Python Object
    Container File codec (sources/avro_codec.py — no spark-avro jar in
    this distribution), covering nullable primitives, strings, floats,
    timestamps and list columns, both codecs."""
    import datetime as dt

    p = str(tmp_path / "data.avro")
    df = pl.DataFrame({
        "a": [1, 2, None],
        "s": ["x", None, "läng"],
        "f": [1.5, None, float("inf")],
        "b": [True, False, None],
        "ts": [dt.datetime(2024, 1, 2, 3, 4, 5, 123456), None,
               dt.datetime(1969, 12, 31, 23, 59, 59)],
        "l": [[1.0, None, 3.0], [], None],
    })
    df.write_avro(p, compression="deflate")
    back = pl.read_avro(p, spark=spark).sort("a", nulls_last=True)
    rows = back.to_a()
    assert [r["a"] for r in rows] == [1, 2, None]
    assert [r["s"] for r in rows] == ["x", None, "läng"]
    assert [r["f"] for r in rows] == [1.5, None, float("inf")]
    assert [r["b"] for r in rows] == [True, False, None]
    assert rows[0]["ts"] == dt.datetime(2024, 1, 2, 3, 4, 5, 123456)
    assert rows[2]["ts"] == dt.datetime(1969, 12, 31, 23, 59, 59)
    assert [r["l"] for r in rows] == [[1.0, None, 3.0], [], None]
    # uncompressed codec + single-column frame
    p2 = str(tmp_path / "plain.avro")
    pl.DataFrame({"a": [1, 2]}).write_avro(p2)
    assert sorted(pl.read_avro(p2, spark=spark).rows()) == [(1,), (2,)]


def test_read_ipc_roundtrip(spark, tmp_path):
    pa = pytest.importorskip("pyarrow")
    import pyarrow.feather as feather

    t = pa.table({"a": [1, 2, 3], "b": ["u", "v", "w"]})
    p = str(tmp_path / "data.arrow")
    feather.write_feather(t, p)
    back = pl.read_ipc(p, spark=spark).sort("a")
    assert [r["b"] for r in back.collect().to_a()] == ["u", "v", "w"]


def test_streaming_windowed_agg_matches_batch(spark, tmp_path, sf_dir):
    """Trigger-once file-source stream == batch group_by_dynamic on static
    data (no late rows ⇒ watermark drops nothing)."""
    from polars_ruby_spark.streaming import stream as st

    src = os.path.join(sf_dir, "events.parquet")
    ev = pl.scan_parquet(src, spark=spark)
    batch = (ev.group_by_dynamic("ts", every="1h").agg(pl.len().alias("n"))
             .collect().to_a())
    expected = {r["ts"]: r["n"] for r in batch}

    sdf = ev.to_spark().select("ts", "value")
    stage = str(tmp_path / "stage")
    sdf.write.parquet(stage)

    lf = st.scan_stream(stage, spark=spark)
    win = st.windowed_agg(lf, "ts", every="1h", aggs={"n": pl.len()})
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = st.sink_stream(win, out_dir, ckpt)
    q.awaitTermination(120)

    got = {r["ts"]: r["n"] for r in
           pl.read_parquet(out_dir, spark=spark).collect().to_a()}
    # append mode only emits windows whose end passed the final watermark —
    # the tail window(s) legitimately stay in state, everything emitted must
    # match batch exactly
    assert got
    for ts, n in got.items():
        assert expected[ts] == n
    missing = set(expected) - set(got)
    assert len(missing) <= 2 and all(ts >= max(got) for ts in missing)


def test_session_window_matches_gaps_and_islands(spark, sf_dir):
    """Native session_window == classic gaps-and-islands SQL on batch data."""
    from pyspark.sql import functions as F

    from polars_ruby_spark.streaming import stream as st

    ev = pl.scan_parquet(os.path.join(sf_dir, "events.parquet"), spark=spark)
    out = st.session_window_agg(ev, "ts", gap="30m",
                                aggs={"n": pl.len()}, by=["user_id"])
    got = {(r["user_id"], r["session_start"]): r["n"]
           for r in out.collect().to_a()}

    sdf = ev.to_spark()
    sdf.createOrReplaceTempView("ev_sess")
    ref = spark.sql("""
        WITH s AS (SELECT user_id, ts,
                          CASE WHEN lag(ts) OVER w IS NULL
                                 OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                               THEN 1 ELSE 0 END AS new_s
                   FROM ev_sess WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
             g AS (SELECT user_id, ts,
                          sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sid FROM s)
        SELECT user_id, min(ts) AS session_start, count(*) AS n
        FROM g GROUP BY user_id, sid
    """).collect()
    expected = {(r["user_id"], r["session_start"]): r["n"] for r in ref}
    assert got == expected


def test_stateful_running_count_across_batches(spark, tmp_path):
    """applyInPandasWithState keeps state across micro-batches: with
    maxFilesPerTrigger=1 the final per-key count equals the batch count."""
    from polars_ruby_spark.streaming import stream as st

    stage = str(tmp_path / "stage")
    pl.from_hash({"k": ["a", "a", "b"]}).to_spark().coalesce(1).write.mode(
        "overwrite").parquet(stage)
    pl.from_hash({"k": ["a", "b", "b"]}).to_spark().coalesce(1).write.mode(
        "append").parquet(stage)

    lf = st.scan_stream(stage, spark=spark, max_files_per_trigger=1)
    counts = st.stateful_running_count(lf, "k")
    q = (counts._sdf.writeStream.format("memory").queryName("running_counts")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(120)

    rows = spark.sql("SELECT * FROM running_counts").collect()
    assert len(rows) >= 2  # at least one emission per batch containing a key
    final = {}
    for r in rows:  # last emission per key wins (update mode)
        final[r["k"]] = max(r["n"], final.get(r["k"], 0))
    assert final == {"a": 3, "b": 3}


def test_bucketed_join_avoids_shuffle(spark, tmp_path, sf_dir):
    """Tables bucketed on the join key with equal bucket counts join without
    an Exchange on either side (the 100 TB co-located-join path)."""
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    o = pl.scan_parquet(os.path.join(sf_dir, "orders.parquet"), spark=spark)
    c = pl.scan_parquet(os.path.join(sf_dir, "customer.parquet"), spark=spark)
    pl.write_bucketed(o, "t_orders_b", bucket_by="o_custkey", n_buckets=8,
                      sort_by="o_custkey")
    pl.write_bucketed(c, "t_cust_b", bucket_by="c_custkey", n_buckets=8,
                      sort_by="c_custkey")
    j = (pl.scan_table("t_orders_b", spark=spark)
         .join(pl.scan_table("t_cust_b", spark=spark),
               left_on="o_custkey", right_on="c_custkey", how="inner"))
    plan = j.to_spark()._jdf.queryExecution().executedPlan().toString()
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert "SortMergeJoin" in plan
    # bucketed scan feeds the join directly — no shuffle exchange
    assert "Exchange hashpartitioning" not in plan
    n = j.collect().height
    plain = o.join(c, left_on="o_custkey", right_on="c_custkey",
                   how="inner").collect().height
    assert n == plain


def test_dedup_stream_drops_duplicates(spark, tmp_path):
    """Streaming dedup: duplicate keys across micro-batches emit once
    (dropDuplicatesWithinWatermark state path)."""
    import datetime as dt

    from polars_ruby_spark.streaming import stream as st

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    stage = str(tmp_path / "stage")
    pl.from_hash({"k": ["a", "b", "a"],
                  "ts": [t0, t0, t0 + dt.timedelta(seconds=30)]}
                 ).to_spark().coalesce(1).write.mode("overwrite").parquet(stage)
    pl.from_hash({"k": ["b", "c"],
                  "ts": [t0 + dt.timedelta(seconds=40),
                         t0 + dt.timedelta(seconds=50)]}
                 ).to_spark().coalesce(1).write.mode("append").parquet(stage)

    lf = st.scan_stream(stage, spark=spark, max_files_per_trigger=1)
    deduped = st.dedup_stream(lf, "k", "ts", watermark="10m")
    q = (deduped._sdf.writeStream.format("memory").queryName("dedup_out")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)

    rows = spark.sql("SELECT k FROM dedup_out").collect()
    assert sorted(r["k"] for r in rows) == ["a", "b", "c"]


def test_stream_stream_join_matches_batch(spark, tmp_path):
    """Watermarked stream-stream interval join == the batch range join."""
    import datetime as dt

    from polars_ruby_spark.streaming import stream as st

    t0 = dt.datetime(2024, 1, 1)
    lrows = {"k": ["a", "a", "b"],
             "ts": [t0, t0 + dt.timedelta(minutes=10), t0],
             "lv": [1, 2, 3]}
    rrows = {"k": ["a", "a", "b"],
             "ts": [t0 + dt.timedelta(minutes=2),
                    t0 + dt.timedelta(minutes=30), t0 - dt.timedelta(minutes=4)],
             "rv": [10, 20, 30]}
    lstage, rstage = str(tmp_path / "l"), str(tmp_path / "r")
    pl.from_hash(lrows).to_spark().coalesce(1).write.parquet(lstage)
    pl.from_hash(rrows).to_spark().coalesce(1).write.parquet(rstage)

    joined = st.stream_stream_join(
        st.scan_stream(lstage, spark=spark), st.scan_stream(rstage, spark=spark),
        on="k", ts_left="ts", ts_right="ts", watermark="1h", within="5m")
    q = (joined._sdf.writeStream.format("memory").queryName("ssj_out")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = sorted((r["k"], r["lv"], r["rv"])
                 for r in spark.sql("SELECT * FROM ssj_out").collect())
    # (a,lv1)~(rv10) within 2m; (a,lv2) sees nothing within 5m; (b,lv3)~(rv30)
    assert got == [("a", 1, 10), ("b", 3, 30)]


def test_batch_ops_compose_on_streams(spark, tmp_path, sf_dir):
    """The flat-projection training-pipeline ops (quality_score,
    hash-bucket sampling) are pure row functions, so the SAME operator code
    runs unchanged on a streaming frame — one API across batch and stream."""
    import os

    from polars_ruby_spark.operators import sampling, text
    from polars_ruby_spark.streaming import stream as st

    src = os.path.join(sf_dir, "documents.parquet")
    batch_sdf = pl.scan_parquet(src, spark=spark).to_spark()
    expected = {r["doc_id"]: r["quality"] for r in
                sampling.weighted_sample(text.quality_score(batch_sdf),
                                         "quality").collect()}

    stage = str(tmp_path / "docs_stage")
    batch_sdf.write.parquet(stage)
    lf = st.scan_stream(stage, spark=spark)
    out = sampling.weighted_sample(text.quality_score(lf._sdf), "quality") \
        .select("doc_id", "quality")
    from polars_ruby_spark.frame import LazyFrame

    q = st.sink_stream(LazyFrame(out), str(tmp_path / "out"),
                       str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    got = {r["doc_id"]: r["quality"] for r in
           pl.read_parquet(str(tmp_path / "out"), spark=spark).collect().to_a()}
    assert got == expected and len(got) > 0


def test_scan_parquet_types_from_footer(spark, tmp_path, sf_dir):
    """scan_parquet builds the schema from the pyarrow footer: for every
    table of the sf0.01 test set it equals Spark's own inference, and the
    scan launches no Spark job.  A hive-partitioned directory keeps
    Spark's inference (the partition column is in no footer)."""
    import glob

    import pyarrow as pa
    import pyarrow.parquet as pq

    from polars_ruby_spark.sources import io

    tables = sorted(glob.glob(os.path.join(
        os.path.dirname(sf_dir), "sf0.01", "*.parquet")))
    assert len(tables) == 10
    sc = spark.sparkContext
    for p in tables:
        probe, whole = io._footer_file(p)
        assert whole, p
        derived = io._footer_schema(io._open_footer(probe), spark)
        assert derived == spark.read.parquet(p).schema, p
        sc.setJobGroup("footer-scan", p)
        try:
            lf = pl.scan_parquet(p, spark=spark)
        finally:
            sc._jsc.clearJobGroup()
        assert list(sc.statusTracker().getJobIdsForGroup("footer-scan")) \
            == [], p
        assert lf._sdf.schema == derived, p

    hive = str(tmp_path / "hive")
    pq.write_to_dataset(pa.table({"k": [1, 1, 2], "v": [1.0, 2.0, 3.0]}),
                        hive, partition_cols=["k"])
    assert io._footer_file(hive)[1] is False
    inferred = spark.read.parquet(hive).schema
    assert "k" in inferred.fieldNames()
    assert pl.scan_parquet(hive, spark=spark)._sdf.schema == inferred


def test_scan_parquet_footer_nanos_as_micros(spark, tmp_path):
    """A tz-naive TIMESTAMP(NANOS) column is typed Long from the footer
    (Spark's nanosAsLong read) and cast back to µs timestamps."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    p = str(tmp_path / "ns.parquet")
    ts = [1_700_000_000_123_456_789, None, 1_600_000_000_000_001_000]
    pq.write_table(pa.table({"t": pa.array(ts, pa.timestamp("ns")),
                             "v": [1, 2, 3]}), p, version="2.6")
    got = pl.scan_parquet(p, spark=spark).collect().to_a()
    assert got[0]["t"] == dt.datetime(2023, 11, 14, 22, 13, 20, 123456)
    assert got[1]["t"] is None
    assert got[2]["t"] == dt.datetime(2020, 9, 13, 12, 26, 40, 1)
    assert [r["v"] for r in got] == [1, 2, 3]


def test_hive_partition_pruning(spark, tmp_path, sf_dir):
    """partition_by write → scan with a partition-column filter prunes at
    the file index (PartitionFilters in the scan node), the 100 TB
    scan-elimination path."""
    d = pl.scan_parquet(os.path.join(sf_dir, "documents.parquet"), spark=spark)
    p = str(tmp_path / "docs_part")
    d.collect().write_parquet(p, partition_by="lang")
    scan = pl.scan_parquet(p, spark=spark).filter(pl.col("lang") == "en")
    plan = scan.to_spark()._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters")[1][:200]
    assert "lang" in seg  # the filter reached the partition index
    assert {r["lang"] for r in scan.collect().to_a()} == {"en"}


def test_sink_ipc_roundtrip(spark, tmp_path):
    """Distributed IPC sink (one .arrow file per partition) → read_ipc dir."""
    df = pl.from_hash({"a": list(range(100)), "s": [f"x{i}" for i in range(100)]},
                      spark=spark)
    path = str(tmp_path / "ipc_dir")
    rows = df.lazy().sink_ipc(path)
    assert rows == 100
    import os as _os
    parts = [f for f in _os.listdir(path) if f.endswith(".arrow")]
    assert parts, "no part files written"
    back = pl.read_ipc(path, spark=spark).sort("a")
    assert [r["a"] for r in back.collect().to_a()] == list(range(100))


def test_read_csv_batched(spark, tmp_path):
    """batched_csv_reader.rb:6 — batches cover all rows in order; None when
    exhausted."""
    import csv as _csv

    p = str(tmp_path / "batched.csv")
    with open(p, "w", newline="") as f:
        w = _csv.writer(f)
        w.writerow(["a", "b"])
        for i in range(250):
            w.writerow([i, f"s{i}"])

    reader = pl.read_csv_batched(p, batch_size=100, spark=spark)
    b1 = reader.next_batches(2)
    assert len(b1) == 2
    assert all(bf.collect().height == 100 for bf in b1)
    b2 = reader.next_batches(5)
    assert len(b2) == 1 and b2[0].collect().height == 50
    assert reader.next_batches(1) is None
    got = sorted(r["a"] for bf in b1 + b2 for r in bf.collect().to_a())
    assert got == list(range(250))


def test_ipc_stream_roundtrip(spark, tmp_path):
    """io/ipc.rb:150 — Arrow streaming format (no footer) round-trips and is
    a genuinely different container from the feather/file format."""
    import pyarrow.ipc as ipc

    df = pl.from_hash({"a": [1, 2, 3], "s": ["x", "y", "z"]})
    p = str(tmp_path / "s.arrows")
    df.collect().write_ipc_stream(p)
    with ipc.open_stream(p) as r:  # readable as a STREAM (file format isn't)
        assert r.read_all().num_rows == 3
    back = pl.read_ipc_stream(p, spark=spark).sort("a")
    assert [r["s"] for r in back.collect().to_a()] == ["x", "y", "z"]


def test_reference_doctest_parity_batch17(spark, tmp_path):
    """Seventeenth harvest batch (csv/json/parquet/ipc tests): single-file
    eager write_csv/write_ndjson (csv_test.rb File.read sees one file),
    IO-object sources & targets across formats, http(s) string raise,
    has_header:false column_N naming, write_ipc(nil) → ARROW bytes,
    scan_ipc / read_ipc_schema."""
    import io

    import pytest as _pytest

    import polars_ruby_spark as pl

    df = pl.DataFrame({"a": [1, 2, 3], "b": ["one", "two", "three"]})

    p = str(tmp_path / "data.csv")
    assert df.write_csv(p) is None
    assert open(p).read() == "a,b\n1,one\n2,two\n3,three\n"
    assert df.write_csv() == "a,b\n1,one\n2,two\n3,three\n"
    assert pl.read_csv(p).to_a() == df.to_a()
    assert pl.read_csv(io.StringIO(open(p).read())).to_a() == df.to_a()
    assert pl.read_csv(open(p, "rb")).to_a() == df.to_a()
    assert pl.read_csv(p, has_header=False).columns == \
        ["column_1", "column_2"]
    assert pl.read_csv(p, has_header=False).height == 4
    sio = io.StringIO()
    df.write_csv(sio)
    assert sio.getvalue().startswith("a,b\n")
    with _pytest.raises(ValueError, match="use URI"):
        pl.read_csv("https://www.example.com")

    pn = str(tmp_path / "data.ndjson")
    assert df.write_ndjson(pn) is None
    assert pl.read_ndjson(pn).sort("a").to_a() == df.to_a()
    nio = io.StringIO()
    df.write_ndjson(nio)
    nio.seek(0)
    assert pl.read_ndjson(nio).sort("a").to_a() == df.to_a()

    jio = io.StringIO()
    df.write_json(jio, row_oriented=True)
    jio.seek(0)
    assert pl.read_json(jio).sort("a").to_a() == df.to_a()

    pio = io.BytesIO()
    df.write_parquet(pio)
    pio.seek(0)
    assert pl.read_parquet(pio).sort("a").to_a() == df.to_a()

    pa_path = str(tmp_path / "data.arrow")
    assert df.write_ipc(pa_path) is None
    assert pl.read_ipc(pa_path).to_a() == df.to_a()
    assert pl.read_ipc(open(pa_path, "rb")).to_a() == df.to_a()
    assert pl.scan_ipc(pa_path).collect().to_a() == df.to_a()
    out = df.write_ipc(None)
    assert isinstance(out, bytes) and out.startswith(b"ARROW")
    sch = pl.read_ipc_schema(pa_path)
    assert sch["a"].typeName() == "long" and sch["b"].typeName() == "string"


def test_sink_single_file_forms(spark, tmp_path):
    """csv_test.rb test_sink_csv: a path with the format extension yields
    ONE file with exact contents (out-of-core single-task write + move);
    extensionless paths keep the scale-out directory sink."""
    import os

    df = pl.DataFrame({"a": [1, 2, 3], "b": ["one", "two", "three"]})

    p = str(tmp_path / "data.csv")
    assert df.lazy().sink_csv(p) is None
    assert os.path.isfile(p)
    assert open(p).read() == "a,b\n1,one\n2,two\n3,three\n"

    pj = str(tmp_path / "data.ndjson")
    df.lazy().sink_ndjson(pj)
    assert os.path.isfile(pj)
    assert pl.read_ndjson(pj).sort("a").to_a() == df.to_a()

    pq = str(tmp_path / "data.parquet")
    df.lazy().sink_parquet(pq)
    assert os.path.isfile(pq)
    assert pl.read_parquet(pq).sort("a").to_a() == df.to_a()

    d = str(tmp_path / "dir_sink")
    df.lazy().sink_csv(d)
    assert os.path.isdir(d)
    assert pl.scan_csv(d, spark=spark).collect().sort("a").to_a() == df.to_a()


# Third-party Avro containers, vendored base64 (round-8, VERDICT r7 #5):
# every other codec family pins against independently-written bytes; these
# two were produced by the Apache Avro JAVA writer — users.avro ships with
# the Apache Spark distribution (examples/src/main/resources), data.avro is
# the reference's own IO fixture (reference test/support/data.avro, the
# io/avro.rb:14 parity target).  Both exercise the header walk, the
# ["string","null"] / ["null","long"] union orders, int arrays and the
# sync-marker framing against bytes our encoder never produced.
_AVRO_USERS_B64 = (
    "T2JqAQQWYXZyby5zY2hlbWHgA3sidHlwZSI6ICJyZWNvcmQiLCAibmFtZXNwYWNlIjogImV4"
    "YW1wbGUuYXZybyIsICJuYW1lIjogIlVzZXIiLCAiZmllbGRzIjogW3sidHlwZSI6ICJzdHJp"
    "bmciLCAibmFtZSI6ICJuYW1lIn0sIHsidHlwZSI6IFsic3RyaW5nIiwgIm51bGwiXSwgIm5h"
    "bWUiOiAiZmF2b3JpdGVfY29sb3IifSwgeyJ0eXBlIjogeyJpdGVtcyI6ICJpbnQiLCAidHlw"
    "ZSI6ICJhcnJheSJ9LCAibmFtZSI6ICJmYXZvcml0ZV9udW1iZXJzIn1dfRRhdnJvLmNvZGVj"
    "CG51bGwAbpN+3/1CO3vi4YntL4vQuwQwDEFseXNzYQIIBhIeKAAGQmVuAAZyZWQAbpN+3/1C"
    "O3vi4YntL4vQuw==")
_AVRO_REF_DATA_B64 = (
    "T2JqAQIWYXZyby5zY2hlbWHgAXsidHlwZSI6InJlY29yZCIsIm5hbWUiOiIiLCJmaWVsZHMi"
    "Olt7Im5hbWUiOiJhIiwidHlwZSI6WyJudWxsIiwibG9uZyJdfSx7Im5hbWUiOiJiIiwidHlw"
    "ZSI6WyJudWxsIiwic3RyaW5nIl19XX0AAQIDBAECAwQBAgMEAQIDBAYuAgICBm9uZQIEAgZ0"
    "d28CBgIKdGhyZWUBAgMEAQIDBAECAwQBAgME")


def test_avro_third_party_container(spark, tmp_path):
    """Byte-exact decode of independently-written Avro containers, through
    both the raw codec and the full distributed read path."""
    import base64

    import polars_ruby_spark as pl
    from polars_ruby_spark.sources import avro_codec

    users = base64.b64decode(_AVRO_USERS_B64)
    _schema, rows = avro_codec.read_container(users)
    assert rows == [["Alyssa", None, [3, 9, 15, 20]],
                    ["Ben", "red", []]]
    p = tmp_path / "users.avro"
    p.write_bytes(users)
    df = pl.read_avro(str(p))
    assert sorted(df.rows()) == [
        ("Alyssa", None, [3, 9, 15, 20]), ("Ben", "red", [])]
    assert [t.simpleString() for t in df.dtypes] == \
        ["string", "string", "array<int>"]

    ref = base64.b64decode(_AVRO_REF_DATA_B64)
    _schema, rows = avro_codec.read_container(ref)
    assert rows == [[1, "one"], [2, "two"], [3, "three"]]
    p2 = tmp_path / "data.avro"
    p2.write_bytes(ref)
    df2 = pl.read_avro(str(p2))
    assert sorted(df2.rows()) == [(1, "one"), (2, "two"), (3, "three")]

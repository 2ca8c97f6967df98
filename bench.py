"""Benchmark harness: runs headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}.

Queries execute end-to-end via a noop sink (full materialization, no
driver-collect overhead) — the number is engine wall-clock, not toPandas.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from polars_ruby_spark.session import _env_count  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = _env_count("SPARK_GRAFT_CPUS", "32", star=True)
N_CPUS = 32 if CPUS == "*" else int(CPUS)

# Headline set: one per operator family that dominates 100 TB cost profiles.
HEADLINE = [
    "q01_pricing_summary",   # scan+filter+agg
    "q02_project_arithmetic",  # projection throughput
    "q04_join_inner_agg",    # broadcast join + agg
    "q05_join_left",         # shuffle join
    "q10_join_asof",         # custom asof (union-merge)
    "q11_window_rank",       # window functions
    "q13_cum_sum",           # ordered window w/ row-index derivation
    "q14_rolling_1h",        # range-frame window
    "q15_dynamic_1h",        # event-time windows
    "q16_str_funcs",         # string kernels
    "q18_list_funcs",        # higher-order functions
    "q20_unpivot",           # reshape
    "q32_interpolate",       # directional-window interpolation
    "q52_dynamic_sliding",   # hopping event-time windows
    "q55_session_windows",   # session windows
    "q40_dedup_exact",       # extension: exact dedup
    "q41_minhash_pairs",     # extension: MinHash LSH
    "q49_simhash",           # extension: SimHash fingerprint
    "q43_ann_cosine",        # extension: brute-force ANN
    "q45_quality",           # extension: text quality scoring
    "q68_topk_salted",       # extension: skew-safe per-key top-k
    "q70_cosine_neardup",    # extension: exact all-pairs near-dup (blocked matmul)
    "q74_cube",              # extension: grouping sets in one shuffle
    "q80_dedup_clusters",    # extension: pairs → connected components
    "q81_tfidf_topk",        # extension: tf-idf (explode + 2 aggs + join)
    "q86_pack_shards",       # extension: token-budget sequence packing
    "q96_vocab_encode",      # extension: vocab build + broadcast-join encode
    "q99_semantic_dedup",    # extension: cluster-confined semantic dedup
    # round-5 breadth (VERDICT r4 item 7): round-over-round tracking for the
    # newest operator families
    "q132_ewm_single_series",   # O(n) segmented ewm scan
    "q133_calendar_hopping",    # calendar sliding windows (enumerated grid)
    "q134_calendar_rolling",    # calendar rolling look-back
    "q135_datapoint_hopping",   # datapoint-anchored hopping grid
    "q136_grouped_stats",       # grouped entropy/spearman stats
    "q137_spearman_agg",        # spearman agg pre-stage (rank + corr)
    "q138_cumulative_eval_grouped",  # grouped prefix-HOF reduction
    "q139_jpeg_decode",         # JPEG encode+decode via mapInPandas
    "q140_mixed_every",         # mixed calendar+fixed window grid
    "q141_datapoint_calendar",  # datapoint-anchored calendar grid
    "q142_dynamic_spearman",    # agg pre-stage inside dynamic windows
    "q143_rolling_spearman",    # band-join rolling pre-stage
    "q144_video_frames",        # MJPEG AVI frame decode via mapInPandas
    "q145_audio_features",      # WAV PCM decode via mapInPandas
    "q146_windowed_in_agg",     # key-shared pre-stage windowables in agg
    "q147_distinct_flags_agg",  # group-local flags + composed arr routes
    "q148_gapped_index_positions",  # dense re-rank for positional consumers
    "q149_filter_elements_agg",     # element-removing filter in agg
    # round-6 additions
    "q107_global_ordinals",         # batched two-pass cum attaches
    "q150_list_eval_positional",    # positional order ops in list.eval
    "q151_stream_windowed_agg",     # streaming replay (stage+run per rep)
    # round-9 additions
    "q157_rolling_minmax_kernel",   # sliding Arrow kernel, fixed period
    "q158_rolling_calendar_kernel",  # sliding kernel, month-wide windows
    "q160_rolling_moments_kernel",   # std/var/skew/kurt prefix moments
    "q162_rolling_corr_cov_kernel",  # pearson corr/cov pair prefix sums
    "q163_rolling_by_kernel_attach",  # expr-level batched kernel attach
    "q164_rolling_rowcount_kernel",   # row-count frames, ex-keyless window
    "q165_ungrouped_rank_attach",     # distinct-value prefix ranks
    "q166_ungrouped_fills_lag_attach",  # fills/diff/pct/interpolate attaches
    "q167_hook_composed_binaries",    # hook x hook / hook x column composes
]


def main():
    from pyspark.sql import SparkSession

    from polars_ruby_spark.session import configure

    spark = configure(
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("polars-ruby-spark-bench")
        .config("spark.sql.shuffle.partitions", str(max(N_CPUS, 8)))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    ).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry

    qs = entry.queries()
    names = [n for n in HEADLINE if n in qs]
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    if only:  # iteration aid: comma-separated query subset
        keep = set(only.split(","))
        names = [n for n in names if n in keep] or names
    # warm the JVM + parquet footers once (excluded from timing)
    qs[names[0]](spark, SF_DIR).write.format("noop").mode("overwrite").save()
    # pre-fork the Python/Arrow workers (reused across queries afterwards)
    spark.range(N_CPUS).repartition(N_CPUS).mapInPandas(
        lambda it: it, "id long").write.format("noop").mode("overwrite").save()

    # BASELINE.md measurement plan: wall-clock median of 3 runs per query
    # (steady-state engine cost; first run additionally pays one-time JIT /
    # codegen-cache compilation that a long-lived cluster amortizes away).
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    # classes janino compiled so far in this JVM: a query that still
    # compiles over its timed reps (after its warm run) misses the
    # generated-code cache
    compiled = (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
                .METRIC_COMPILATION_TIME())
    results, split = {}, {}
    for name in names:
        # per-query untimed warm run: heavy expression trees (minhash, ANN)
        # pay multi-second one-time codegen that a long-lived cluster
        # amortizes; without this the median of 3 can still catch it
        qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
        times, cons, exes = [], [], []
        compiled_before = compiled.getCount()
        for _ in range(reps):
            t0 = time.perf_counter()
            df = qs[name](spark, SF_DIR)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            times.append(round(t2 - t0, 3))
            cons.append(round(t1 - t0, 3))
            exes.append(round(t2 - t1, 3))
        # construct = python-side plan building incl. any eager driver work
        # the operator does (carry collects, pivot-value discovery);
        # execute = the noop sink (Catalyst analysis of the final plan +
        # the jobs).  Split comes from the SAME rep as the reported median
        # so construct + execute == the headline number; compiles covers
        # all timed reps.
        mid = sorted(range(reps), key=lambda i: times[i])[reps // 2]
        results[name] = times[mid]
        split[name] = {"construct": cons[mid], "execute": exes[mid],
                       "compiles": compiled.getCount() - compiled_before}

    total = round(sum(results.values()), 3)
    # r1-anchor subtotal: the original 28-query set BENCH_r01 measured —
    # round-over-round totals stay comparable while breadth grows
    r1_set = [n for n in HEADLINE if not n.startswith(
        ("q132", "q133", "q134", "q135", "q136", "q137", "q138",
         "q139", "q140", "q141", "q142", "q143", "q144", "q145",
         "q146", "q147", "q148", "q149", "q107", "q150", "q151",
         "q157", "q158", "q160", "q162", "q163", "q164", "q165",
         "q166", "q167"))]
    r1_total = round(sum(results[n] for n in r1_set if n in results), 3)
    sf = SF_DIR.rstrip("/").split("sf")[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # the construct/execute split goes on its OWN line (plus a sidecar
    # file) BEFORE the headline: the driver captures only the tail of
    # stdout, and r8's single fat line pushed the headline head past the
    # capture window ("parsed": null in BENCH_r08.json).  The LAST line
    # must be the compact headline JSON.
    split_doc = {"metric": "construct_execute_split", "split": split,
                 "sf": sf_val}
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_SPLIT.json"), "w") as f:
            json.dump(split_doc, f, indent=1)
    except OSError:
        pass
    print(json.dumps(split_doc))
    print(json.dumps({
        "metric": "headline_queries_total_wall_clock",
        "value": total,
        "value_r1_set": r1_total,
        "unit": "sec",
        "queries": results,
        "sf": sf_val,
    }))


if __name__ == "__main__":
    main()

"""Repository benchmark: closed-loop query workloads over the engine.

    python3 perfbench/run.py --workload llm_pipeline --seed 1 --seconds 5 --trace 0

Run from the repository root.  One client drives one Spark ``local[N]``
session (N = min(4, usable CPUs)) through ``__spark_entry__.queries()``:
session start, one untimed warm-up pass, then timed passes in a
seed-shuffled order until ``--seconds`` have elapsed (whole passes only, so
every run times the same query mix).  After the window each query's last
result is checked against its DuckDB ``oracle_sql()``.  Inputs are the
project's read-only test tables (the directory beside
``__spark_entry__.SF_DEFAULT``).

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` times the same
window through ``perfbench/layers.py`` and prints the per-layer metrics.
Both print one line per metric, then one JSON object as the last line.  The
summary (and, traced, the per-query layer ledger) is written under
``perfbench/out/results/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import statistics
import subprocess
import sys
import time
import traceback

from layers import Tracer, descendants, proc_table


def _process_age_s() -> float:
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return (time.clock_gettime(time.CLOCK_BOOTTIME)
            - start_ticks / os.sysconf("SC_CLK_TCK"))


T_PROCESS_START = time.perf_counter() - _process_age_s()

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, "perfbench", "out")

# Why each workload is in the benchmark: see perfbench/README.md and
# BENCHMARK.json.  Query ids are the prefixes of __spark_entry__ names.
WORKLOADS = {
    "llm_pipeline": {
        "sf": "sf0.1", "delivery": "sink",
        "queries": "q40 q41 q43 q45 q70 q86 q99 q139 q145".split(),
    },
    "interactive_collect": {
        "sf": "sf0.01", "delivery": "collect",
        "queries": "q01 q13 q107 q132 q165 q166".split(),
    },
}
CPUS = min(4, len(os.sched_getaffinity(0)))


def _driver_heap_mb() -> int:
    with open("/proc/meminfo") as f:
        total_kb = int(next(ln for ln in f if ln.startswith("MemTotal:")).split()[1])
    return min(2048, total_kb // 4096)


def _start_session():
    from pyspark.sql import SparkSession

    from polars_ruby_spark.session import configure

    heap_mb = _driver_heap_mb()
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Temporary files stay in the checkout, for this process, the Python
    # workers, and both JVMs (spark-submit's launcher, then the driver).
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts
    spark = configure(
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(max(CPUS, 8)))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # A fixed heap, resident from the start: heap resizing and partly
        # touched heaps made GC pauses and peak RSS vary from run to run.
        .config("spark.driver.memory", f"{heap_mb}m")
        .config("spark.driver.extraJavaOptions",
                f"-Xms{heap_mb}m -XX:+AlwaysPreTouch {java_opts}")
        .config("spark.local.dir", os.path.join(OUT, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(OUT, "warehouse"))
        # Python workers import the engine from this checkout, whatever the
        # current directory is.
        .config("spark.executorEnv.PYTHONPATH", ROOT)
    ).getOrCreate()
    spark.sparkContext.setLogLevel("FATAL")
    return spark


def _stop_session(spark) -> None:
    """Stop Spark, the JVM and every process left under this one."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 10
    while (left := descendants(proc_table(), os.getpid())):
        if time.monotonic() > deadline + 10:
            raise RuntimeError(f"perfbench: processes {left} did not exit")
        if time.monotonic() > deadline:
            for pid in left:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, 9)
        time.sleep(0.1)


def _jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def _peak_rss_mb() -> float:
    """Peak RSS summed over the driver, the JVM and the Python workers."""
    total_kb = 0
    for pid in [os.getpid(), *descendants(proc_table(), os.getpid())]:
        try:
            with open(f"/proc/{pid}/status") as f:
                total_kb += next((int(ln.split()[1]) for ln in f
                                  if ln.startswith("VmHWM:")), 0)
        except OSError:
            continue
    return total_kb / 1024


class _Untraced:
    """The tracer's interface with nothing recorded."""

    @contextlib.contextmanager
    def query(self, name):
        yield {}

    @contextlib.contextmanager
    def span(self, name, query=None):
        yield {}

    def inspect_plan(self, root, sdf):
        pass

    def close(self):
        pass


class Runner:
    def __init__(self, spark, workload: str):
        import __spark_entry__ as entry
        import polars_ruby_spark as pl
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.pandas.conversion import PandasConversionMixin

        spec = WORKLOADS[workload]
        fns = entry.queries()
        self.fns = {}
        for q in spec["queries"]:
            match = [n for n in fns if n.split("_")[0] == q]
            if len(match) != 1:
                raise SystemExit(f"perfbench: query {q} not found once in "
                                 f"__spark_entry__.queries(): {match}")
            self.fns[match[0]] = fns[match[0]]
        self.oracle_sql = entry.oracle_sql()
        self.spark = spark
        self.pl = pl
        self.delivery = spec["delivery"]
        self.data_dir = os.path.join(os.path.dirname(entry.SF_DEFAULT),
                                     spec["sf"])
        self.sink_dir = os.path.join(OUT, "sink", workload)
        self.last: dict = {}
        self.errors = {"construct": 0, "execute": 0}

        # Keep the Arrow batches toPandas() received, so the collected
        # result can be checked after the timed window.
        collect = PandasConversionMixin._collect_as_arrow

        def keep_batches(df, *a, **k):
            batches = collect(df, *a, **k)
            self._batches = batches
            return batches

        DataFrame._collect_as_arrow = keep_batches

    def execute(self, name: str, tracer) -> bool:
        """Construct one query and deliver its result; False on error."""
        stage = "construct"
        try:
            with tracer.query(name) as root:
                with tracer.span("construct"):
                    sdf = self.fns[name](self.spark, self.data_dir)
                stage = "execute"
                with tracer.span(self.delivery) as sp:
                    result = self._deliver(name, sdf)
                sp.update(result)
                tracer.inspect_plan(root, sdf)
        except Exception:
            self.errors[stage] += 1
            self.last.pop(name, None)
            print(f"perfbench: {name} failed in {stage}", file=sys.stderr)
            traceback.print_exc(limit=4)
            return False
        return True

    def _deliver(self, name: str, sdf) -> dict:
        if self.delivery == "sink":
            path = os.path.join(self.sink_dir, name)
            self.pl.LazyFrame(sdf).sink_parquet(path)
            self.last[name] = (sdf, path)
            files = [os.path.join(path, f) for f in os.listdir(path)
                     if f.endswith(".parquet")]
            return {"files": len(files),
                    "bytes": sum(os.path.getsize(f) for f in files)}
        self._batches = None
        pdf = sdf.toPandas()
        self.last[name] = (sdf, self._batches)
        return {"rows": len(pdf)}

    def verify(self, tracer) -> list:
        """Names of queries whose last result differs from the oracle."""
        from verify import Oracle, arrow_digest, parquet_digest

        oracle = Oracle(self.data_dir, os.path.join(OUT, "oracle-cache"))
        bad = []
        try:
            for name in self.fns:
                with tracer.span("verify", query=name):
                    if name not in self.last:
                        continue  # failed in the window; counted there
                    sdf, got = self.last[name]
                    try:
                        want = oracle.digest(self.oracle_sql[name])
                        have = (parquet_digest(got) if self.delivery == "sink"
                                else arrow_digest(sdf.columns, got))
                    except Exception:
                        traceback.print_exc(limit=4)
                        have, want = None, True
                    if have != want:
                        print(f"perfbench: {name} does not match its oracle: "
                              f"{have} != {want}", file=sys.stderr)
                        bad.append(name)
        finally:
            oracle.close()
        return bad


def _add_durations(spans: list) -> None:
    """Set each span's duration ``s`` and self time ``self_s``."""
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        s["s"] = s["self_s"] = s["end"] - s["start"]
    for s in spans:
        if s["parent"] is not None:
            by_id[s["parent"]]["self_s"] -= s["s"]


def _layer_metrics(spans: list, passes: int) -> dict:
    """Per-layer totals of the traced window, per pass."""
    def total(name, key):
        return sum(s.get(key, 0) for s in spans if s["name"] == name)

    delivery = [s for s in spans if s["name"] in ("sink", "collect")]
    construct_jobs = total("construct", "jobs") + total("scan", "jobs")
    execute_jobs = sum(s.get("jobs", 0) for s in delivery)

    def dtotal(key):
        return sum(s.get(key, 0) for s in delivery)

    m = {
        "scan.calls": (sum(s["name"] == "scan" for s in spans), "count"),
        "scan.s": (total("scan", "s"), "s"),
        "scan.jobs": (total("scan", "jobs"), "count"),
        "construct.s": (total("construct", "s"), "s"),
        "construct.self_s": (total("construct", "self_s"), "s"),
        "construct.jobs": (construct_jobs, "count"),
        "construct.py4j_calls": (total("construct", "py4j_calls"), "count"),
        "construct.driver_cpu_s": (total("construct", "driver_cpu_s"), "s"),
        "catalyst.analysis_s": (total("query", "catalyst_analysis_s"), "s"),
        "catalyst.optimization_s": (
            total("query", "catalyst_optimization_s"), "s"),
        "catalyst.planning_s": (total("query", "catalyst_planning_s"), "s"),
        "execute.s": (dtotal("job_wall_s"), "s"),
        "execute.jobs": (execute_jobs, "count"),
        "execute.stages": (dtotal("stages"), "count"),
        "execute.tasks": (dtotal("tasks"), "count"),
        "execute.executor_run_s": (dtotal("executor_run_s"), "s"),
        "execute.gc_s": (dtotal("gc_s"), "s"),
        "execute.input_bytes": (dtotal("input_bytes"), "bytes"),
        "execute.shuffle_write_bytes": (dtotal("shuffle_write_bytes"), "bytes"),
        "execute.spill_bytes": (dtotal("spill_bytes"), "bytes"),
        "plan.exchanges": (total("query", "plan_exchanges"), "count"),
        "plan.python_nodes": (total("query", "plan_python_nodes"), "count"),
        "pyworker.cpu_s": (total("query", "pyworker_cpu_s"), "s"),
        "sink.s": (total("sink", "s"), "s"),
        "sink.files": (total("sink", "files"), "count"),
        "sink.bytes": (total("sink", "bytes"), "bytes"),
        "collect.s": (total("collect", "s"), "s"),
        "collect.rows": (total("collect", "rows"), "count"),
    }
    out = {k: (v / passes, u) for k, (v, u) in m.items()}
    all_jobs = construct_jobs + execute_jobs
    out["jobs.construct_share"] = (
        construct_jobs / all_jobs if all_jobs else 0.0, "frac")
    return out


def _ledger(spans: list) -> dict:
    """Per query, per execution: each layer's time, self time and counts."""
    keep = ("s", "self_s", "jobs", "py4j_calls", "driver_cpu_s", "stages",
            "tasks", "executor_run_s", "gc_s", "input_bytes",
            "shuffle_write_bytes", "spill_bytes", "job_wall_s", "files",
            "bytes", "rows", "pyworker_cpu_s", "catalyst_analysis_s",
            "catalyst_optimization_s", "catalyst_planning_s",
            "plan_exchanges", "plan_python_nodes", "error")
    queries: dict = {}
    current: dict = {}
    for s in spans:
        rec = {k: s[k] for k in keep if k in s}
        if s["name"] == "query":
            current = {"query": rec}
            queries.setdefault(s["query"], []).append(current)
        elif s["name"] == "verify":
            queries.setdefault(s["query"], []).append({"verify": rec})
        elif s["name"] == "scan":
            scans = current.setdefault("scan", {"calls": 0, "s": 0.0, "jobs": 0})
            scans["calls"] += 1
            scans["s"] += rec["s"]
            scans["jobs"] += rec.get("jobs", 0)
        else:
            current[s["name"]] = rec
    return queries


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in ("__spark_entry__.py", "polars_ruby_spark",
                           "tools/check_correctness.py")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a checkout of the engine, missing {missing} "
              f"under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.makedirs(OUT, exist_ok=True)

    spark = _start_session()
    tracer = _Untraced()
    try:
        session_start_s = time.perf_counter() - T_PROCESS_START
        runner = Runner(spark, args.workload)
        rng = random.Random(args.seed)
        names = list(runner.fns)

        t = time.perf_counter()
        for name in rng.sample(names, len(names)):
            runner.execute(name, tracer)
        warmup_s = time.perf_counter() - t
        runner.errors = {"construct": 0, "execute": 0}

        if args.trace:
            tracer = Tracer(spark, _jvm_pid())
        latencies, attempted, passes = [], 0, 0
        per_query: dict = {name: [] for name in names}
        t_window = time.perf_counter()
        setup_s = t_window - T_PROCESS_START
        while True:
            for name in rng.sample(names, len(names)):
                t0 = time.perf_counter()
                ok = runner.execute(name, tracer)
                attempted += 1
                if ok:
                    latencies.append(time.perf_counter() - t0)
                    per_query[name].append(latencies[-1])
            passes += 1
            if time.perf_counter() - t_window >= args.seconds:
                break
        window_s = time.perf_counter() - t_window
        peak_rss_mb = _peak_rss_mb()

        mismatched = runner.verify(tracer)
        failed = attempted - len(latencies) + sum(
            n in mismatched for n in names) * passes
        qpm = len(latencies) / window_s * 60
        verify_s = time.perf_counter() - t_window - window_s
    finally:
        tracer.close()
        _stop_session(spark)

    if not latencies:
        print("perfbench: every query failed", file=sys.stderr)
        return 1
    if args.trace:
        _add_durations(tracer.spans)
        metrics = _layer_metrics(tracer.spans, passes)
        metrics.update({
            "session.start_s": (session_start_s, "s"),
            "warmup.s": (warmup_s, "s"),
            "errors.construct": (runner.errors["construct"], "count"),
            "errors.execute": (runner.errors["execute"], "count"),
            "verify.mismatches": (len(mismatched), "count"),
            "trace.queries_per_min": (qpm, "1/min"),
        })
    else:
        p90 = (statistics.quantiles(latencies, n=10, method="inclusive")[8]
               if len(latencies) > 1 else latencies[0])
        metrics = {
            "queries_per_min": (qpm, "1/min"),
            "latency_p50_s": (statistics.median(latencies), "s"),
            "latency_p90_s": (p90, "s"),
            "setup_s": (setup_s, "s"),
            "peak_rss_mb": (peak_rss_mb, "MB"),
        }

    print(f"perfbench workload={args.workload} seed={args.seed} "
          f"trace={args.trace} local[{CPUS}] passes={passes} "
          f"queries={len(names)} window_s={window_s:.3f} "
          f"warmup_s={warmup_s:.3f} verify_s={verify_s:.3f}")
    for k, (v, u) in metrics.items():
        print(f"{k} {v:.6g} {u}")
    print(f"failed_frac {failed / attempted:.6g} frac")
    result = {
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }
    results_dir = os.path.join(OUT, "results")
    os.makedirs(results_dir, exist_ok=True)
    stem = os.path.join(results_dir,
                        f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(f"{stem}.json", "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed,
                   "passes": passes, "window_s": window_s,
                   "latency_s": per_query,
                   "mismatched": mismatched, **result}, f, indent=1)
    if args.trace:
        with open(f"{stem}-ledger.json", "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "passes": passes, "queries": _ledger(tracer.spans),
                       "spans": tracer.spans}, f, indent=1)
        print(f"ledger {stem}-ledger.json")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Capture the FINAL adaptive plan (post-execution) for declared queries.

Usage: python tools/capture_final_plans.py <out_dir> <suffix> q81_... [...]
Executes each query once (collect) so AQE finalizes, then writes
<out_dir>/<name>_<suffix>.txt with the final-plan section.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

OUT = sys.argv[1]
SUFFIX = sys.argv[2]
NAMES = [a for a in sys.argv[3:] if a.startswith("q")]
SF_DIR = next((a for a in sys.argv[3:] if a.startswith("/")),
              "/root/testdata/sf0.1")


def main():
    from pyspark.sql import SparkSession

    from polars_ruby_spark.session import _env_count, configure

    cpus = _env_count("SPARK_GRAFT_CPUS", "32", star=True)
    spark = configure(
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("final-plan-capture")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
    ).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry

    qs = entry.queries()
    os.makedirs(OUT, exist_ok=True)
    for name in NAMES:
        df = qs[name](spark, SF_DIR)
        df.collect()
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        with open(os.path.join(OUT, f"{name}_{SUFFIX}.txt"), "w") as f:
            f.write(buf.getvalue())
        print(name, "ok")


if __name__ == "__main__":
    main()

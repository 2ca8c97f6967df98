"""Capture .explain("formatted") for a set of declared queries.

Usage: python tools/capture_plans.py <out_dir> q157_... q160_... [sf_dir]
Plan construction only — nothing executes.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

OUT = sys.argv[1]
NAMES = [a for a in sys.argv[2:] if a.startswith("q")]
SF_DIR = next((a for a in sys.argv[2:] if a.startswith("/")),
              "/root/testdata/sf0.1")


def main():
    from pyspark.sql import SparkSession

    from polars_ruby_spark.session import _env_count, configure

    cpus = _env_count("SPARK_GRAFT_CPUS", "32", star=True)
    spark = configure(
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("plan-capture")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
    ).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry

    qs = entry.queries()
    os.makedirs(OUT, exist_ok=True)
    for name in NAMES:
        df = qs[name](spark, SF_DIR)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        with open(os.path.join(OUT, f"{name}.txt"), "w") as f:
            f.write(buf.getvalue())
        print(name, "ok")


if __name__ == "__main__":
    main()

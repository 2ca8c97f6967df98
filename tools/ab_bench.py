"""Interleaved A/B bench runner (round-12 VERDICT ask #1).

Runs ``bench.py`` alternately from two trees, N alternations each, on the
same box in one sitting, and reports min-of-N per query per tree.  Tree A
is ``AB_TREE_A`` (default: this checkout); tree B is ``AB_TREE_B``, which
must name an existing directory, such as a ``git archive`` of the parent
commit.  Interleaving plus
min-of-N is the methodology OPTIMIZATION_r11.md documents for this
sandbox's multi-minute hypervisor throughput waves: a wave slows both
trees' adjacent runs alike, and the min is the fast-phase floor.

Usage:
    AB_TREE_B=<dir> python tools/ab_bench.py [out.json] [runs_per_tree] [bench_only]

``out.json`` defaults to ``ab_bench.json`` in ``tempfile.gettempdir()``,
never a committed file.  Environment mirrors the driver: SPARK_GRAFT_SF_DIR
(default sf0.1), SPARK_GRAFT_CPUS (default 32).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from polars_ruby_spark.session import _env_count  # noqa: E402

CPUS = _env_count("SPARK_GRAFT_CPUS", "32", star=True)
TREE_A = os.environ.get("AB_TREE_A", ROOT)
TREE_B = os.environ.get("AB_TREE_B", "")
LABEL_A = os.environ.get("AB_LABEL_A", "head")
LABEL_B = os.environ.get("AB_LABEL_B", "base")

OUT = (sys.argv[1] if len(sys.argv) > 1
       else os.path.join(tempfile.gettempdir(), "ab_bench.json"))
RUNS = int(sys.argv[2]) if len(sys.argv) > 2 else 3
ONLY = sys.argv[3] if len(sys.argv) > 3 else None


def run_bench(tree: str) -> dict:
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    env["SPARK_GRAFT_CPUS"] = CPUS
    if ONLY:
        env["SPARK_GRAFT_BENCH_ONLY"] = ONLY
    t0 = time.time()
    p = subprocess.run([sys.executable, "bench.py"], cwd=tree, env=env,
                       capture_output=True, text=True, timeout=3600)
    wall = round(time.time() - t0, 1)
    last = [l for l in p.stdout.strip().splitlines()
            if l.startswith("{") and "headline" in l]
    doc = json.loads(last[-1]) if last else None
    return {"rc": p.returncode, "wall": wall, "doc": doc,
            "stderr_tail": p.stderr[-2000:] if p.returncode else ""}


def main():
    if not os.path.isdir(TREE_B):
        raise SystemExit(f"AB_TREE_B={TREE_B!r}: set it to an existing "
                         "directory holding the tree to compare against")
    runs = {LABEL_A: [], LABEL_B: []}
    order = []
    for i in range(RUNS):
        for label, tree in ((LABEL_A, TREE_A), (LABEL_B, TREE_B)):
            r = run_bench(tree)
            runs[label].append(r)
            order.append(label)
            q = r["doc"]["queries"] if r["doc"] else {}
            tot = r["doc"]["value"] if r["doc"] else None
            print(f"[{time.strftime('%H:%M:%S')}] run {i+1} {label}: "
                  f"rc={r['rc']} total={tot} wall={r['wall']}s", flush=True)
            if r["rc"]:
                print(r["stderr_tail"], flush=True)

    def min_per_query(rs):
        out = {}
        for r in rs:
            if not r["doc"]:
                continue
            for k, v in r["doc"]["queries"].items():
                out[k] = min(out.get(k, v), v)
        return out

    mins = {lab: min_per_query(rs) for lab, rs in runs.items()}
    # a run whose headline did not parse contributes nothing to its tree's
    # min: record how many runs each min actually covers, and say so when
    # it is fewer than asked for
    parsed = {lab: sum(1 for r in rs if r["doc"]) for lab, rs in runs.items()}
    for lab, n in parsed.items():
        if n < RUNS:
            print(f"WARNING: {lab}: only {n} of {RUNS} runs produced a "
                  "parsed headline; its min-of-N is over those", flush=True)
    common = sorted(set(mins[LABEL_A]) & set(mins[LABEL_B]))
    per_query = {}
    for q in common:
        a, b = mins[LABEL_A][q], mins[LABEL_B][q]
        sp = round(b / a, 3) if a else None
        per_query[q] = {LABEL_A + "_min": a, LABEL_B + "_min": b,
                        "speedup_vs_" + LABEL_B: sp,
                        "status": ("improved" if sp and sp > 1.1 else
                                   "regressed" if sp and sp < 0.9 else "flat")}
    tot_a = round(sum(mins[LABEL_A][q] for q in common), 3)
    tot_b = round(sum(mins[LABEL_B][q] for q in common), 3)
    doc = {
        "methodology": f"interleaved A/B, {RUNS} alternations per tree, "
                       "min-of-N per query per tree, same box same sitting",
        "order": order,
        "trees": {LABEL_A: TREE_A, LABEL_B: TREE_B},
        "cpus": CPUS,
        "sf_dir": os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
        "only": ONLY,
        "runs_per_tree": RUNS,
        "parsed_runs": parsed,
        "total_min_" + LABEL_A: tot_a,
        "total_min_" + LABEL_B: tot_b,
        "total_speedup_vs_" + LABEL_B: round(tot_b / tot_a, 3) if tot_a else None,
        "per_query": per_query,
        "raw_totals": {lab: [r["doc"]["value"] if r["doc"] else None
                             for r in rs] for lab, rs in runs.items()},
    }
    with open(OUT, "w") as f:
        json.dump(doc, f, indent=1)
    print(json.dumps({k: doc[k] for k in
                      ("total_min_" + LABEL_A, "total_min_" + LABEL_B,
                       "total_speedup_vs_" + LABEL_B, "parsed_runs")}))
    n_reg = sum(1 for v in per_query.values() if v["status"] == "regressed")
    n_imp = sum(1 for v in per_query.values() if v["status"] == "improved")
    print(f"regressed={n_reg} improved={n_imp} of {len(common)}; wrote {OUT}")


if __name__ == "__main__":
    main()

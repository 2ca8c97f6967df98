"""Plan-shape audit over every driver query (SCALE.md enforcement).

For each query in __spark_entry__.queries(), builds the physical plan at a
small SF (analysis only — nothing executes) and flags:

- ``Exchange SinglePartition`` NOT fed by an O(partitions)- or O(chunks)-row
  totals aggregate or a keyless/limit-bounded input;
- ``CartesianProduct``/``BroadcastNestedLoopJoin`` outside queries that are
  cross joins by definition;
- parquet scans with no pruned ReadSchema;
- a Python node (``MapInPandas``, ``FlatMapGroupsInArrow``,
  ``ArrowEvalPython``, ...) printed twice with the same text once
  expression ids are stripped: the same Python pass runs twice.

Usage: python tools/plan_audit.py [sf_dir]
Exit code 1 if any violation is found.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ALLOWED_NESTED_LOOP = {
    "q09_join_cross",
    # exact-degenerate LSH regime (n_planes=0): the constant bucket key
    # folds away, leaving a broadcast of the 20-row query set over the
    # corpus — the sanctioned brute-force shape (the approximate n_planes>0
    # scale path plans a bucket equi-join)
    "q50_lsh_ann",
}
# documented inherently-sequential parity ops (full-column collect)
ALLOWED_SEQUENTIAL = {"q73_rle"}
SKIP = {"q51_streaming_window", "q71_stream_dedup",
        "q151_stream_windowed_agg", "q152_stream_dedup_replay",
        "q153_stream_running_count",
        "q154_stream_session_replay"}  # execute streams


def single_partition_violations(plan: str) -> int:
    """SinglePartition exchanges that move FULL data.  Sanctioned children:
    - a per-partition totals table keyed on ``__rix_pid__`` (O(partitions)
      rows);
    - a keyless merge/partial aggregate (global agg: the exchange carries
      one pre-aggregated row per partition, the canonical two-phase plan).
    """
    lines = plan.splitlines()
    bad = 0
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" not in line:
            continue
        child = "\n".join(lines[i + 1:i + 3])
        if "__rix_pid__" in child and "Aggregate(" in child:
            # the O(partitions)-row per-partition totals table (the rank
            # prefix table's offsets) — NOT any full-data exchange that
            # merely sits above its join (that leak previously sanctioned
            # q27's single-task rle window)
            continue
        if ("Aggregate(keys=[__rix_chk__" in child
                or "Aggregate(key=[__rix_chk__" in child):
            # the O(chunks)-row deterministic-chunk totals table (round-7
            # attach_global_cum_multi/rle_id shape) — chunk count is bounded by
            # the configured chunk target, same class as __rix_pid__; the
            # AGGREGATE is required so a full-data exchange that merely
            # carries the chunk column stays flagged
            continue
        if ("Aggregate(keys=[]" in child or "Aggregate(key=[]" in child) \
                and "partial_collect_list(struct(i" not in child:
            # a KEYLESS aggregate directly under the exchange emits at most
            # one row per task (two-phase global agg / scalar stats; also
            # the empty pruned form functions=[]) — the single-task
            # anti-pattern puts the aggregate ABOVE the exchange instead
            continue
        if "TakeOrderedAndProject" in child:
            # post-limit exchange: carries at most the limit's k rows
            continue
        if "LocalLimit" in child:
            # GlobalLimit's exchange: each task contributes at most the
            # limit's k rows (LocalLimit runs before the exchange)
            continue
        bad += 1
    return bad


def _window_spec_groups(stripped: str) -> list[str]:
    """Top-level ``[...]`` groups of a ``Window`` plan node line:
    ``Window [fns], [partSpec], [orderSpec]`` (3 groups when partitioned
    AND ordered, 2 when one spec is absent, 1 when both are)."""
    groups, depth, cur = [], 0, None
    for ch in stripped:
        if ch == "[":
            depth += 1
            if depth == 1:
                cur = ""
                continue
        elif ch == "]":
            depth -= 1
            if depth == 0:
                groups.append(cur)
                cur = None
                continue
        if cur is not None:
            cur += ch
    return groups


def unpartitioned_window_violations(plan: str) -> int:
    """``Window`` nodes with NO partition spec funnel the whole input
    through one task (round-6 tightening: the old rule only caught an
    ``Exchange SinglePartition`` printed DIRECTLY under the Window, so a
    global window behind a Sort/Project wrapper passed silently).

    Detection is on the node itself: a partitioned window prints
    ``Window [fns], [partSpec], [orderSpec]``; unpartitioned ones lack the
    plain-column middle group (an order spec always carries ASC/DESC).
    Sanctioned ONLY when the window provably sits over a BOUNDED frame:
    the O(partitions)-row ``__rix_pid__`` offset table, a keyless (scalar)
    aggregate, or a limit-bounded input — searched through Sort/Project/
    codegen wrappers, not just the next line."""
    lines = plan.splitlines()
    bad = 0
    for i, line in enumerate(lines):
        stripped = line.lstrip(" +-:*")
        if not stripped.startswith("Window "):
            continue
        groups = _window_spec_groups(stripped)
        has_part = len(groups) >= 3 or (
            len(groups) == 2 and " ASC" not in groups[1]
            and " DESC" not in groups[1])
        if has_part:
            continue
        bounded = False
        for ln in lines[i + 1:i + 10]:
            s = ln.lstrip(" +-:*")
            # late round-10 tightening: the O(partitions) offsets table is
            # sanctioned by its AGGREGATE keyed on the partition id — a
            # bare "__rix_pid__" match also fired on the row-index JOIN
            # sitting under a full-data window (the keyless bounded-frame
            # limited-fill shape passed silently before it was rerouted)
            if ("Aggregate(keys=[__rix_pid__" in s
                    or "Aggregate(key=[__rix_pid__" in s
                    or "HashAggregate(keys=[]" in s
                    or "SortAggregate(key=[]" in s
                    or "TakeOrderedAndProject" in s or "LocalLimit" in s
                    # O(chunks)-row deterministic-chunk totals (round-7);
                    # the AGGREGATE keyed on the chunk id is required — a
                    # window over the full chunked base (whose Project also
                    # prints __rix_chk__) stays flagged
                    or "Aggregate(keys=[__rix_chk__" in s
                    or "Aggregate(key=[__rix_chk__" in s):
                bounded = True
                break
            if s.startswith("Window "):  # another full-data window below
                break
        if not bounded:
            bad += 1
    return bad


# legacy name kept for callers/tests
empty_partition_window_violations = unpartitioned_window_violations


_PYTHON_NODE = re.compile(
    r"(MapIn|FlatMap(Co)?GroupsIn)(Pandas|Arrow|Batch)\b"
    r"|(Arrow|Batch)EvalPython(UDTF)?\b|Arrow(Aggregate|Window)Python\b")


def repeated_python_nodes(plan: str) -> int:
    """Python nodes whose line, with the tree prefix and expression ids
    (``#12``, ``#12L``) stripped, appears more than once in ``plan``: each
    repeat is one more run of the same Python pass over the same input."""
    seen: dict[str, int] = {}
    for line in plan.splitlines():
        node = re.sub(r"^[\s+\-:*()\d]*", "", line)
        if _PYTHON_NODE.match(node):
            key = re.sub(r"#\d+L?", "", node)
            seen[key] = seen.get(key, 0) + 1
    return sum(n - 1 for n in seen.values())


def has_bad_nested_loop(plan: str) -> bool:
    """BroadcastNestedLoopJoin is sanctioned ONLY as the scalar-stats attach
    (crossJoin with a broadcast ONE-ROW keyless aggregate — e.g. corpus
    N/avgdl in BM25/TF-IDF): its build side prints as
    ``BroadcastExchange IdentityBroadcastMode`` directly over
    ``HashAggregate(keys=[]``.  Any other BNLJ is a data-sized loop join.
    """
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "BroadcastNestedLoopJoin" not in line:
            continue
        sanctioned = False
        for j in range(i + 1, min(i + 60, len(lines) - 1)):
            if "BroadcastExchange IdentityBroadcastMode" not in lines[j]:
                continue
            # the keyless aggregate may sit under a scalar Project
            # (e.g. getField/cast over min(struct) — still one row)
            for k in range(j + 1, min(j + 4, len(lines))):
                # SortAggregate appears when the aggregate buffers structs
                # (deterministic-tie arg_min/arg_max) — still one row
                if "HashAggregate(keys=[]" in lines[k] \
                        or "SortAggregate(key=[]" in lines[k]:
                    sanctioned = True
                    break
                if not lines[k].lstrip(" +-*:").startswith(
                        ("Project", "ColumnarToRow", "WholeStageCodegen")):
                    break
            if sanctioned:
                break
        if not sanctioned:
            return True
    return False


def audit(sf_dir: str) -> int:
    from polars_ruby_spark.session import get_spark

    import __spark_entry__ as entry

    spark = get_spark()
    failures = 0
    for name, fn in entry.queries().items():
        if name in SKIP:
            continue
        try:
            plan = fn(spark, sf_dir)._jdf.queryExecution() \
                .executedPlan().toString()
        except Exception as e:  # a broken query is a VIOLATION, not an abort
            failures += 1
            print(f"✗ {name}: EXCEPTION {type(e).__name__}: {e}")
            continue
        problems = []
        n = single_partition_violations(plan)
        if n and name not in ALLOWED_SEQUENTIAL:
            problems.append(f"{n} unsanctioned single-partition exchange(s)")
        nw = empty_partition_window_violations(plan)
        if nw and name not in ALLOWED_SEQUENTIAL:
            problems.append(f"{nw} empty-partitionBy window(s) over full data")
        if ("CartesianProduct" in plan or has_bad_nested_loop(plan)) \
                and name not in ALLOWED_NESTED_LOOP:
            problems.append("nested-loop join")
        nr = repeated_python_nodes(plan)
        if nr:
            problems.append(f"{nr} repeated Python node(s)")
        if problems:
            failures += 1
            print(f"✗ {name}: {'; '.join(problems)}")
        else:
            print(f"✓ {name}")
    print(f"\n{failures} violations")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(audit(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"))

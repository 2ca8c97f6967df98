"""Sequence packing: assign documents to contiguous token-budget shards
(beyond-reference; the pre-tokenization sharding step of an LLM training
pipeline).

A document's shard is the budget-sized bin its FIRST token lands in when
documents are laid out in id order: ``shard = floor((cum_tokens - n_tokens)
/ budget)``.  Contiguous by construction (shards can be written out as
independent files), deterministic, and oracle-able with a window sum.

Scale shape: the global cumulative sum does NOT use an unpartitioned window
(single-task funnel).  It reuses the row-index construction
(``operators/row_index.py``): per-partition sums → O(partitions)-row offset
table → broadcast join back, so each task computes its local prefix sums
plus a constant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def pack_greedy(sdf: DataFrame, token_col: str, id_col: str = "doc_id",
                budget: int = 2048) -> DataFrame:
    """→ ``(id, n_tokens, shard_id, shard_offset)``, ordered by id.

    ``shard_offset`` is the document's starting token position within its
    shard; a downstream writer can place each doc without re-scanning.
    """
    # sort by id → range partitioner emits globally ordered partitions;
    # two-phase prefix sum over those partitions (no single-task window)
    # localCheckpoint pins ONE sampled range layout: `local` is consumed by
    # both the output join and the offsets branch — as separate subtrees
    # each would re-execute the range exchange with its own sampled
    # boundaries, corrupting the pid→offset mapping (the bug class
    # row_index.attach_global_cum_multi documents)
    ordered = sdf.select(F.col(id_col), F.col(token_col).alias("n_tokens")) \
        .repartitionByRange(id_col).sortWithinPartitions(id_col) \
        .localCheckpoint(eager=False) \
        .withColumn("__rix_pid__", F.spark_partition_id())
    local = ordered.withColumn(
        "local_cum",
        F.sum("n_tokens").over(
            Window.partitionBy("__rix_pid__").orderBy(id_col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    per_part = local.groupBy("__rix_pid__").agg(F.sum("n_tokens").alias("part_sum"))
    offsets = per_part.withColumn(
        "part_offset",
        F.coalesce(
            F.sum("part_sum").over(
                Window.orderBy("__rix_pid__")
                .rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0)))
    out = local.join(F.broadcast(offsets.select("__rix_pid__", "part_offset")), "__rix_pid__")
    cum = F.col("part_offset") + F.col("local_cum")
    start = cum - F.col("n_tokens")
    return (out.select(
        F.col(id_col), F.col("n_tokens"),
        F.floor(start / budget).alias("shard_id"),
        (start % budget).alias("shard_offset")))

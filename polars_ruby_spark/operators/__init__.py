"""Custom operators: row-index machinery, joins (equi + as-of), reshape,
upsample, dedup, similarity, text analysis, multimodal plumbing."""


def ensure_parallelism(sdf):
    """Repartition only when the scan gives fewer partitions than cores.

    CPU-heavy projections (shingle/hash/dot-product pipelines) on a small
    local file arrive as ONE partition and run single-threaded.  At 100 TB
    the scan already yields thousands of partitions and this is a no-op —
    no shuffle is added on the big path.

    Only an input with no exchange is counted.  Building the input's RDD
    under AQE runs every upstream shuffle stage at once: a Spark job at
    construction.  AQE wraps exactly the plans with an exchange (or
    subquery) in ``AdaptiveSparkPlanExec``, and building the executed plan
    plans the query but runs nothing.  Such an input is returned as it is:
    its partitions come from a shuffle, which AQE sizes.
    """
    plan = sdf._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        return sdf
    target = sdf.sparkSession.sparkContext.defaultParallelism
    if plan.execute().getNumPartitions() < target:
        return sdf.repartition(target)
    return sdf

"""Physical-plan introspection helpers.

Used by the plan-guardrail tests and available for ad-hoc tuning: a plan
that stops pushing filters to the scan, stops broadcasting a dimension, or
introduces a cartesian product is a scale regression even when results
stay correct.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def jobs_submitted(spark: SparkSession) -> int:
    """Spark jobs submitted so far in this context: the newest job id +
    1, read after the listener bus drains. The status store is fed
    asynchronously and keeps only the last ``spark.ui.retainedJobs``
    jobs, so neither an undrained read nor its size is a counter."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    jobs = sc.statusStore().jobsList(None)  # newest first
    return jobs.head().jobId() + 1 if jobs.nonEmpty() else 0


def executed_plan(df: DataFrame) -> str:
    """String form of the (possibly AQE-unfinalized) physical plan."""
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def pushed_filters(df: DataFrame) -> str:
    """The PushedFilters section(s) of the scan nodes, for assertions."""
    plan = executed_plan(df)
    return "\n".join(
        line.strip() for line in plan.splitlines() if "PushedFilters" in line
    )


def has_cartesian(df: DataFrame) -> bool:
    plan = executed_plan(df)
    return "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan


def join_strategies(df: DataFrame) -> list[str]:
    plan = executed_plan(df)
    return [
        s for s in (
            "BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
            "BroadcastNestedLoopJoin", "CartesianProduct",
        )
        if s in plan
    ]


def plan_summary(df: DataFrame) -> dict:
    """One-call scale audit of a DataFrame's physical plan: the
    properties every operator here is tuned for (and that the
    guardrail tests assert one by one), as a plain dict —
    `python -m opensea_datapipeline_spark explain <query>` prints it,
    so a user can check "did my filter reach the scan / did the dim
    broadcast / how many shuffles" without reading plan trees.

    Counting note: `toString()` inlines cached subplans at every
    consumer, so scan/exchange counts over-report when
    `cached_subplans > 0` — trust the booleans and join list there,
    and read the real scan count as "once per cache population".
    `codegen_spans` is 0 until the plan has executed once (AQE
    finalizes whole-stage codegen at runtime); call after an action
    when auditing codegen.
    """
    plan = executed_plan(df)
    scans = plan.count("Scan parquet") + plan.count("Scan orc")
    return {
        "parquet_or_orc_scans": scans,
        "pushed_filters": [
            line.strip()
            for line in plan.splitlines()
            if "PushedFilters: [" in line and "PushedFilters: []" not in line
        ],
        "partition_filters": sum(
            "PartitionFilters: [" in line and "PartitionFilters: []" not in line
            for line in plan.splitlines()
        ),
        "exchanges": plan.count("Exchange hashpartitioning")
        + plan.count("Exchange rangepartitioning"),
        "broadcast_exchanges": plan.count("BroadcastExchange"),
        "join_strategies": join_strategies(df),
        "has_cartesian": has_cartesian(df),
        "codegen_spans": plan.count("*("),
        "python_stages": plan.count("MapInPandas")
        + plan.count("FlatMapGroupsInPandas")
        + plan.count("ArrowEvalPython")
        + plan.count("BatchEvalPython"),
        "row_at_a_time_python": plan.count("BatchEvalPython"),
        "cached_subplans": plan.count("InMemoryTableScan"),
    }

"""Incremental gold-table maintenance from a stream — ``foreachBatch``
wired to the mergeable-aggregate machinery in ``plans.incremental``.

This closes the loop between the streaming and incremental modules
(SURVEY.md §2.9 stretch): instead of a streaming sink that only appends
finalized windows, each micro-batch is reduced to its combinable per-day
summary and MERGED into a versioned gold table. History is never
re-aggregated — per batch the work is (batch rows → ~distinct-days rows)
plus a shuffle sized by distinct days, which is what keeps a daily gold
table maintainable when the event log is 100 TB and a batch is a sliver
of it.

State discipline is the shared versioned store
(``streaming/lifecycle.py``): replayed batch ids are skipped, each merge
publishes a new ``batch_*`` version by tmp dir + atomic rename, and the
merge base is always the version the meta names.

The distinct-users column uses HLL sketches (``hll_sketch_agg`` /
``hll_union_agg``): unlike the additive count columns, sketch union is
idempotent for re-seen users, and it is the ONLY distinct form that
merges across batches at all (Flajolet et al. HyperLogLog; Agarwal et
al., "Mergeable summaries", PODS 2012).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .lifecycle import VersionedState, run_available_now

GOLD_COLS = [
    "event_date",
    "total_transactions",
    "volume_total",
    "value_min",
    "value_max",
    "users_sketch",
]


def batch_gold_summary(events: DataFrame) -> DataFrame:
    """One micro-batch reduced to its mergeable per-day gold row: monoid
    stats (count/sum/min/max) + an HLL user sketch. Map-side combinable,
    one shuffle keyed by distinct days in the batch."""
    # volume accumulates as DECIMAL: incremental merges re-sum in batch
    # order, and float addition is not associative — decimal keeps the
    # gold table bit-identical to a one-shot batch aggregate regardless
    # of how the backlog was sliced (FIXTURES.md float-parity rule).
    return events.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("event_date")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("total_transactions"),
        F.sum(F.col("value").cast("decimal(22,8)"))
        .cast("decimal(22,8)").alias("volume_total"),
        F.min("value").alias("value_min"),
        F.max("value").alias("value_max"),
        F.hll_sketch_agg("user_id").alias("users_sketch"),
    )


def merge_gold_daily(existing: DataFrame, batch_summary: DataFrame) -> DataFrame:
    """Merge a batch summary into the gold table: additive/extremal monoid
    ops for the stats, sketch union for distincts. Disjoint days pass
    through; overlapping days combine losslessly."""
    combined = existing.select(GOLD_COLS).unionByName(
        batch_summary.select(GOLD_COLS)
    )
    return combined.groupBy("event_date").agg(
        F.sum("total_transactions").cast("long").alias("total_transactions"),
        # re-cast: decimal sums widen precision per merge, which would
        # drift the stored schema version-over-version
        F.sum("volume_total").cast("decimal(22,8)").alias("volume_total"),
        F.min("value_min").alias("value_min"),
        F.max("value_max").alias("value_max"),
        F.hll_union_agg("users_sketch").alias("users_sketch"),
    )


def run_incremental_gold_daily(
    spark: SparkSession,
    events_dir: str,
    gold_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Stream ``events_dir`` (AvailableNow) and maintain the versioned
    daily gold table under ``gold_dir`` via idempotent foreachBatch
    merges. Returns the final gold table with the readable
    ``approx_unique_users`` estimate surfaced.

    Restartable: the checkpoint resumes source offsets; the meta file
    makes replayed batch ids no-ops, so crash-replay cannot double-count.
    """
    state = VersionedState(gold_dir)

    def merge(existing: DataFrame | None, batch_df: DataFrame) -> DataFrame:
        summary = batch_gold_summary(batch_df)
        if existing is None:
            return summary.select(GOLD_COLS)
        return merge_gold_daily(existing, summary)

    run_available_now(
        spark, events_dir, checkpoint_dir, gold_dir, "gold-table stream",
        state.merge_batches(merge), max_files_per_trigger,
    )
    gold = state.read(spark)
    if gold is None:
        raise ValueError(f"no gold versions produced under {gold_dir}")
    return gold.select(
        "event_date",
        "total_transactions",
        F.col("volume_total").cast("double").alias("volume_total"),
        "value_min",
        "value_max",
        F.hll_sketch_estimate("users_sketch").cast("long").alias(
            "approx_unique_users"
        ),
    )

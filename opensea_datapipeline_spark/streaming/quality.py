"""Streaming data-quality gate: per-micro-batch PSI against a frozen
reference distribution.

The batch operator (`operators.aggregates.population_stability`) answers
"did the corpus drift between two periods"; a 100 TB/day ingest needs the
STREAMING form — every micro-batch scored against the distribution the
models were trained on, so a shifted upstream (schema change, broken
source, seasonal regime) trips an alert within one trigger rather than at
the next offline audit. State is one tiny row per batch; the reference is
a pre-aggregated bucket table that broadcasts, so the per-batch cost is
one conditional aggregate over the batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.literals import local_frame
from ..operators.aggregates import population_stability
from ..sources.readers import ensure_reader_confs


def psi_against_reference(
    batch_df: DataFrame,
    reference: DataFrame,
    value_col: str,
    bucket_width: float,
    max_bucket: int,
) -> DataFrame:
    """One-row (psi_total, n_rows) for a batch vs the frozen reference —
    the reference rows get period='base', the batch 'curr', and the
    batch operator does the rest. ``reference`` should be a bounded
    sample or pre-aggregated slice at scale; it is re-read per batch."""
    tagged = reference.select(F.col(value_col)).withColumn(
        "period", F.lit("base")
    ).unionByName(
        batch_df.select(F.col(value_col)).withColumn("period", F.lit("curr"))
    )
    psi = population_stability(
        tagged, value_col, "period", bucket_width, max_bucket
    )
    return psi.agg(
        F.max("psi_total").alias("psi_total"),
        F.sum("n_curr").cast("long").alias("n_rows"),
    )


def run_streaming_psi_monitor(
    spark: SparkSession,
    stream_dir: str,
    reference: DataFrame,
    monitor_path: str,
    checkpoint_dir: str,
    value_col: str = "value",
    bucket_width: float = 25.0,
    max_bucket: int = 8,
    schema=None,
    max_files_per_trigger: int | None = None,
) -> None:
    """foreachBatch monitor: append (batch_id, n_rows, psi_total) to a
    parquet monitor table per micro-batch. AvailableNow over a static
    directory gives the deterministic backfill form; on a live stream the
    same code runs unbounded with the checkpoint carrying progress."""
    ensure_reader_confs(spark)
    reader = spark.readStream
    if schema is not None:
        reader = reader.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(stream_dir)

    def score_batch(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        row = psi_against_reference(
            batch_df, reference, value_col, bucket_width, max_bucket
        ).first()
        local_frame(
            batch_df.sparkSession,
            [(int(batch_id), row.n_rows, float(row.psi_total))],
            "batch_id LONG, n_rows LONG, psi_total DOUBLE",
        ).write.mode("append").parquet(monitor_path)

    # availableNow terminates on its own once the backfill drains; await
    # WITHOUT a timeout so the monitor table is guaranteed complete before
    # any caller (the CLI `monitor` subcommand) reads it — a timed await
    # returning False here silently truncated the batch set (ADVICE r6).
    q = (
        stream.writeStream.foreachBatch(score_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

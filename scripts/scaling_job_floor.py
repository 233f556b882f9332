"""Per-batch Spark-JOB floor of the streaming loops (VERDICT r15 #5).

Measures the MARGINAL jobs-per-batch of each foreachBatch loop by
running it twice — once with 2 source files, once with 4 — against the
driver's AppStatusStore job counter: (jobs_4b - jobs_2b) / 2 isolates
the steady per-trigger cost from session/bootstrap fixed costs. The
r16 trim used this harness to take the topk merge from 8 to 5
jobs/batch (write-with-Observation fusion) and the corpus-dedup loop
from 11 to 8 driver actions/batch (gate limit-collect + observed
n_delta); SCALING.md §job floor records the before/after and the floor
arguments for what remains.

Usage: python scripts/scaling_job_floor.py
Prints one JSON object: {loop: {jobs_per_batch, jobs_2b, jobs_4b}}.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from opensea_datapipeline_spark.plans.inspect import jobs_submitted  # noqa: E402
from opensea_datapipeline_spark.session import get_spark  # noqa: E402


def main() -> None:
    spark = get_spark("scaling-job-floor", freeze_gc=True)
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")

    events = spark.range(5000).select(
        (F.col("id") % 37).alias("user_id"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("ts"),
        (F.col("id") % 100).cast("double").alias("value"),
    )

    def topk_loop(nb: int) -> None:
        from opensea_datapipeline_spark.streaming.topk import (
            run_streaming_topk,
        )

        src = tempfile.mkdtemp() + "/src"
        for _ in range(nb):
            events.coalesce(1).write.mode("append").parquet(src)
        run_streaming_topk(
            spark, src, tempfile.mkdtemp(), tempfile.mkdtemp(),
            key_col="user_id", cap=1_000_000,
        ).collect()

    def kmv_loop(nb: int) -> None:
        from opensea_datapipeline_spark.streaming.sketch import (
            run_streaming_kmv,
        )

        src = tempfile.mkdtemp() + "/src"
        for _ in range(nb):
            events.coalesce(1).write.mode("append").parquet(src)
        run_streaming_kmv(
            spark, src, tempfile.mkdtemp(), tempfile.mkdtemp(),
            key_col="user_id", k=64,
        ).collect()

    def ddsketch_loop(nb: int) -> None:
        from opensea_datapipeline_spark.streaming.sketch import (
            run_streaming_ddsketch,
        )

        src = tempfile.mkdtemp() + "/src"
        for _ in range(nb):
            events.coalesce(1).write.mode("append").parquet(src)
        run_streaming_ddsketch(
            spark, src, tempfile.mkdtemp(), tempfile.mkdtemp(),
        ).collect()

    def gold_loop(nb: int) -> None:
        from opensea_datapipeline_spark.streaming.gold import (
            run_incremental_gold_daily,
        )

        src = tempfile.mkdtemp() + "/src"
        for _ in range(nb):
            events.coalesce(1).write.mode("append").parquet(src)
        run_incremental_gold_daily(
            spark, src, tempfile.mkdtemp(), tempfile.mkdtemp(),
        ).collect()

    def dedup_loop(nb: int) -> None:
        from opensea_datapipeline_spark.streaming.corpus_dedup import (
            run_streaming_corpus_dedup,
        )

        src = tempfile.mkdtemp() + "/src"
        for i in range(nb):
            spark.range(i * 200, (i + 1) * 200).select(
                F.col("id").alias("doc_id"),
                F.concat(
                    F.lit("tok"), (F.col("id") * 7 % 999).cast("string"),
                    F.lit(" w"), (F.col("id") % 50).cast("string"),
                    F.lit(" x"), (F.col("id") % 31).cast("string"),
                ).alias("text"),
            ).coalesce(1).write.mode("append").parquet(src)
        run_streaming_corpus_dedup(
            spark, src, tempfile.mkdtemp(), tempfile.mkdtemp()
        ).collect()

    out = {}
    for name, loop in [
        ("streaming_topk", topk_loop),
        ("streaming_kmv", kmv_loop),
        ("streaming_ddsketch", ddsketch_loop),
        ("gold_daily", gold_loop),
        ("corpus_dedup", dedup_loop),
    ]:
        j0 = jobs_submitted(spark)
        loop(2)
        j2 = jobs_submitted(spark) - j0
        j0 = jobs_submitted(spark)
        loop(4)
        j4 = jobs_submitted(spark) - j0
        out[name] = {
            "jobs_2b": j2,
            "jobs_4b": j4,
            "jobs_per_batch": round((j4 - j2) / 2, 1),
        }
    print(json.dumps(out, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()

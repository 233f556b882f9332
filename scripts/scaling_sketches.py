"""Sketch-vs-exact scaling (r10): Count-Min frequency probes and KMV
distinct-count against their exact counterparts at 1x and 10x events
growth (10x rows AND 10x user cardinality — scaled_events_dir offsets
user_id per replica).

The claim under test: sketch shuffle volume is STATE-sized (≤ depth x
width cells / ≤ k rows per partition) and therefore ~flat with growth,
while the exact forms shuffle the key cardinality. Shuffle bytes from
the UI REST API (deterministic); walls single-shot indicative.

Run:  python scripts/scaling_sketches.py [--scales=1,10]
"""
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from opensea_datapipeline_spark.operators.sketches import (  # noqa: E402
    count_min_estimates,
    kmv_distinct,
)
from opensea_datapipeline_spark.session import get_spark  # noqa: E402
from scaling_measure import measure  # noqa: E402
import scaling_events_growth as eg  # noqa: E402


def main() -> None:
    scales = [1, 10]
    for a in sys.argv[1:]:
        if a.startswith("--scales"):
            scales = [int(x) for x in a.split("=", 1)[1].split(",")]
    spark = get_spark(
        "scaling-sketches", extra_configs={"spark.ui.enabled": "true"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    eg.SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    legs = []
    for mult in scales:
        d = eg.scaled_events_dir(spark, mult)
        ev = spark.read.parquet(f"{d}/events.parquet")
        probes = spark.createDataFrame(
            [(i,) for i in range(20)], ["user_id"]
        )
        row = {"mult": mult, "n_rows": ev.count(), "ops": []}
        row["ops"].append(
            measure(
                spark,
                lambda: count_min_estimates(ev, "user_id", probes),
                "cm_probe20",
            )
        )
        row["ops"].append(
            measure(
                spark,
                lambda: ev.filter(F.col("user_id").isNotNull())
                .groupBy("user_id")
                .agg(F.count(F.lit(1)).alias("n"))
                .join(F.broadcast(probes), "user_id"),
                "exact_probe20",
            )
        )
        row["ops"].append(
            measure(spark, lambda: kmv_distinct(ev, "user_id", k=64), "kmv64")
        )
        row["ops"].append(
            measure(
                spark,
                lambda: ev.filter(F.col("user_id").isNotNull()).agg(
                    F.countDistinct("user_id").alias("n")
                ),
                "exact_distinct",
            )
        )
        legs.append(row)
        print(json.dumps(row))
    print(json.dumps({"legs": legs}))


if __name__ == "__main__":
    main()

"""Label-propagation skew/scale legs (r10): the claim under test is the
plan shape — per round the only shuffled tables are the (node, label)
VOTE COUNTS (map-side collapsed: a hot node's million in-edges that
agree on a label are ONE row per task before the exchange) and the
node-keyed label join; the raw adjacency never enters a window
partition. A planted star hub (one node every other node points at)
is the worst case: its votes collapse map-side because they share the
(hub, label) key.

Legs: ring+clusters graph at 1x/10x edges, then the same with a star
hub over every node. Shuffle bytes from the UI REST API; noop sink.

Run:  python scripts/scaling_label_prop.py [--scales=1,10]
"""
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from opensea_datapipeline_spark.operators import dedup  # noqa: E402
from opensea_datapipeline_spark.operators.graph import (  # noqa: E402
    label_propagation,
)
from opensea_datapipeline_spark.session import get_spark  # noqa: E402
from scaling_measure import measure  # noqa: E402

BASE_NODES = 100_000


def cluster_edges(spark, mult: int, hub: bool):
    """mult x BASE_NODES nodes in 1,000-node near-cliques (each node →
    its next 10 in-cluster neighbors, wrap-around), optionally plus a
    star hub receiving one edge from EVERY node."""
    n = BASE_NODES * mult
    nodes = spark.range(n)
    e = nodes.select(
        F.col("id").alias("src"),
        F.explode(
            F.array(*[F.lit(k) for k in range(1, 11)])
        ).alias("k"),
    ).select(
        "src",
        (
            (F.col("src") - (F.col("src") % 1000))
            + ((F.col("src") % 1000) + F.col("k")) % 1000
        ).alias("dst"),
    )
    if hub:
        e = e.unionByName(
            nodes.select(
                F.col("id").alias("src"), F.lit(n).alias("dst")
            )
        )
    return e


def main() -> None:
    scales = [1, 10]
    for a in sys.argv[1:]:
        if a.startswith("--scales"):
            scales = [int(x) for x in a.split("=", 1)[1].split(",")]
    # the legs measure the DISTRIBUTED loop, not the driver gate
    dedup.DRIVER_EDGE_GATE = 0
    spark = get_spark(
        "scaling-label-prop", extra_configs={"spark.ui.enabled": "true"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    legs = []
    for mult in scales:
        row = {"mult": mult, "ops": []}
        for hub in (False, True):
            e = cluster_edges(spark, mult, hub).localCheckpoint(
                eager=True
            )
            row["ops"].append(
                {
                    **measure(
                        spark,
                        lambda: label_propagation(e, iters=3),
                        f"lpa3_{'hub' if hub else 'flat'}",
                    ),
                    "n_edges": e.count(),
                    # hub graphs have one extra node (the star hub)
                    "n_nodes": BASE_NODES * mult + (1 if hub else 0),
                }
            )
        legs.append(row)
        print(json.dumps(row))
    print(json.dumps({"legs": legs}))


if __name__ == "__main__":
    main()

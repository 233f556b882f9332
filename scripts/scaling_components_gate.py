"""SCALING leg: the r13 probe-gated union-find in
``connected_components`` vs its distributed path, measured on
the real dedup edge sets (simhash near-dup pairs over replicated
documents corpora).

Claim under test: below the 100k-edge gate the driver path removes the
components loop's fixed job overhead without changing labels; above
the gate the resolver runs its distributed min-label/star path (the gate
probe is one bounded collect on a pinned table). The distributed leg
sets ``dedup.DRIVER_EDGE_GATE`` to 0.

Run:  python scripts/scaling_components_gate.py [--scales=1,10]
Prints one JSON object; paste/merge into SCALING_RUN_r13.json.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from opensea_datapipeline_spark.operators import dedup as dd
from opensea_datapipeline_spark.session import get_spark
from opensea_datapipeline_spark.sources.readers import load_table

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def capped_docs(spark, max_id: int):
    """The graded dedup_groups shape: doc_id < max_id. Radius-3 16-bit
    simhash over the near-dup corpus is a NEAR-CLIQUE generator, so the
    edge count is controlled through the doc cap, exactly like the
    graded query (max_id=300 -> ~48k edges, below the gate)."""
    return (
        load_table(spark, SF_DIR, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < max_id)
    )


def main() -> None:
    caps = [300, 600]
    for a in sys.argv[1:]:
        if a.startswith("--caps"):
            caps = [int(x) for x in a.split("=", 1)[1].split(",")]
    spark = get_spark("scaling-components-gate", freeze_gc=True)
    spark.sparkContext.setLogLevel("ERROR")
    legs = []
    for cap in caps:
        docs = capped_docs(spark, cap).localCheckpoint(eager=True)
        nodes = docs.select(F.col("doc_id").alias("id"))
        pairs = dd.simhash_near_dup_pairs(
            docs, "text", "doc_id", bits=16, radius=3
        ).localCheckpoint(eager=True)
        n_edges = pairs.count()
        leg = {"max_id": cap, "n_docs": docs.count(), "n_edges": n_edges}
        default_gate = dd.DRIVER_EDGE_GATE
        for tag, gate in (("gated", default_gate), ("distributed", 0)):
            dd.DRIVER_EDGE_GATE = gate
            # warm once, then min-of-3
            fn = lambda: dd.connected_components(
                nodes, pairs, id_col="id", src_col="id_a", dst_col="id_b"
            ).select("group_id").distinct().count()
            groups = fn()
            walls = []
            for _ in range(3):
                t0 = time.perf_counter()
                fn()
                walls.append(round(time.perf_counter() - t0, 3))
            leg[tag] = {"wall_s": min(walls), "walls": walls,
                        "groups": groups}
        dd.DRIVER_EDGE_GATE = default_gate
        assert leg["gated"]["groups"] == leg["distributed"]["groups"]
        legs.append(leg)
        print(json.dumps(leg))
    print(json.dumps({"components_gate": legs}))


if __name__ == "__main__":
    main()

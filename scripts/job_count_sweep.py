"""Count driver-synchronous Spark jobs per headline query (guide §5).

The r16 §7-§9 wins all came from finding queries that pay many small
driver-synchronous jobs (metadata collects, schema inference, count
gates) before their real action launches. Job counts are load-
independent, so this sweep is valid on a busy box.

Usage: python scripts/job_count_sweep.py [query ...]
Prints one line per query: name, wall of the counted run, jobs.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from opensea_datapipeline_spark.plans.inspect import jobs_submitted
from opensea_datapipeline_spark.queries import QUERIES
from opensea_datapipeline_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    names = sys.argv[1:]
    if not names:
        from bench import HEADLINE  # noqa: PLC0415

        names = list(HEADLINE)
    spark = get_spark("job_count_sweep", freeze_gc=True)
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    spark.read.parquet(f"{SF_DIR}/region.parquet").count()  # warm

    out = []
    for name in names:
        fn = QUERIES[name]
        fn(spark, SF_DIR).collect()  # warm (artifact fixtures, JIT)
        j0 = jobs_submitted(spark)
        t0 = time.perf_counter()
        fn(spark, SF_DIR).collect()
        wall = time.perf_counter() - t0
        out.append((name, round(wall, 3), jobs_submitted(spark) - j0))
        print(f"{out[-1][0]}: wall={out[-1][1]} jobs={out[-1][2]}", flush=True)
    print("--- sorted by jobs ---")
    for name, wall, jobs in sorted(out, key=lambda x: -x[2]):
        print(f"{jobs:4d} jobs  {wall:7.3f}s  {name}")
    spark.stop()


if __name__ == "__main__":
    main()

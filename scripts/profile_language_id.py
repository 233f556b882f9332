"""Attribute language_id's cost stage by stage (VERDICT r4 task #7).

Times cumulative prefixes of the language_id plan at sf0.1 so the delta
between consecutive stages isolates each component. All stages collect
their full output (a global count() lets Catalyst prune the very
columns being measured — the r5 lesson: the earlier probe under-read
the cost by 0.26 s that way).

  scan        parquet scan of documents(doc_id, text), full collect
  normalize   + lower/regexp/split/distinct (the candidates array)
  full        the registered query (six folded array_intersects + argmax)

Each stage is min-of-5 after one warmup, same protocol as bench.py.
Run:  python scripts/profile_language_id.py [sf_dir]
"""
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from opensea_datapipeline_spark.functions.text import split_words
from opensea_datapipeline_spark.session import get_spark
from opensea_datapipeline_spark.sources.readers import load_table
from opensea_datapipeline_spark import queries as Q


def timed(fn, runs=5):
    fn()  # warmup
    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return best


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()

    candidates = F.coalesce(F.array_distinct(split_words("text")), F.array())
    stages = {}
    stages["scan"] = timed(lambda: docs.select("doc_id", "text").collect())
    stages["normalize"] = timed(
        lambda: docs.select("doc_id", candidates.alias("w")).collect()
    )
    q = Q.QUERIES["language_id"]
    stages["full_registered_query"] = timed(
        lambda: q(spark, sf_dir).collect()
    )

    print(json.dumps({
        "sf_dir": sf_dir,
        "n_docs": n_docs,
        "stages_sec": {k: round(v, 4) for k, v in stages.items()},
        "deltas_sec": {
            "normalize_over_scan": round(
                stages["normalize"] - stages["scan"], 4
            ),
            "score_over_normalize": round(
                stages["full_registered_query"] - stages["normalize"], 4
            ),
        },
    }, indent=2))


if __name__ == "__main__":
    main()

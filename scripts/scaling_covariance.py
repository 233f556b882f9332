"""Covariance sufficient-statistic scaling (r10): the claim under test
is that `decompose.covariance_matrix`'s exchange is STATE-sized
(≤ tasks·d² partial rows) and therefore ~flat as the corpus grows,
while a naive explode-pairs formulation shuffles N·d² rows — the same
shape as the Count-Min/KMV legs in scaling_sketches.py.

Vectors are replicated from sf embeddings with a deterministic
per-replica perturbation (vec_id offset; values unchanged — covariance
of replicated data is covariance of the base, a free correctness check
across scales). Shuffle bytes from the UI REST API; noop sink.

Run:  python scripts/scaling_covariance.py [--scales=1,10,100]
"""
import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from opensea_datapipeline_spark.operators.decompose import (  # noqa: E402
    covariance_matrix,
)
from opensea_datapipeline_spark.session import get_spark  # noqa: E402
from opensea_datapipeline_spark.sources.readers import load_table  # noqa: E402
from scaling_measure import measure  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
DIM = 64


def scaled_vectors_dir(spark, mult: int) -> str:
    base = load_table(spark, SF_DIR, "embeddings")
    if mult == 1:
        return SF_DIR
    reps = spark.range(mult).select(F.col("id").alias("rep"))
    out = tempfile.mkdtemp(prefix=f"emb_growth_{mult}x_")
    base.crossJoin(reps).select(
        (F.col("vec_id") + F.col("rep") * 10_000_000).alias("vec_id"),
        "embedding",
        "label",
    ).repartition(32).write.mode("overwrite").parquet(
        f"{out}/embeddings.parquet"
    )
    return out


def naive_pairs_cov(df):
    # The formulation the operator replaces: explode every vector to
    # its d values, self-join per vec_id to form d^2 rows PER VECTOR,
    # aggregate. Shuffle volume scales as N*d^2.
    x = df.filter(
        F.col("embedding").isNotNull() & (F.size("embedding") == DIM)
    ).select(
        "vec_id", F.posexplode("embedding").alias("i", "xi")
    ).select(
        "vec_id", "i", F.col("xi").cast("double").alias("xi")
    )
    a, b = x.alias("a"), x.alias("b")
    p = a.join(b, "vec_id").select(
        F.col("a.i").alias("i"),
        F.col("b.i").alias("j"),
        (F.col("a.xi") * F.col("b.xi")).alias("xij"),
        F.col("a.xi").alias("xa"),
        F.col("b.xi").alias("xb"),
    )
    n = F.count(F.lit(1)).cast("double")
    return p.groupBy("i", "j").agg(
        (F.sum("xij") / n - F.avg("xa") * F.avg("xb")).alias("cov")
    )


def main() -> None:
    scales = [1, 10, 100]
    for arg in sys.argv[1:]:
        if arg.startswith("--scales"):
            scales = [int(x) for x in arg.split("=", 1)[1].split(",")]
    spark = get_spark(
        "scaling-covariance", extra_configs={"spark.ui.enabled": "true"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    legs = []
    for mult in scales:
        d = scaled_vectors_dir(spark, mult)
        emb = spark.read.parquet(f"{d}/embeddings.parquet")
        row = {"mult": mult, "n_vecs": emb.count(), "ops": []}
        row["ops"].append(
            measure(
                spark,
                lambda: covariance_matrix(emb, "embedding", DIM),
                "cov_partials",
            )
        )
        row["ops"].append(
            measure(spark, lambda: naive_pairs_cov(emb), "cov_naive")
        )
        legs.append(row)
        print(json.dumps(row))
    print(json.dumps({"legs": legs}))


if __name__ == "__main__":
    main()

"""Containment-dedup scaling leg (r10, VERDICT r8 #5 / r9 #3): the
lossless prefix-filter blocked path vs the exact N² cross join, on two
corpus models that bracket the operator's regimes:

1. ``shared``  — the synthetic sf0.1 documents (subset to 1,000 base
   docs), replica-grown 10×/100× with disjoint replica vocabularies
   (scaling_llm_paths growth model: cross-replica containment is
   impossible, so true pairs grow exactly linearly). This corpus is
   the documented WORST CASE for prefix filtering: the vocabulary is
   tiny and uniformly common, so the rarest word of a doc still
   appears in ~73% of docs and blocking only trims ~27% of N².
   The point of the leg: even then, blocked wall grows LINEARLY under
   replica growth (disjoint postings never mix) while the N² pair
   count grows quadratically — the exact form is run at 1× only.
2. ``zipf``    — the same docs with one unique per-doc tag word
   appended (a stand-in for real Zipfian vocabulary, where most docs
   contain at least one rare discriminative token) plus planted
   containments: every 10th doc's text is replaced by the first half
   of its neighbor's words (so true pairs ≥ planted count and the
   verify stage has real work). Here the rarest-word key is the
   unique tag for non-planted docs (df=1 → zero candidates) and a
   half-doc word for planted ones — candidate volume collapses to
   ~O(planted), the operator's intended regime.

Run:  python scripts/scaling_containment.py [--scales=1,10,100]
"""
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from opensea_datapipeline_spark.functions.text import split_words  # noqa: E402
from opensea_datapipeline_spark.operators.dedup import (  # noqa: E402
    containment_pairs_blocked,
)
from opensea_datapipeline_spark.session import get_spark  # noqa: E402
from opensea_datapipeline_spark.sources.readers import load_table  # noqa: E402
from scaling_llm_paths import scaled_docs  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
BASE_DOCS = 1000


def tokenized(docs):
    return docs.select(
        "doc_id",
        F.array_distinct(split_words("text")).alias("ws"),
    )


def zipf_planted(docs):
    """Unique tag word per doc (Zipf-tail stand-in) + every 10th doc
    replaced by the first half of its neighbor's words (planted
    containment; the tag is NOT appended to planted docs so the
    containment survives)."""
    words = split_words("text")
    tagged = F.concat(
        F.col("text"), F.lit(" uniqtag"), F.col("doc_id").cast("string")
    )
    nbr = docs.select(
        (F.col("doc_id") - 1).alias("doc_id"),
        F.array_join(
            F.slice(words, 1, F.greatest(F.floor(F.size(words) / 2), F.lit(1)).cast("int")),
            " ",
        ).alias("half_text"),
    )
    return (
        docs.join(nbr, "doc_id", "left")
        .select(
            "doc_id",
            F.when(
                (F.col("doc_id") % 10 == 0) & F.col("half_text").isNotNull(),
                F.col("half_text"),
            )
            .otherwise(tagged)
            .alias("text"),
        )
    )


def measure(spark, docs, tag, mult, run_exact):
    out = tempfile.mkdtemp(prefix=f"docs_cont_{tag}_{mult}x_")
    docs.write.mode("overwrite").parquet(os.path.join(out, "documents.parquet"))
    saved = spark.read.parquet(os.path.join(out, "documents.parquet"))
    n_docs = saved.count()
    d = tokenized(saved)
    walls = []
    for _ in range(2):
        t0 = time.time()
        n_pairs = containment_pairs_blocked(d, "doc_id", "ws").count()
        walls.append(time.time() - t0)
    # candidate volume BEFORE exact verification = blocking selectivity
    post = d.select("doc_id", F.explode("ws").alias("w"))
    freq = post.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    rare = (
        post.join(freq, "w")
        .groupBy("doc_id")
        .agg(F.min(F.struct("df", "w")).alias("m"))
        .select(F.col("m.df").alias("df"))
    )
    cand_pairs = int(rare.agg(F.sum(F.col("df") - 1)).first()[0] or 0)
    row = {
        "corpus": tag,
        "mult": mult,
        "n_docs": n_docs,
        "blocked_wall_s": round(min(walls), 3),
        "true_pairs": n_pairs,
        "cand_pairs": cand_pairs,
        "n2_pairs": n_docs * (n_docs - 1),
    }
    if run_exact:
        a = d.select(F.col("doc_id").alias("id_a"), F.col("ws").alias("wa"))
        b = d.select(F.col("doc_id").alias("id_b"), F.col("ws").alias("wb"))
        t0 = time.time()
        n_exact = (
            a.crossJoin(b)
            .filter(F.col("id_a") != F.col("id_b"))
            .filter(F.size(F.array_intersect("wa", "wb")) == F.size("wa"))
            .count()
        )
        row["exact_n2_wall_s"] = round(time.time() - t0, 3)
        assert n_exact == n_pairs, (n_exact, n_pairs)
    return row


def main() -> None:
    scales = [1, 10, 100]
    for a in sys.argv[1:]:
        if a.startswith("--scales"):
            scales = [int(x) for x in a.split("=", 1)[1].split(",")]
    spark = get_spark("scaling-containment")
    spark.sparkContext.setLogLevel("ERROR")
    base = load_table(spark, SF_DIR, "documents").filter(
        F.col("doc_id") < BASE_DOCS
    )
    legs = []
    for mult in scales:
        grown = scaled_docs(base, mult)
        legs.append(measure(spark, grown, "shared", mult, run_exact=mult == 1))
        print(json.dumps(legs[-1]))
        grown_z = scaled_docs(zipf_planted(base), mult)
        legs.append(measure(spark, grown_z, "zipf", mult, run_exact=mult == 1))
        print(json.dumps(legs[-1]))
    print(json.dumps({"legs": legs}))


if __name__ == "__main__":
    main()

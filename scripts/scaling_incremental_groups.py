"""Incremental GROUPS update: cost proportional to the shard, not the
corpus (r12; the groups-side completion of r11's incremental-pairs leg).

Production shape under test: the old corpus's group assignment and band
table are PERSISTED parquet artifacts; a fixed 500-doc shard arrives.
The update = incremental pairs (band probes against the artifact) +
`incremental_dedup_groups` (contract old clusters to min-id super-nodes,
components over the shard-proportional contracted graph, re-label).
Growing the OLD corpus 10x (word-tagged replicas, so bands/vocabulary
genuinely grow) must leave the update wall ~flat — the only
corpus-sized touches are two linear scans of the assignment artifact
(endpoint mapping + re-label), no re-pairing, no corpus-sized CC.

Run:  python scripts/scaling_incremental_groups.py [--scales=1,10]
"""
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from opensea_datapipeline_spark.operators import dedup as dd  # noqa: E402
from opensea_datapipeline_spark.session import get_spark  # noqa: E402
from opensea_datapipeline_spark.sources.readers import load_table  # noqa: E402
from scaling_hashed_grams import shuffle_bytes_snapshot  # noqa: E402
from scaling_llm_paths import scaled_docs  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
LSH = dict(num_hashes=8, band_size=2, jaccard_threshold=0.7)


def run_leg(spark, mult):
    from scaling_llm_paths import REP_OFFSET

    base = load_table(spark, SF_DIR, "documents")
    shard = base.filter(F.col("doc_id") < 500).select(
        (F.col("doc_id") + 100_000_000).alias("doc_id"), "text"
    )
    old = scaled_docs(base, mult) if mult > 1 else base.select(
        "doc_id", "text"
    )
    work = tempfile.mkdtemp(prefix=f"incgrp_{mult}_")
    old_dir = os.path.join(work, "old_docs")
    old.write.mode("overwrite").parquet(old_dir)
    old = spark.read.parquet(old_dir)
    n_old = old.count()

    # persisted artifacts (built once per snapshot in production — the
    # build is NOT the thing under test). The x-mult assignment is
    # constructed by replicating the base assignment: scaled_docs
    # word-tags every replica, so no pair can span replicas and the
    # true x-mult groups ARE the base groups shifted by rep*REP_OFFSET
    # — this sidesteps paying the (measured-elsewhere, r11: 206 s) full
    # old-x-old re-pair just to set the stage.
    bands_dir = os.path.join(work, "bands")
    dd.minhash_band_table(old, "text", "doc_id", num_hashes=8,
                          band_size=2).write.parquet(bands_dir)
    base_pairs = dd.minhash_lsh_pairs(base, "text", "doc_id", **LSH)
    base_groups = dd.connected_components(
        base.select(F.col("doc_id").alias("id")), base_pairs, id_col="id"
    )
    reps = spark.range(mult).select(F.col("id").alias("rep"))
    groups = base_groups.crossJoin(reps).select(
        (F.col("id") + F.col("rep") * REP_OFFSET).alias("id"),
        (F.col("group_id") + F.col("rep") * REP_OFFSET).alias("group_id"),
    )
    groups_dir = os.path.join(work, "groups")
    groups.write.mode("overwrite").parquet(groups_dir)

    # the UPDATE under test: pairs against the band artifact + groups
    # fold against the assignment artifact
    before = shuffle_bytes_snapshot(spark)
    t0 = time.time()
    inc = dd.minhash_lsh_pairs_incremental(
        old, shard, "text", "doc_id",
        old_band_table=dd.read_band_table(spark, bands_dir), **LSH,
    )
    updated = dd.incremental_dedup_groups(
        spark.read.parquet(groups_dir), inc,
        shard.select(F.col("doc_id").alias("id")),
    )
    n_rows = updated.count()
    wall = time.time() - t0
    after = shuffle_bytes_snapshot(spark)
    return {
        "mult": mult,
        "n_old": n_old,
        "n_shard": 500,
        "update_wall_s": round(wall, 3),
        "update_shuffle_mb": round((after["w"] - before["w"]) / 1e6, 2),
        "assignment_rows_out": n_rows,
    }


def run_streaming_leg(spark, n_batches):
    """VERDICT r12 #1's multi-batch leg: run the composed streaming
    corpus-dedup loop over ``n_batches`` successive micro-batches and
    record EVERY batch's wall. Each batch is the graded 500-doc slice
    word-tagged per replica (the scaled_docs device): identical
    intra-batch duplicate structure, ZERO cross-batch pairs — so the
    per-batch PAIR volume is constant by construction and any wall
    growth across batches is pure loop overhead (state reads, fold
    floor, appends against a growing store). The claim: ~flat. (The
    untagged full table is the wrong fixture here: its ~40-word
    vocabulary makes long docs' wordsets near-identical, so at 0.7
    the corpus is a near-clique and per-batch walls track the
    quadratically growing old×new pair volume — a property of the
    degenerate fixture, not of the loop.)"""
    from opensea_datapipeline_spark.streaming.corpus_dedup import (
        run_streaming_corpus_dedup,
    )

    base = load_table(spark, SF_DIR, "documents").filter(
        F.col("doc_id") < 500
    ).select("doc_id", "text")
    work = tempfile.mkdtemp(prefix="incgrp_stream_")
    src = os.path.join(work, "src")
    for rep in range(n_batches):
        scaled_docs(base, n_batches).filter(
            (F.col("doc_id") >= rep * 10_000_000)
            & (F.col("doc_id") < (rep + 1) * 10_000_000)
        ).coalesce(1).write.mode("append").parquet(src)
    walls = []
    out = run_streaming_corpus_dedup(
        spark, src,
        os.path.join(work, "state"), os.path.join(work, "ckpt"),
        **LSH,
        on_batch=lambda bid, w: walls.append(round(w, 3)),
    )
    n = out.count()
    return {
        "leg": f"streaming_{n_batches}_batches",
        "n_docs": n,
        "docs_per_batch": 500,
        "per_batch_wall_s": walls,
        "max_over_min": round(max(walls) / min(walls), 2) if walls else None,
    }


def main() -> None:
    scales = [1, 10]
    stream_batches = 0
    for a in sys.argv[1:]:
        if a.startswith("--scales"):
            v = a.split("=", 1)[1]
            scales = [int(x) for x in v.split(",")] if v else []
        if a.startswith("--stream-batches"):
            stream_batches = int(a.split("=", 1)[1])
    spark = get_spark(
        "scaling-incremental-groups",
        extra_configs={"spark.ui.enabled": "true"},
        freeze_gc=True,
    )
    spark.sparkContext.setLogLevel("ERROR")
    legs = [run_leg(spark, m) for m in scales]
    if stream_batches:
        legs.append(run_streaming_leg(spark, stream_batches))
    print(json.dumps({"legs": legs}))
    spark.stop()


if __name__ == "__main__":
    main()

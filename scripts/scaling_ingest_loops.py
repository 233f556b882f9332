"""SCALING legs: per-batch cost of the r14 streaming ingest loops —
the pq / ivfpq ANN kinds (VERDICT r13 #5) and the tokenizer ingest
loop (VERDICT r13 #6).

Claims under test:
- pq/ivfpq appends are encode-only under frozen codebooks → per-batch
  wall is flat (job-floor-bound), not corpus-proportional; the rebuild
  (the one corpus-sized job) fires at threshold cadence only.
- tokenizer ingest per-batch wall is flat across batches under a
  frozen artifact (encode cost ∝ batch, not ∝ encoded-store size);
  the retrain fires once at the drift batch and nowhere else.

Run:  python scripts/scaling_ingest_loops.py
Prints one JSON object; merge into SCALING_RUN_r14.json.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from opensea_datapipeline_spark.session import get_spark


def _vec(i: int, dim: int = 64, drift: float = 0.0):
    return [math.sin(0.31 * i + j) + drift * math.cos(j) for j in range(dim)]


_WORDS = ["alpha", "beta", "gamma", "delta", "metric", "vector",
          "stream", "batch", "token", "merge"]


def _make_doc(i: int, pool=None):
    pool = pool or _WORDS
    return (i, " ".join(pool[(i + k) % len(pool)] for k in range(30)))


def ann_leg(spark, kind: str, n_batches: int, per_batch: int,
            rebuild_threshold: float) -> dict:
    from opensea_datapipeline_spark.streaming.ann_ingest import (
        run_streaming_ann_ingest,
    )

    base = tempfile.mkdtemp(prefix=f"scaling_{kind}_")
    src = os.path.join(base, "src")
    for b in range(n_batches):
        ids = range(b * per_batch, (b + 1) * per_batch)
        spark.createDataFrame(
            [(i, _vec(i)) for i in ids],
            "vec_id long, embedding array<double>",
        ).coalesce(1).write.mode("append").parquet(src)
    walls: list[tuple[float, bool]] = []
    meta = run_streaming_ann_ingest(
        spark, src, os.path.join(base, "state"), os.path.join(base, "ckpt"),
        kind=kind, n_lists=8, pq_m=8, pq_k=16,
        rebuild_threshold=rebuild_threshold,
        on_batch=lambda b, w, r: walls.append((round(w, 2), r)),
    )
    out = {
        "kind": kind,
        "per_batch": per_batch,
        "n_batches": n_batches,
        "rebuild_threshold": rebuild_threshold,
        "per_batch_walls_s": walls,
        "rebuilds": meta.get("rebuilds"),
        "final_version": meta.get("version"),
    }
    shutil.rmtree(base, ignore_errors=True)
    return out


def tokenizer_leg(spark, n_batches: int, docs_per_batch: int) -> dict:
    from opensea_datapipeline_spark.streaming.tokenizer_ingest import (
        run_streaming_tokenizer_ingest,
    )

    base = tempfile.mkdtemp(prefix="scaling_tok_")
    src = os.path.join(base, "src")
    for b in range(n_batches):
        # last batch arrives in a new script → OOV drift fires the retrain
        pool = (["κόσμος", "λέξη", "δεδομένα"]
                if b == n_batches - 1 else None)
        rows = [_make_doc(b * docs_per_batch + i + b, pool)
                for i in range(docs_per_batch)]
        spark.createDataFrame(
            rows, "doc_id long, text string"
        ).coalesce(1).write.mode("append").parquet(src)
    walls: list[tuple[float, bool]] = []
    meta = run_streaming_tokenizer_ingest(
        spark, src, os.path.join(base, "state"), os.path.join(base, "ckpt"),
        n_merges=32, retrain_threshold=0.01,
        on_batch=lambda b, w, r: walls.append((round(w, 2), r)),
    )
    steady = [w for w, r in walls[1:] if not r]
    out = {
        "docs_per_batch": docs_per_batch,
        "n_batches": n_batches,
        "per_batch_walls_s": walls,
        "steady_max_over_min": (
            round(max(steady) / min(steady), 2) if len(steady) > 1 else None
        ),
        "retrains": meta.get("retrains"),
        "final_version": meta.get("version"),
    }
    shutil.rmtree(base, ignore_errors=True)
    return out


def tokenizer_store_growth_leg(spark, mults=(1, 10),
                               docs_per_batch: int = 300) -> dict:
    """Per-batch append cost vs ENCODED-STORE size: pre-seed the corpus
    at ``mult``× then stream 3 more fixed-size batches. The only
    store-proportional touch per batch is the doc-id anti-join read
    (column-pruned to the id column — plan-pinned in pytest), so the
    steady per-batch wall should stay ~flat as the store grows 10×."""
    from opensea_datapipeline_spark.streaming.tokenizer_ingest import (
        run_streaming_tokenizer_ingest,
    )

    doc = _make_doc
    out = {}
    for mult in mults:
        base = tempfile.mkdtemp(prefix=f"scaling_tokstore_{mult}x_")
        src = os.path.join(base, "src")
        seed_n = docs_per_batch * 3 * mult
        # one seed file → one bootstrap batch (train + bulk append);
        # walls[1:] are then exactly the 3 fixed-size append batches
        spark.createDataFrame(
            [doc(i) for i in range(seed_n)], "doc_id long, text string"
        ).coalesce(1).write.mode("append").parquet(src)
        for b in range(3):
            rows = [doc(seed_n + b * docs_per_batch + i)
                    for i in range(docs_per_batch)]
            spark.createDataFrame(
                rows, "doc_id long, text string"
            ).coalesce(1).write.mode("append").parquet(src)
        walls = []
        run_streaming_tokenizer_ingest(
            spark, src, os.path.join(base, "state"),
            os.path.join(base, "ckpt"),
            n_merges=32, retrain_threshold=0.5,
            on_batch=lambda b, w, r: walls.append(round(w, 2)),
        )
        out[f"{mult}x"] = {
            "store_seed_docs": seed_n,
            "append_walls_s": walls[1:],  # walls[0] includes bootstrap
        }
        shutil.rmtree(base, ignore_errors=True)
    steady = {k: sum(v["append_walls_s"]) / len(v["append_walls_s"])
              for k, v in out.items()}
    ks = [f"{m}x" for m in mults]
    out["growth_ratio"] = round(steady[ks[-1]] / steady[ks[0]], 2)
    return out


def _unique_docs_df(spark, start: int, n: int, dup_every: int = 10):
    """Mostly-unique corpus with a CONTROLLED duplicate rate: every
    ``dup_every``-th doc repeats the previous doc's text, all others
    are word-unique (id-derived tokens), generated on executors.
    ``_make_doc``'s 10-word modular pool yields only 10 distinct
    documents — a store of N docs is 10 exact-dup groups of N/10, so
    every probe batch has ~N/10 TRUE candidates per doc and any dedup
    design degenerates to store-proportional candidate verification;
    this generator keeps candidate work batch-proportional so the
    growth leg isolates the loop's own economics."""
    from pyspark.sql import functions as F

    ids = spark.range(start, start + n).select(F.col("id").alias("doc_id"))
    src_id = F.when(
        (F.col("doc_id") % dup_every == dup_every - 1) & (F.col("doc_id") > 0),
        F.col("doc_id") - 1,
    ).otherwise(F.col("doc_id"))
    toks = F.transform(
        F.sequence(F.lit(0), F.lit(29)),
        lambda k: F.format_string(
            "w%dd%d", (src_id * 31 + k * 7) % 100000, src_id
        ),
    )
    return ids.select("doc_id", F.array_join(toks, " ").alias("text"))


def corpus_dedup_store_growth_leg(spark, mults=(1, 10),
                                  seed_base: int = 30_000,
                                  docs_per_batch: int = 300) -> dict:
    """Per-batch dedup cost vs PERSISTED-STATE size (VERDICT r14 #7):
    pre-seed corpus/bands/groups state files DIRECTLY at ``mult`` x
    ``seed_base`` docs (no streaming bootstrap -- at 300k docs that
    would dominate the leg), then stream 3 fixed-size batches through
    ``run_streaming_corpus_dedup`` and read the per-batch walls. The
    store-proportional touches per batch are all linear 2-column scans
    (band-table probe build side, corpus-id anti-join, base+delta
    assignment scan); candidate work and every shuffle/write are
    batch-proportional under the delta store -- so the wall should stay
    ~flat at 10x. The r12 full-rewrite design paid a store-sized fold +
    parquet rewrite per batch, which this leg's 300k-row 10x store
    makes visible (the original 900-doc leg could not: a 10k-row
    rewrite costs milliseconds; and ``_make_doc``'s 10-distinct-text
    generator made TRUE candidates store-proportional, measuring the
    data pathology instead of the machinery)."""
    import json as _json

    from pyspark.sql import functions as F

    from opensea_datapipeline_spark.operators import dedup as dd
    from opensea_datapipeline_spark.streaming.corpus_dedup import (
        run_streaming_corpus_dedup,
    )
    from opensea_datapipeline_spark.streaming.lifecycle import VersionedState

    out = {}
    for mult in mults:
        base = tempfile.mkdtemp(prefix=f"scaling_dedupstore_{mult}x_")
        src = os.path.join(base, "src")
        state = os.path.join(base, "state")
        seed_n = seed_base * mult
        docs = _unique_docs_df(spark, 0, seed_n)
        docs.write.mode("overwrite").parquet(os.path.join(state, "corpus"))
        dd.minhash_band_table(
            docs, "text", "doc_id", num_hashes=8, band_size=2
        ).write.mode("overwrite").parquet(os.path.join(state, "bands"))
        # seeded closure: every 10th doc duplicates its predecessor, so
        # the min-label assignment is group_id = that predecessor
        assign = docs.select(
            F.col("doc_id").alias("id"),
            F.when(
                (F.col("doc_id") % 10 == 9) & (F.col("doc_id") > 0),
                F.col("doc_id") - 1,
            ).otherwise(F.col("doc_id")).alias("group_id"),
        )
        base_dir = os.path.join(state, "groups_base_v0")
        assign.write.mode("overwrite").parquet(
            os.path.join(base_dir, "groups")
        )
        with open(os.path.join(base_dir, "_base_meta.json"), "w") as f:
            _json.dump({"last_batch_id": -1, "base_rows": seed_n}, f)
        VersionedState(state).write_meta({
            "last_batch_id": -1, "base_version": 0,
            "base_rows": seed_n, "delta_rows": 0,
        })
        for b in range(3):
            _unique_docs_df(
                spark, seed_n + b * docs_per_batch, docs_per_batch
            ).coalesce(1).write.mode("append").parquet(src)
        walls = []
        run_streaming_corpus_dedup(
            spark, src, state, os.path.join(base, "ckpt"),
            on_batch=lambda b, w: walls.append(round(w, 2)),
        )
        out[f"{mult}x"] = {
            "store_seed_docs": seed_n,
            "dedup_walls_s": walls,
        }
        shutil.rmtree(base, ignore_errors=True)
    steady = {k: sum(v["dedup_walls_s"]) / len(v["dedup_walls_s"])
              for k, v in out.items()}
    ks = [f"{m}x" for m in mults]
    out["growth_ratio"] = round(steady[ks[-1]] / steady[ks[0]], 2)
    return out


def corpus_dedup_compaction_100x_leg(spark, seed_base: int = 30_000,
                                     mult: int = 100,
                                     docs_per_batch: int = 300) -> dict:
    """The 100x leg (VERDICT r15 #4): drive a ~3M-row assignment store
    through ONE FULL COMPACTION CYCLE and record (a) the append-only
    batch wall at 100x store size, (b) the compaction wall — the
    O(store) fold of base ∪ delta to a new atomic base version, the one
    deliberately store-sized cost in the design, paid at threshold
    cadence rather than per batch — and (c) the post-compaction batch
    wall, which must return to the append-only floor (the new base must
    not make later batches dearer). The state is pre-seeded directly
    (streaming 3M docs in would dominate the leg) and ``compact_ratio``
    is set so the threshold crosses on the SECOND streamed batch: batch
    walls then read [append, append+compact, append]. The fold's cost
    is base-sized regardless of how the delta accumulated, so forcing
    the crossing early measures the same machinery as a 0.5-ratio
    crossing at 1.5M delta rows — without a 1.5M-row streaming
    pre-seed."""
    import json as _json

    from pyspark.sql import functions as F

    from opensea_datapipeline_spark.operators import dedup as dd
    from opensea_datapipeline_spark.streaming.corpus_dedup import (
        run_streaming_corpus_dedup,
    )
    from opensea_datapipeline_spark.streaming.lifecycle import VersionedState

    base = tempfile.mkdtemp(prefix=f"scaling_dedupstore_{mult}x_")
    src = os.path.join(base, "src")
    state = os.path.join(base, "state")
    seed_n = seed_base * mult
    t0 = time.time()
    docs = _unique_docs_df(spark, 0, seed_n)
    docs.write.mode("overwrite").parquet(os.path.join(state, "corpus"))
    dd.minhash_band_table(
        docs, "text", "doc_id", num_hashes=8, band_size=2
    ).write.mode("overwrite").parquet(os.path.join(state, "bands"))
    assign = docs.select(
        F.col("doc_id").alias("id"),
        F.when(
            (F.col("doc_id") % 10 == 9) & (F.col("doc_id") > 0),
            F.col("doc_id") - 1,
        ).otherwise(F.col("doc_id")).alias("group_id"),
    )
    base_dir = os.path.join(state, "groups_base_v0")
    assign.write.mode("overwrite").parquet(os.path.join(base_dir, "groups"))
    with open(os.path.join(base_dir, "_base_meta.json"), "w") as f:
        _json.dump({"last_batch_id": -1, "base_rows": seed_n}, f)
    VersionedState(state).write_meta({
        "last_batch_id": -1, "base_version": 0,
        "base_rows": seed_n, "delta_rows": 0,
    })
    seed_wall = round(time.time() - t0, 1)
    for b in range(3):
        _unique_docs_df(
            spark, seed_n + b * docs_per_batch, docs_per_batch
        ).coalesce(1).write.mode("append").parquet(src)
    walls = []
    # threshold crosses when delta_rows > ratio*base_rows: one batch of
    # 300 stays under, two cross -> compaction fires on batch index 1
    ratio = (docs_per_batch + 1) / seed_n
    run_streaming_corpus_dedup(
        spark, src, state, os.path.join(base, "ckpt"),
        compact_ratio=ratio,
        on_batch=lambda b, w: walls.append(round(w, 2)),
    )
    # the new base version + its meta prove the cycle completed
    vstate = sorted(
        d for d in os.listdir(state) if d.startswith("groups_base_v")
    )
    post_rows = None
    try:
        with open(os.path.join(state, vstate[-1], "_base_meta.json")) as f:
            post_rows = _json.load(f).get("base_rows")
    except (OSError, ValueError):
        pass
    out = {
        "store_seed_docs": seed_n,
        "seed_build_wall_s": seed_wall,
        "dedup_walls_s": walls,
        "append_only_wall_s": walls[0],
        "compaction_batch_wall_s": walls[1],
        "post_compaction_wall_s": walls[2],
        # overhead vs the WARM append floor (batch 2): batch 0 carries
        # the process's first-batch codegen/JIT warmup
        "compaction_overhead_s": round(walls[1] - walls[2], 2),
        "base_versions_after": vstate,
        "post_compaction_base_rows": post_rows,
    }
    shutil.rmtree(base, ignore_errors=True)
    return out


def main() -> None:
    only = None
    for a in sys.argv[1:]:
        if a.startswith("--legs="):
            only = set(a.split("=", 1)[1].split(","))
    spark = get_spark("scaling-ingest-loops", freeze_gc=True)
    all_legs = {
        # flat runs: threshold never crossed → every batch is append-only
        "ann_ingest_pq_flat": lambda: ann_leg(spark, "pq", 5, 400, 5.0),
        "ann_ingest_ivfpq_flat": lambda: ann_leg(spark, "ivfpq", 5, 400, 5.0),
        # rebuild cadence: threshold 0.5 → rebuilds fire as appended
        # mass doubles the store, not per batch
        "ann_ingest_pq_rebuild": lambda: ann_leg(spark, "pq", 5, 400, 0.5),
        "ann_ingest_ivfpq_rebuild": lambda: ann_leg(
            spark, "ivfpq", 5, 400, 0.5
        ),
        "tokenizer_ingest": lambda: tokenizer_leg(spark, 6, 300),
        "tokenizer_store_growth": lambda: tokenizer_store_growth_leg(spark),
        "corpus_dedup_store_growth": lambda: corpus_dedup_store_growth_leg(
            spark
        ),
        "corpus_dedup_compaction_100x": lambda:
            corpus_dedup_compaction_100x_leg(spark),
    }
    legs = {
        name: fn()
        for name, fn in all_legs.items()
        if only is None or name in only
    }
    print(json.dumps({"legs": legs}, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()

"""Bloom-gated streaming dedup — the sketch family applied to state.

`streaming/dedup.py` keeps the exact seen-key set in the state store and
pays an exact lookup for EVERY arriving key. At 100 TB most arriving
keys are NEW — and a Bloom filter answers "definitely not seen" for
them without touching the key store at all (zero false negatives: a
key the mask rejects cannot be in the seen set, because build and probe
share the hash). Only the maybe-seen minority (true dups + the ~0.2%
false positives at 16 bits/key) pays the exact anti-join against the
persisted key table, which removes the false positives — the net result
is EXACT, the same guarantee as `bloom_pruned_segment_revenue`'s
broadcast join, applied per micro-batch.

State shape per batch:
- driver: the set-bit positions (≤ m_bits ints — bounded, independent
  of corpus size), folded into a literal long[] mask per batch;
- executors: the seen-key parquet table, touched only by the pruned
  anti-join and the new-key append.

This is the streaming form of the scan-side runtime filter: the 64 KiB
mask rides each batch's task binary; the exact store is only consulted
for candidates the mask could not reject.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import sketches as sk
from .lifecycle import VersionedState, run_available_now

# defaults only — run_bloom_gated_dedup takes m_bits/k_hashes so callers
# can size to THEIR key cardinality (~16 bits/key; an undersized mask
# saturates and silently prunes nothing — sketches.bloom_bits docstring).
# 2^21 covers ~130k keys; the sf0.1 soak already carries 80k.
M_BITS = 1 << 21
K_HASHES = 4

# lives in CHECKPOINT_DIR, not seen_dir: batch ids are scoped to the
# checkpoint lineage — a fresh checkpoint against an existing seen store
# (the supported resume-with-new-source shape, test_bloom_gate_restart_
# reseeds_mask) legitimately restarts ids at 0 and must NOT be skipped;
# only a replay within the same checkpoint is.
_META = "_bloom_gate_meta.json"


def _has_rows(seen_dir: str) -> bool:
    # not os.path.exists: the writer latch creates seen_dir (and its
    # lock file) before the first key is appended
    return bool(glob.glob(os.path.join(seen_dir, "*.parquet")))


def run_bloom_gated_dedup(
    spark: SparkSession,
    src_dir: str,
    key_cols: list[str],
    seen_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
    filter_expr: str | None = None,
    m_bits: int = M_BITS,
    k_hashes: int = K_HASHES,
) -> dict:
    """Stream ``src_dir`` (AvailableNow, one file per trigger); per
    batch: distinct keys → mask probe splits definitely-new from
    maybe-seen → ONLY maybe-seen pays the exact anti-join against the
    seen table → both groups of truly-new keys append to the seen
    table and their bits join the driver mask. Returns the seen table
    plus per-batch prune telemetry (how many keys skipped the exact
    store — the measured value of the gate)."""
    # key_cols are SQL EXPRESSIONS (column names work too) so derived
    # keys like CAST(ts AS DATE) need no pre-projection
    key_expr = F.md5(
        F.concat_ws("\x1f", *[F.expr(c).cast("string") for c in key_cols])
    )
    bits: set[int] = set()
    if _has_rows(seen_dir):
        # RESTART path: re-seed the mask from the persisted store, or
        # the zero-false-negative invariant (mask-reject => not seen)
        # breaks and previously-seen keys double-append. Bounded: the
        # collect is the <= m_bits bit rows, never the keys.
        for r in sk.bloom_bits(
            spark.read.parquet(seen_dir), "dedup_key",
            m_bits=m_bits, k_hashes=k_hashes,
        ).collect():
            bits.add(int(r["bit"]))
    stats = {"batches": 0, "definitely_new": 0, "maybe_seen": 0}
    gate_meta = VersionedState(checkpoint_dir, meta_name=_META)

    def gate(batch_df: DataFrame, batch_id: int) -> None:
        # replay skip (the topk/gold batch-id discipline): dedup
        # CORRECTNESS survives a replayed batch regardless — the
        # restart-path mask re-seed routes already-appended keys to the
        # exact anti-join, which drops them — but the stats dict would
        # double-count the batch and overstate the prune share
        # (r10 ADVICE). Meta is written only after the append, so a
        # crash between append and meta replays into the exact path.
        if batch_id <= gate_meta.read_meta().get("last_batch_id", -1):
            return
        if filter_expr is not None:
            batch_df = batch_df.filter(F.expr(filter_expr))
        keys = batch_df.select(key_expr.alias("dedup_key")).distinct()
        mask = sk.pack_bits_literal(bits, m_bits)
        might = sk.bloom_might_contain(
            mask, F.col("dedup_key"), m_bits=m_bits, k_hashes=k_hashes
        )
        keys = keys.withColumn("_maybe", might).localCheckpoint(
            eager=True
        )
        definitely_new = keys.filter(~F.col("_maybe")).drop("_maybe")
        maybe = keys.filter(F.col("_maybe")).drop("_maybe")
        n_new = definitely_new.count()
        n_maybe = maybe.count()
        if n_maybe and _has_rows(seen_dir):
            seen = spark.read.parquet(seen_dir)
            # no forced broadcast: the seen table grows with the
            # corpus — AQE broadcasts while it fits, shuffles after
            verified_new = maybe.join(seen, "dedup_key", "left_anti")
        else:
            verified_new = maybe
        # append stays distributed (keys grow with the corpus — never
        # collect them); the ONLY driver action is the ≤ m_bits bit
        # rows, the bloom_mask_literal bounded-collect discipline
        fresh = definitely_new.unionByName(verified_new).localCheckpoint(
            eager=True
        )
        fresh.write.mode("append").parquet(seen_dir)
        for r in sk.bloom_bits(
            fresh, "dedup_key", m_bits=m_bits, k_hashes=k_hashes
        ).collect():
            bits.add(int(r["bit"]))
        # release the previous batch's rebound checkpoints (keys,
        # fresh) — the dead-checkpoint accumulation the pagerank/LPA
        # loops measured at 2x late-iteration cost
        import gc

        gc.collect()
        gate_meta.write_meta({"last_batch_id": batch_id})
        stats["batches"] += 1
        stats["definitely_new"] += n_new
        stats["maybe_seen"] += n_maybe

    run_available_now(
        spark, src_dir, checkpoint_dir, seen_dir, "bloom-gate stream", gate,
        max_files_per_trigger,
    )
    return {"seen": spark.read.parquet(seen_dir), "stats": stats}

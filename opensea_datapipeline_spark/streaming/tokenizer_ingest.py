"""Streaming document ingest through a persisted BPE tokenizer — the
band-table / ANN-index streaming discipline applied to the third
persisted artifact the repo ships (VERDICT r13 #6): documents arrive,
each micro-batch ENCODES them from the frozen artifact and appends the
token-id rows to the encoded store, OOV counters accumulate across
batches (``tokenizer_staleness`` semantics, kept in the loop meta so
the signal survives restarts), and once the cumulative OOV rate
crosses the threshold the loop itself fires the RETRAIN → atomic
artifact version publish → full re-encode, exactly the lifecycle a
pretraining data tier runs (a frozen tokenizer encodes anything, but
characters its training corpus never saw become ``oov_id`` — recall
``bpe_encode``'s staleness contract).

Store layout under ``state_dir``::

    tokenizer_v{K}/  the persisted artifact (bpe_write_tokenizer
                     layout: merges / alphabet / meta)
    encoded_v{K}/    the encoded corpus for artifact version K —
                     appends mutate the CURRENT version in place
                     (idempotent: the append anti-joins doc ids);
                     a RETRAIN publishes BOTH dirs at K+1 atomically
    _gold_meta.json  {last_batch_id, last_counted_batch_id, version,
                     retrains, n_syms, n_oov} (counters are
                     since-last-retrain), written through
                     ``lifecycle.VersionedState``

Why the retrain re-encodes: token ids are a function of the artifact
(alphabet order + merge ranks), so rows encoded under v{K} and v{K+1}
must never mix in one training shard. The retrain therefore re-encodes
the full source directory into ``encoded_v{K+1}`` — the corpus-sized
job, paid at threshold cadence — keeping the invariant that the
encoded store always equals a one-shot ``bpe_encode`` of the ingested
corpus under the CURRENT artifact. (The source directory is the
corpus of record here for the same reason it is for the PQ rebuild:
the encoded rows are not invertible without the boundary marker.)

Crash-window discipline (ann_ingest's, re-applied — shared helpers in
``streaming/lifecycle.py``):

- OOV counters commit FIRST, stamped with ``last_counted_batch_id``,
  and only then the encoded append lands: a crash between the append
  and the final meta bump replays the batch against a store that
  already holds its rows, whose anti-joined delta is EMPTY — without
  the counted-batch stamp the drift mass of exactly the batch that
  should fire the retrain would be lost forever (a staleness signal
  that under-counts only ever delays the retrain, never corrupts
  data, but the stamp makes it exact across every window);
- the re-append after such a crash is a no-op (doc-id anti-join);
- a retrain publishes ``tokenizer_v{K+1}`` then ``encoded_v{K+1}``
  via tmp-dir + atomic rename, and only then moves the meta pointer —
  the meta never points at an incomplete artifact or store;
- superseded versions are removed only AFTER the meta commit, and a
  per-batch sweep clears any versioned dir whose version differs from
  the committed meta's (the ADVICE r13 orphan window).

First batch runs the same code path: no meta → the batch itself trains
the tokenizer and publishes version 0, then encodes through it.

At 100 TB the economics: per-trigger cost is one encode pass over the
BATCH (distinct-word segmentation + a doc-keyed shuffle) plus a
doc-id-column anti-join read; the artifact is read and
integrity-verified once per VERSION per process (cached between
batches — it is immutable between retrains); the staleness aggregate
is over the pinned batch delta only; the retrain+re-encode — the only
corpus-sized job — runs at the cadence genuine alphabet drift
dictates.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from ..operators.text import (
    bpe_alphabet,
    bpe_encode,
    bpe_read_tokenizer,
    bpe_train,
    bpe_write_tokenizer,
    tokenizer_staleness,
)
from .lifecycle import (
    VersionedState,
    publish_versioned_dir,
    require_non_null_ids,
    run_available_now,
    sweep_orphan_versions,
)


def _tok_dir(state_dir: str, version: int) -> str:
    return os.path.join(state_dir, f"tokenizer_v{version}")


def _enc_dir(state_dir: str, version: int) -> str:
    return os.path.join(state_dir, f"encoded_v{version}")


def run_streaming_tokenizer_ingest(
    spark: SparkSession,
    docs_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_merges: int = 16,
    min_count: int = 2,
    marker: str | None = None,
    oov_id: int = -1,
    retrain_threshold: float = 0.001,
    max_files_per_trigger: int = 1,
    on_batch=None,
) -> dict:
    """Stream ``docs_dir`` (AvailableNow) through the persisted
    tokenizer at ``state_dir``; returns the final loop meta (incl.
    ``tokenizer_dir`` / ``encoded_dir`` for the current version).
    ``on_batch(batch_id, wall_s, retrained)`` is the per-batch monitor
    hook. Doc ids must be globally unique across the stream (the
    append's anti-join contract).

    ``retrain_threshold`` is the cumulative-since-last-retrain OOV
    rate that fires the retrain (``tokenizer_staleness``'s rule, held
    in the loop meta): genuine alphabet drift hits every occurrence of
    an unseen character and clears it quickly; a stray corrupt byte
    does not."""
    state = VersionedState(state_dir)
    # the artifact is immutable between retrains — read + verify once
    # per version per process, not per micro-batch
    artifact_cache: dict[int, tuple] = {}

    def train_publish(docs: DataFrame, version: int) -> None:
        merges = bpe_train(
            docs, n_merges=n_merges, min_count=min_count,
            text_col=text_col, marker=marker,
        )
        alpha = bpe_alphabet(docs, text_col=text_col, marker=marker)
        publish_versioned_dir(
            state_dir, f"tokenizer_v{version}",
            lambda tmp: bpe_write_tokenizer(merges, alpha, tmp, marker=marker),
        )
        artifact_cache.pop(version, None)  # republished after a crash

    def encode_with(version: int, docs: DataFrame) -> DataFrame:
        if version not in artifact_cache:
            artifact_cache[version] = bpe_read_tokenizer(
                spark, _tok_dir(state_dir, version)
            )
        merges, alpha, mk = artifact_cache[version]
        return bpe_encode(
            docs, merges, id_col=id_col, text_col=text_col, oov_id=oov_id,
            alphabet=alpha, marker=mk,
        )

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        import time

        t0 = time.time()
        meta = state.read_meta()
        if batch_id <= meta.get("last_batch_id", -1):
            return  # replayed batch — already ingested
        ss = batch_df.sparkSession
        # pin: the guard aggregate, train_publish, and the encode pass
        # all consume this batch — unpinned, each action replays the
        # source read
        batch = batch_df.select(id_col, text_col).localCheckpoint(eager=True)
        # fail loud on NULL ids (r15 probe, lifecycle helper): the
        # doc-id anti-join treats null as always-fresh (duplicate
        # appends on every replay) and encode output collapses rows
        require_non_null_ids(batch, id_col, "tokenizer ingest stream")
        retrained = False
        old_version = None
        # config-drift guard (r15, the corpus-dedup lsh-pin pattern):
        # oov_id is baked into every persisted encoded row AND parsed
        # back out by the staleness counters — a restart with a
        # different oov_id would mix conventions in one id space and
        # silently undercount drift. (n_merges/retrain_threshold are
        # safe to change: they only take effect at the next retrain,
        # which republishes a whole consistent version.)
        if meta.get("oov_id") is not None and meta["oov_id"] != oov_id:
            raise ValueError(
                f"tokenizer-ingest state at {state_dir!r} encodes OOV "
                f"as {meta['oov_id']} but the loop was restarted with "
                f"oov_id={oov_id} — the encoded store and drift "
                "counters are only valid under the original value. "
                "Restart with the original oov_id or rebuild the state."
            )
        if "version" in meta:
            meta.setdefault("oov_id", oov_id)  # adopt pin on pre-r15 state
        if "version" not in meta:
            # bootstrap: the first batch trains version 0, then falls
            # through to the same encode-append path as every batch
            train_publish(batch, 0)
            meta = {"version": 0, "retrains": 0, "n_syms": 0,
                    "n_oov": 0, "oov_id": oov_id}
        version = meta["version"]
        enc_dir = _enc_dir(state_dir, version)
        delta = encode_with(version, batch)
        if os.path.isdir(enc_dir):
            existing = ss.read.parquet(enc_dir).select(id_col)
            delta = delta.join(existing, id_col, "left_anti")
        # pin: the delta feeds the staleness aggregate AND the append —
        # unpinned, each would replay the batch encode
        delta = delta.localCheckpoint(eager=True)
        # counters commit FIRST, stamped with the batch id: a crash
        # after the append would otherwise replay this batch with an
        # EMPTY anti-joined delta and silently drop its OOV mass —
        # potentially the very drift that should fire the retrain
        if meta.get("last_counted_batch_id", -1) < batch_id:
            stale = tokenizer_staleness(
                delta, oov_id=oov_id, retrain_threshold=retrain_threshold
            )
            meta["n_syms"] = meta.get("n_syms", 0) + stale["n_syms"]
            meta["n_oov"] = meta.get("n_oov", 0) + stale["n_oov"]
            meta["last_counted_batch_id"] = batch_id
            state.write_meta(meta)  # last_batch_id still old
        # append AFTER the counter commit, BEFORE the batch-id bump: a
        # crash on either side of this write replays into a no-op
        # (pre-append: same delta recomputed, counters skipped by the
        # stamp; post-append: empty delta, counters skipped)
        delta.write.mode("append").parquet(enc_dir)
        rate = meta["n_oov"] / meta["n_syms"] if meta["n_syms"] else 0.0
        if rate > retrain_threshold:
            # corpus-sized job at threshold cadence: retrain on the full
            # source directory and re-encode it under the new artifact
            # (module docstring: ids from different versions never mix).
            # Files staged but not yet streamed land early; their later
            # appends anti-join to a no-op.
            corpus = ss.read.parquet(docs_dir).select(id_col, text_col)
            new_version = version + 1
            train_publish(corpus, new_version)
            full = encode_with(new_version, corpus)
            publish_versioned_dir(
                state_dir, f"encoded_v{new_version}",
                lambda tmp: full.write.parquet(tmp),
            )
            old_version = version
            meta = {
                "version": new_version,
                "retrains": meta.get("retrains", 0) + 1,
                "n_syms": 0,
                "n_oov": 0,
                "last_counted_batch_id": batch_id,
                "oov_id": oov_id,  # config-drift pin survives retrain
            }
            retrained = True
        state.write_meta({**meta, "last_batch_id": batch_id})
        if old_version is not None:
            # superseded versions removed only AFTER the meta commit;
            # evict the cache entry with the dir or a long-lived stream
            # grows one dead (merges, alphabet) plan per retrain
            artifact_cache.pop(old_version, None)
            shutil.rmtree(_tok_dir(state_dir, old_version),
                          ignore_errors=True)
            shutil.rmtree(_enc_dir(state_dir, old_version),
                          ignore_errors=True)
        # ... and the sweep clears exactly that crash window's orphans
        # on the NEXT batch
        sweep_orphan_versions(
            state_dir, ("tokenizer", "encoded"), meta["version"]
        )
        # release the batch + delta pins' localCheckpoint blocks (the
        # r10 dead-checkpoint discipline — streams are the longest loops)
        import gc

        gc.collect()
        if on_batch is not None:
            on_batch(batch_id, time.time() - t0, retrained)

    run_available_now(
        spark, docs_dir, checkpoint_dir, state_dir, "tokenizer ingest stream",
        merge_batch, max_files_per_trigger,
    )
    meta = state.read_meta()
    if "version" in meta:
        meta["tokenizer_dir"] = _tok_dir(state_dir, meta["version"])
        meta["encoded_dir"] = _enc_dir(state_dir, meta["version"])
    return meta

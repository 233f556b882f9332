"""Streaming embedding ingest into a persisted ANN index — the
corpus-dedup loop's pattern applied to the similarity side, composing
the r6–r13 lifecycle pieces (``build_*_index`` / ``write_index`` /
``append_index`` / ``index_staleness``) into the ONE streaming
job an embedding tier runs: vector files arrive, each micro-batch
appends to the persisted index under the frozen learned structure
(IVF centroids / LSH hyperplanes / PQ codebooks), and the loop itself
fires the staleness-triggered REBUILD once appended mass crosses the
threshold (recall decays silently as the frozen structure drifts from
the corpus — the measured r7 effect the threshold guards).

All four persisted kinds run the same loop (r14, VERDICT r13 #5):

- ``ivf``     appends assign to frozen centroids; rebuild retrains the
              coarse quantizer FROM THE STORE (assignments keep raw
              vectors).
- ``lsh``     appends are bit-identical to a rebuild (signatures are a
              pure per-row function of the frozen hyperplanes), so the
              loop never rebuilds and version stays 0.
- ``pq``      appends encode against frozen codebooks; codes are LOSSY
              (m small ints per vector — the raw floats are gone), so
              the rebuild re-reads the stream's SOURCE directory, the
              only place the floats still live. That is the honest
              economics of a compressed index: reindex = one pass over
              the source of truth, at threshold cadence.
- ``ivfpq``   both frozen structures; rebuild from source, as pq.

Store layout under ``state_dir``::

    index_v{K}/      the persisted index (ann_index layout per kind) —
                     appends mutate the CURRENT version in place
                     (idempotent: the append anti-joins existing ids);
                     REBUILDS publish a new version atomically
    _gold_meta.json  {last_batch_id, version, rebuilds}, written
                     through ``lifecycle.VersionedState``

Crash-window discipline (the corpus_dedup argument, re-applied):

- the append lands BEFORE the meta's batch-id bump, so a replayed
  batch re-appends as a no-op (anti-join) instead of duplicating rows;
- a rebuild builds into a tmp dir, atomically renames to
  ``index_v{K+1}``, and only then moves the meta pointer; a crash
  between rename and meta leaves an orphan version that the next
  attempt clears — the meta never points at an incomplete index;
- the superseded version is removed only AFTER the meta commit, and a
  per-batch sweep removes any ``index_v*`` / ``_tmp_index_v*`` whose
  version differs from the committed meta's — a crash INSIDE the
  meta-commit→rmtree window would otherwise orphan one full index
  copy per crashed rebuild forever (ADVICE r13).

First batch runs the same code path: no meta → the batch itself trains
the learned structure and publishes ``index_v0``.

At 100 TB the economics are the lifecycle's: per-trigger cost is one
Arrow assign/encode pass over the BATCH plus an ids-column anti-join
read (parquet-pruned); the rebuild — the only corpus-sized job — runs
at the cadence the threshold dictates, not per batch.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.ann_index import (
    append_index,
    build_ivf_index,
    build_ivfpq_index,
    build_lsh_index,
    build_pq_index,
    index_staleness,
    write_index,
)
from .lifecycle import (
    VersionedState,
    publish_versioned_dir,
    require_non_null_ids,
    run_available_now,
    sweep_orphan_versions,
)


def _version_dir(state_dir: str, version: int) -> str:
    return os.path.join(state_dir, f"index_v{version}")


def _publish_index(index, state_dir: str, version: int) -> str:
    """Write the index into a tmp dir and atomically rename it to
    ``index_v{version}`` (shared lifecycle discipline)."""
    return publish_versioned_dir(
        state_dir, f"index_v{version}", lambda tmp: write_index(index, tmp)
    )


def run_streaming_ann_ingest(
    spark: SparkSession,
    embeddings_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    kind: str = "ivf",
    n_lists: int = 4,
    n_planes: int = 4,
    n_tables: int = 8,
    dim: int = 64,
    pq_m: int = 8,
    pq_k: int = 16,
    residual: bool = False,
    rebuild_threshold: float = 0.5,
    train_rows: int | None = None,
    max_files_per_trigger: int = 1,
    on_batch=None,
) -> dict:
    """Stream ``embeddings_dir`` (AvailableNow) into the persisted ANN
    index at ``state_dir``; returns the final loop meta (incl. the
    current ``index_dir`` ready for ``read_index``/probe).
    ``on_batch(batch_id, wall_s, rebuilt)`` is the per-batch monitor
    hook. Vector ids must be globally unique across the stream (the
    append's anti-join contract).

    Kind-specific knobs: ``n_lists``/``train_rows`` (ivf, ivfpq),
    ``n_planes``/``n_tables``/``dim`` (lsh), ``pq_m``/``pq_k``/
    ``residual`` (pq, ivfpq). Rebuild provenance: ivf retrains from
    the store's own assignments (they keep raw vectors); pq/ivfpq
    retrain from ``embeddings_dir`` — PQ codes are lossy, the source
    directory is the only float copy (module docstring); lsh never
    rebuilds (appends ≡ rebuild under frozen hyperplanes)."""
    if kind not in ("ivf", "ivfpq", "lsh", "pq"):
        raise ValueError(
            f"kind must be one of ivf, ivfpq, lsh, pq; got {kind!r}"
        )
    state = VersionedState(state_dir)

    def build(df: DataFrame):
        if kind == "lsh":
            return build_lsh_index(
                df, id_col, vec_col,
                n_planes=n_planes, n_tables=n_tables, dim=dim,
            )
        if kind == "ivf":
            return build_ivf_index(
                df, id_col, vec_col, n_lists=n_lists, train_rows=train_rows,
            )
        if kind == "pq":
            return build_pq_index(df, id_col, vec_col, m=pq_m, k=pq_k)
        return build_ivfpq_index(
            df, id_col, vec_col, n_lists=n_lists, m=pq_m, k=pq_k,
            residual=residual, train_rows=train_rows,
        )

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        import time

        t0 = time.time()
        meta = state.read_meta()
        if batch_id <= meta.get("last_batch_id", -1):
            return  # replayed batch — already ingested
        ss = batch_df.sparkSession
        # pin: the guard aggregate, the bootstrap emptiness probe, the
        # index build/append, and the staleness counters all consume
        # this batch — unpinned, each action replays the source read
        batch = batch_df.select(id_col, vec_col).localCheckpoint(eager=True)
        # fail loud on NULL ids (r15 probe, lifecycle helper): the
        # vec-id anti-join treats null as always-fresh (duplicate
        # appends on every replay) and a null-keyed vector can never
        # be served or superseded
        require_non_null_ids(batch, id_col, "ANN ingest stream")
        rebuilt = False
        old_version_dir = None
        if "version" not in meta:
            if batch.filter(F.col(vec_col).isNotNull()).isEmpty():
                # a degenerate first batch (empty file / all-null
                # vectors) cannot train the learned structure — defer
                # the bootstrap to the first batch with usable vectors
                # instead of killing the stream on MLlib's opaque
                # empty-summarizer error
                state.write_meta({**meta, "last_batch_id": batch_id})
                if on_batch is not None:
                    on_batch(batch_id, time.time() - t0, False)
                return
            # bootstrap: the first batch trains the learned structure
            _publish_index(build(batch), state_dir, 0)
            meta = {"version": 0, "rebuilds": 0}
        else:
            cur = _version_dir(state_dir, meta["version"])
            # append BEFORE the meta bump: a crash after this write
            # replays the batch and the anti-join makes it a no-op
            append_index(ss, cur, batch, id_col, vec_col)
            stale = index_staleness(
                ss, cur, rebuild_threshold=rebuild_threshold
            )
            if stale["kind"] != kind:
                # the append used the stored kind; never rebuild it as
                # another (the replayed batch re-appends as a no-op)
                raise ValueError(
                    f"index at {cur!r} is kind={stale['kind']!r}, the "
                    f"loop runs kind={kind!r}"
                )
            if stale["rebuild_recommended"]:
                # corpus-sized job, fired at threshold cadence: retrain
                # the learned structure over the whole corpus
                if kind == "ivf":
                    allv = ss.read.parquet(f"{cur}/assignments").select(
                        F.col("id").alias(id_col),
                        F.col("vec").alias(vec_col),
                    )
                else:
                    # pq/ivfpq codes are lossy — the source directory is
                    # the only remaining float copy. Files staged but not
                    # yet streamed land early; later appends anti-join to
                    # a no-op, so the index never duplicates.
                    allv = ss.read.parquet(embeddings_dir).select(
                        id_col, vec_col
                    )
                new_version = meta["version"] + 1
                _publish_index(build(allv), state_dir, new_version)
                old_version_dir = cur
                meta = {
                    "version": new_version,
                    "rebuilds": meta.get("rebuilds", 0) + 1,
                }
                rebuilt = True
        state.write_meta({**meta, "last_batch_id": batch_id})
        if old_version_dir is not None:
            # superseded version removed only AFTER the meta commit: a
            # crash before this line leaves the old dir orphaned (safe),
            # never the meta pointing at a removed index
            shutil.rmtree(old_version_dir, ignore_errors=True)
        # ... and the sweep clears exactly that crash window's orphans
        # on the NEXT batch (ADVICE r13)
        sweep_orphan_versions(state_dir, ("index",), meta["version"])
        # release the batch pin's localCheckpoint blocks (the r10
        # dead-checkpoint discipline — streams are the longest loops)
        import gc

        gc.collect()
        if on_batch is not None:
            on_batch(batch_id, time.time() - t0, rebuilt)

    run_available_now(
        spark, embeddings_dir, checkpoint_dir, state_dir, "ANN ingest stream",
        merge_batch, max_files_per_trigger,
    )
    meta = state.read_meta()
    if "version" in meta:
        meta["index_dir"] = _version_dir(state_dir, meta["version"])
    return meta

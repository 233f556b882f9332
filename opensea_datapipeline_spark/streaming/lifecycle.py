"""The one state protocol of the ``foreachBatch`` streaming loops, and
the one AvailableNow runner they all start through.

``foreachBatch`` side effects are at-least-once: a batch whose sink
write landed can replay after a crash before Spark commits it to the
checkpoint. Every loop makes that harmless the same way, through
``VersionedState`` (the reference's versioned-store convention,
``io_utils.py:192-235``).

Store layout under ``state_dir``::

    batch_{id:012d}/        committed versions, one per merged batch
    _tmp_batch_{id:012d}/   a version being written (never read)
    _gold_meta.json         {last_batch_id, version_dir, **extra}

Commit order, per batch (``VersionedState.commit``):

1. skip the batch when its id is ≤ the meta's ``last_batch_id``
   (``is_replay``) — the batch was already merged;
2. read the merge base from the meta's ``version_dir``, never from a
   directory listing: a listing would pick a crashed batch's own
   orphaned version as its base and merge it twice;
3. write the new state into ``_tmp_batch_*`` (plus the optional
   sidecar, e.g. topk's ``_eps.json``, inside the same dir so it is
   atomic with the rows and survives an empty state table);
4. ``os.replace`` the tmp dir to ``batch_*``;
5. write the meta: tmp file, ``fsync``, ``os.replace``.

Crash windows:

- during 3: only an underscore dir exists; the replay clears it and
  rewrites it against the same base;
- between 4 and 5: a complete ``batch_*`` exists that the meta does not
  name; the replay overwrites it, again against the same base;
- during 5: the old meta survives intact (a truncated meta would read
  as empty and rebase the store on nothing);
- after 5, before Spark's checkpoint commit: the batch replays and
  step 1 skips it.

Meta loss (deleted or unreadable file) is recovered, not rebased on
empty: ``committed`` rebuilds the meta from the newest committed
``batch_*`` dir and its sidecar and re-persists it at once, so a run
whose batches are all replays (or that has no new input) still reads
the full history. A committed version whose declared sidecar is gone is
store corruption and raises.

The meta file keeps the name ``_gold_meta.json`` for every loop because
the gold table was the first store to use the protocol: states written
by earlier versions and the crash tests read that name.
The ingest loops (``ann_ingest``, ``tokenizer_ingest``,
``corpus_dedup``) keep their own version layouts and recovery but read
and write their meta through the same store; ``bloom_gate`` keeps its
batch-id meta in the checkpoint dir under its own name.

``run_available_now`` is the shared stream skeleton: reader confs,
source schema, ``readStream`` at ``maxFilesPerTrigger``, event-time
normalization, the single-writer latch (``writer_lock``, heartbeat
refreshed before each batch), ``foreachBatch`` and an AvailableNow
trigger run to completion.

The ingest loops also publish non-batch versions (``publish_versioned_dir``)
and sweep crashed ones (``sweep_orphan_versions``):

- ``publish_versioned_dir`` writes into ``_tmp_<name>`` then
  ``os.replace``s it to ``<name>`` — the final directory either does
  not exist or is complete; a crashed earlier attempt's tmp dir is
  cleared first, a crashed earlier PUBLISH of the same name is
  overwritten (the meta never pointed at it).
- ``sweep_orphan_versions`` removes any ``<prefix>_v{N}`` /
  ``_tmp_<prefix>_v{N}`` under ``state_dir`` whose N differs from the
  committed meta's version. A crash between the loop-meta commit and
  the superseded version's rmtree leaves the OLD version orphaned;
  nothing on the normal path would ever touch it again, so disk would
  grow one full copy per crashed rebuild/retrain (ADVICE r13). One
  listdir per batch; deletes only the recognized version-dir shapes.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import socket
import threading
import time

from ..sources.readers import (
    ensure_reader_confs,
    load_parquet_footer_schema,
    normalize_event_time,
)


def require_non_null_ids(batch, id_col: str, loop_name: str) -> None:
    """Fail loud when a micro-batch carries NULL or in-batch-DUPLICATE
    ids (r15 probes): a null id never equi-joins, so the anti-join
    appends treat such rows as always-fresh (duplicates accumulate on
    every replay) and the dedup assignment fold collapses every
    null-id doc into ONE (null, null) row; an in-batch duplicate slips
    PAST the anti-join (which only checks the persisted store) and
    permanently corrupts it — the probe left two different texts under
    one doc id in the corpus, with the dup text never clustered. One
    bounded aggregate over the batch (batch-proportional — CROSS-batch
    uniqueness stays the caller's contract, a store-sized check per
    batch); callers pass the PINNED batch so this never replays the
    source read."""
    from pyspark.sql import functions as F

    row = batch.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(id_col).alias("n_keyed"),
        F.countDistinct(id_col).alias("n_distinct"),
    ).first()
    if row["n_keyed"] < row["n"]:
        raise ValueError(
            f"{loop_name} received {row['n'] - row['n_keyed']} row(s) "
            f"with a NULL {id_col!r} — ids must be non-null and "
            "globally unique; a null id cannot be tracked by the "
            "persisted stores (it never equi-joins) and would silently "
            "duplicate or vanish. Filter or re-key upstream."
        )
    if row["n_distinct"] < row["n_keyed"]:
        raise ValueError(
            f"{loop_name} received a micro-batch with duplicate "
            f"{id_col!r} values ({row['n_keyed']} rows, "
            f"{row['n_distinct']} distinct) — the store anti-join only "
            "guards against ids ALREADY persisted, so in-batch "
            "duplicates would write conflicting rows under one id. "
            "Deduplicate or re-key upstream."
        )


_WRITER_LOCK = "_writer_lock.json"
_PROC_LOCKS: "dict[str, str]" = {}  # abspath(state_dir) -> holder desc
_PROC_GUARD = threading.Lock()


class writer_lock:
    """Single-writer latch for a loop's persisted state dir (r16 probe:
    two loops started against one state dir with separate checkpoints
    interleave their anti-join reads and appends — the probe left the
    corpus store at 500 rows for 400 distinct ids, with one loop dying
    in an opaque FOREACH_BATCH error and the other reporting success
    over the silently corrupted store).

    Two tiers, both fail-loud:

    - an in-process registry (exact — covers threads sharing one
      driver, where a pid-based file latch cannot discriminate);
    - a ``_writer_lock.json`` file latch (``O_CREAT|O_EXCL``) carrying
      pid / host / heartbeat for cross-process exclusion. A dead
      holder is broken immediately when its pid is gone on the same
      host, or after ``stale_after_s`` without a heartbeat otherwise
      (shared-filesystem case, where pids can't be probed) — so a
      crashed loop never bricks restarts, while a LIVE concurrent
      writer is refused with both holders named. The break is
      best-effort (no fencing token; two writers breaking the same
      stale lock in the same instant can both proceed) — the latch is
      an operator-error guard, not a distributed lock service, and the
      stores' append idempotence still bounds the damage underneath.

    Use as a context manager around the stream run; call ``refresh()``
    once per batch so the heartbeat tracks liveness at batch
    granularity. Readers are never excluded — the latch guards
    writers only."""

    def __init__(self, state_dir: str, loop_name: str,
                 stale_after_s: float = 1800.0):
        self._key = os.path.abspath(state_dir)
        self._path = os.path.join(state_dir, _WRITER_LOCK)
        self._loop = loop_name
        self._stale = stale_after_s
        self._held = False

    def _payload(self) -> dict:
        return {
            "pid": os.getpid(),
            "host": socket.gethostname(),
            "loop": self._loop,
            "heartbeat": time.time(),
        }

    def _write(self) -> None:
        tmp = self._path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self._payload(), f)
        os.replace(tmp, self._path)

    def __enter__(self) -> "writer_lock":
        with _PROC_GUARD:
            holder = _PROC_LOCKS.get(self._key)
            if holder is not None:
                raise RuntimeError(
                    f"{self._loop}: state dir {self._key!r} already has "
                    f"a live writer in this process ({holder}) — one "
                    "writer per state dir; running two loops against "
                    "one store interleaves appends and corrupts it."
                )
            _PROC_LOCKS[self._key] = self._loop
        try:
            os.makedirs(self._key, exist_ok=True)
            try:
                fd = os.open(
                    self._path, os.O_CREAT | os.O_EXCL | os.O_WRONLY
                )
                os.close(fd)
                self._write()
            except FileExistsError:
                self._break_or_raise()
        except BaseException:
            with _PROC_GUARD:
                _PROC_LOCKS.pop(self._key, None)
            raise
        self._held = True
        return self

    def _break_or_raise(self) -> None:
        try:
            with open(self._path) as f:
                cur = json.load(f)
        except (OSError, ValueError):
            cur = {}  # torn/unreadable lock: treat as breakable debris
        pid = cur.get("pid")
        same_host = cur.get("host") == socket.gethostname()
        alive = None
        if same_host and isinstance(pid, int):
            try:
                os.kill(pid, 0)
                alive = True
            except ProcessLookupError:
                alive = False
            except OSError:
                alive = None  # permission etc.: fall back to heartbeat
        hb = cur.get("heartbeat")
        fresh = (
            isinstance(hb, (int, float))
            and (time.time() - hb) < self._stale
        )
        # our own pid appears only when a previous run in this process
        # exited without release, which the in-process registry already
        # ruled out as a LIVE holder — breakable
        if pid == os.getpid() or alive is False or not fresh:
            self._write()
            return
        raise RuntimeError(
            f"{self._loop}: state dir {self._key!r} is locked by a "
            f"live writer (pid {pid} on {cur.get('host')!r}, loop "
            f"{cur.get('loop')!r}, heartbeat "
            f"{time.time() - hb:.0f}s ago). One writer per state dir — "
            "a concurrent loop interleaves appends and corrupts the "
            "store. If that writer is truly gone, remove "
            f"{self._path!r} or wait out the staleness window."
        )

    def refresh(self) -> None:
        if self._held:
            self._write()

    def __exit__(self, *exc) -> None:
        with _PROC_GUARD:
            _PROC_LOCKS.pop(self._key, None)
        self._held = False
        try:
            with open(self._path) as f:
                if json.load(f).get("pid") == os.getpid():
                    os.remove(self._path)
        except (OSError, ValueError):
            pass


def publish_versioned_dir(state_dir: str, name: str, write) -> str:
    """``write(tmp_path)`` then atomic rename to ``state_dir/name``."""
    final = os.path.join(state_dir, name)
    tmp = os.path.join(state_dir, "_tmp_" + name)
    shutil.rmtree(tmp, ignore_errors=True)
    write(tmp)
    shutil.rmtree(final, ignore_errors=True)  # orphan of a crashed publish
    os.replace(tmp, final)
    return final


def sweep_orphan_versions(
    state_dir: str, prefixes: "tuple[str, ...]", keep_version: int
) -> None:
    """Remove versioned dirs whose version != ``keep_version``. A
    ``_tmp_`` dir is removed regardless of its version — the sweep runs
    after the meta commit, at which point any tmp (even of the kept
    version) is the debris of a crashed publish attempt; a future
    publish recreates its own tmp from scratch."""
    try:
        entries = os.listdir(state_dir)
    except OSError:
        return
    pat = re.compile(
        r"^(_tmp_)?(?:" + "|".join(map(re.escape, prefixes)) + r")_v(\d+)$"
    )
    for name in entries:
        m = pat.match(name)
        if m and (m.group(1) or int(m.group(2)) != keep_version):
            shutil.rmtree(os.path.join(state_dir, name), ignore_errors=True)


_META = "_gold_meta.json"
_BATCH_DIR = re.compile(r"^batch_(\d+)$")


class VersionedState:
    """A loop's versioned state store: meta, recovery, replay skip,
    committed-state read and the tmp → replace → meta commit (module
    docstring). ``meta_name`` lets a loop with its own layout keep its
    meta file name; ``sidecar`` names the JSON file each committed
    version carries for the extra values (returned by ``commit``'s
    ``write``) that its rows cannot rebuild."""

    def __init__(self, state_dir: str, meta_name: str = _META,
                 sidecar: "str | None" = None):
        self.state_dir = state_dir
        self._meta_path = os.path.join(state_dir, meta_name)
        self._sidecar = sidecar

    def read_meta(self) -> dict:
        """The meta as written; ``{}`` when missing or unreadable."""
        try:
            with open(self._meta_path) as f:
                meta = json.load(f)
        except (OSError, ValueError):
            return {}
        return meta if isinstance(meta, dict) else {}

    def write_meta(self, meta: dict) -> None:
        # atomic and durable: a crash mid-write leaves the old meta, not
        # a truncated file that reads as {} and rebases on empty state
        os.makedirs(self.state_dir, exist_ok=True)
        tmp = self._meta_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._meta_path)

    def committed(self) -> dict:
        """The committed meta, recovered from the newest ``batch_*`` dir
        (and re-persisted) when the meta file is lost."""
        meta = self.read_meta()
        if not meta:
            meta = self._recover()
            if meta:
                # persist now: if every batch of this run is a replay, no
                # commit would restore the meta
                self.write_meta(meta)
        return meta

    def _recover(self) -> dict:
        try:
            found = sorted(
                (int(m.group(1)), name)
                for name in os.listdir(self.state_dir)
                if (m := _BATCH_DIR.match(name))
                and os.path.isdir(os.path.join(self.state_dir, name))
            )
        except OSError:
            return {}
        if not found:
            return {}
        last_id, name = found[-1]
        latest = os.path.join(self.state_dir, name)
        extra: dict = {}
        if self._sidecar is not None:
            try:
                with open(os.path.join(latest, self._sidecar)) as f:
                    extra = json.load(f)
                del extra["batch_id"]
            except (OSError, ValueError, KeyError, TypeError) as e:
                raise ValueError(
                    f"corrupt state: committed version {latest} has no "
                    f"readable {self._sidecar}; the error bound or other "
                    "extra state it carries is unrecoverable"
                ) from e
        return {**extra, "last_batch_id": last_id, "version_dir": latest}

    def is_replay(self, batch_id: int) -> bool:
        return batch_id <= self.committed().get("last_batch_id", -1)

    def read(self, spark) -> "DataFrame | None":
        """The committed state table, or None before the first commit.
        Footer-schema'd: the state is this loop's own write, so the
        per-read schema-inference job is skipped."""
        base = self.committed().get("version_dir")
        return None if base is None else load_parquet_footer_schema(spark, base)

    def commit(self, batch_id: int, write) -> None:
        """``write(tmp)``, the sidecar (when declared) inside tmp, the
        atomic rename to ``batch_{id}``, then the meta. ``write`` returns
        the extra values (e.g. topk's ``eps``) the sidecar and the meta
        carry, or None; they are known only once the state is written."""
        extra: dict = {}

        def write_version(tmp: str) -> None:
            extra.update(write(tmp) or {})
            if self._sidecar is not None:
                with open(os.path.join(tmp, self._sidecar), "w") as f:
                    json.dump({**extra, "batch_id": batch_id}, f)
                    f.flush()
                    os.fsync(f.fileno())

        out = publish_versioned_dir(
            self.state_dir, f"batch_{batch_id:012d}", write_version
        )
        self.write_meta(
            {**extra, "last_batch_id": batch_id, "version_dir": out}
        )

    def merge_batches(self, merge):
        """``foreachBatch`` body for a state that is one parquet table:
        skip replays, ``merge(committed_or_None, batch_df)``, commit."""

        def process(batch_df, batch_id: int) -> None:
            if self.is_replay(batch_id):
                return
            state = merge(self.read(batch_df.sparkSession), batch_df)
            self.commit(
                batch_id, lambda tmp: state.write.mode("overwrite").parquet(tmp)
            )

        return process


def run_available_now(
    spark,
    src_dir: str,
    checkpoint_dir: str,
    state_dir: str,
    loop_name: str,
    process,
    max_files_per_trigger: int = 1,
):
    """Stream the parquet files under ``src_dir`` through
    ``process(batch_df, batch_id)`` with an AvailableNow trigger, holding
    the writer latch on ``state_dir``; returns the source schema once
    every available file is processed."""
    ensure_reader_confs(spark)
    schema = spark.read.parquet(src_dir).schema
    stream = normalize_event_time(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(src_dir)
    )
    lock = writer_lock(state_dir, loop_name)

    def batch(batch_df, batch_id: int) -> None:
        lock.refresh()  # heartbeat at batch granularity
        process(batch_df, batch_id)

    with lock:
        (
            stream.writeStream.foreachBatch(batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    return schema

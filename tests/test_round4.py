"""Round-4 regression + chaos tests.

Covers the ADVICE r3 defect list: the gold table's lost-meta rebase hole
(meta gone but committed version dirs on disk must NOT rebase history on
empty), atomicity of the meta write itself, and a mid-stream
crash-then-continue chaos run for the GroupState operator (state pending
across the restart, new data after it).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F


def _remove_commit(ckpt: str, batch: str) -> None:
    os.remove(os.path.join(ckpt, "commits", batch))
    crc = os.path.join(ckpt, "commits", f".{batch}.crc")
    if os.path.exists(crc):
        os.remove(crc)


def _gold_meta(gold_dir: str) -> dict:
    with open(os.path.join(gold_dir, "_gold_meta.json")) as f:
        return json.load(f)


def _batch_truth(events):
    return {
        r.event_date: r
        for r in events.groupBy(
            F.date_format("ts", "yyyy-MM-dd").alias("event_date")
        )
        .agg(
            F.count(F.lit(1)).alias("total_transactions"),
            F.sum("value").alias("volume_total"),
        )
        .collect()
    }


def test_gold_lost_meta_recovers_history(spark, sf_dir, tmp_path):
    # Chaos: the meta file is lost AFTER a committed run (disk fault,
    # truncated write survived by a crash...). Committed batch_* version
    # dirs still exist. A later batch must rebuild its merge base from
    # the newest committed version dir — rebasing on empty would silently
    # discard all accumulated history and then COMMIT that loss into meta.
    from opensea_datapipeline_spark.sources.readers import load_table
    from opensea_datapipeline_spark.streaming.gold import (
        run_incremental_gold_daily,
    )

    events = load_table(spark, sf_dir, "events").select("ts", "user_id", "value")
    first = events.filter(F.dayofmonth("ts") <= 20)
    rest = events.filter(F.dayofmonth("ts") > 20)
    assert first.count() > 0 and rest.count() > 0

    src = str(tmp_path / "src")
    os.makedirs(src)
    gold_dir, ckpt = str(tmp_path / "gold"), str(tmp_path / "ckpt")

    first.coalesce(1).write.parquet(os.path.join(src, "f1"))
    run_incremental_gold_daily(spark, src + "/*", gold_dir, ckpt)
    meta = _gold_meta(gold_dir)
    assert meta["last_batch_id"] >= 0

    # --- surgery: the meta vanishes; committed version dirs remain ---
    os.remove(os.path.join(gold_dir, "_gold_meta.json"))

    rest.coalesce(1).write.parquet(os.path.join(src, "f2"))
    gold = run_incremental_gold_daily(spark, src + "/*", gold_dir, ckpt)
    got = {r.event_date: r for r in gold.collect()}

    want = _batch_truth(events)
    assert got.keys() == want.keys(), (
        "history days lost after meta loss: missing "
        f"{sorted(set(want) - set(got))[:5]}"
    )
    for d, b in want.items():
        assert got[d].total_transactions == b.total_transactions, d
        assert abs(got[d].volume_total - b.volume_total) < 1e-6 * max(
            1.0, abs(b.volume_total)
        ), d


def test_gold_lost_meta_replay_still_idempotent(spark, sf_dir, tmp_path):
    # Worse chaos: meta lost AND the last checkpoint commit gone, so the
    # final batch replays. The recovered meta carries the batch id parsed
    # from the newest version dir name, so the replayed id is recognized
    # as already merged — no double count.
    from opensea_datapipeline_spark.sources.readers import load_table
    from opensea_datapipeline_spark.streaming.gold import (
        run_incremental_gold_daily,
    )

    events = load_table(spark, sf_dir, "events").select("ts", "user_id", "value")
    src = str(tmp_path / "src")
    events.repartition(3).write.parquet(src)
    gold_dir, ckpt = str(tmp_path / "gold"), str(tmp_path / "ckpt")

    run_incremental_gold_daily(spark, src, gold_dir, ckpt,
                               max_files_per_trigger=1)
    last = _gold_meta(gold_dir)["last_batch_id"]
    assert last >= 1

    os.remove(os.path.join(gold_dir, "_gold_meta.json"))
    _remove_commit(ckpt, str(last))

    gold = run_incremental_gold_daily(spark, src, gold_dir, ckpt,
                                      max_files_per_trigger=1)
    got = {r.event_date: r for r in gold.collect()}
    want = _batch_truth(events)
    assert got.keys() == want.keys()
    for d, b in want.items():
        assert got[d].total_transactions == b.total_transactions, d
    assert _gold_meta(gold_dir)["last_batch_id"] == last


def test_gold_meta_write_is_atomic(tmp_path, monkeypatch):
    # The meta write must be tmp-file + rename: a crash mid-write leaves
    # the OLD meta intact, never a truncated file that parses as {}.
    from opensea_datapipeline_spark.streaming import lifecycle

    store = lifecycle.VersionedState(str(tmp_path))
    store.write_meta({"last_batch_id": 7, "version_dir": "/v7"})

    # simulate a crash during the NEXT write: json.dump raises mid-way
    def boom(*a, **k):
        raise OSError("disk full")

    monkeypatch.setattr(lifecycle.json, "dump", boom)
    try:
        store.write_meta({"last_batch_id": 8, "version_dir": "/v8"})
    except OSError:
        pass
    monkeypatch.undo()
    assert store.read_meta() == {"last_batch_id": 7, "version_dir": "/v7"}


def test_custom_state_mid_stream_crash_then_continue(spark, sf_dir, tmp_path):
    # Chaos: crash with PENDING state between micro-batches, then new
    # data arrives after the restart. Run 1 processes half the corpus;
    # its last commit is deleted (the crash), so that batch replays with
    # the state store rolled back to its pre-batch version. Run 2 also
    # sees brand-new files. Every user's final running total must equal
    # the one-shot batch aggregate over the FULL corpus — the replay must
    # not double-apply, and state accumulated before the crash must
    # survive into the post-crash batches.
    from opensea_datapipeline_spark.sources.readers import load_table
    from opensea_datapipeline_spark.streaming.custom_state import (
        run_running_user_stats,
    )

    events = load_table(spark, sf_dir, "events").select("ts", "user_id", "value")
    first = events.filter(F.dayofmonth("ts") <= 15)
    rest = events.filter(F.dayofmonth("ts") > 15)
    assert first.count() > 0 and rest.count() > 0

    src = str(tmp_path / "src")
    os.makedirs(src)
    ckpt, out_dir = str(tmp_path / "ckpt"), str(tmp_path / "emissions")

    first.repartition(2).write.parquet(os.path.join(src, "half1"))
    run_running_user_stats(spark, src + "/*", ckpt, "chaos_mid_run1",
                           output_dir=out_dir)
    commits = sorted(
        c for c in os.listdir(os.path.join(ckpt, "commits"))
        if not c.startswith(".")
    )
    _remove_commit(ckpt, commits[-1])  # crash between micro-batches

    rest.repartition(2).write.parquet(os.path.join(src, "half2"))
    final = run_running_user_stats(spark, src + "/*", ckpt, "chaos_mid_run2",
                                   output_dir=out_dir)
    got = {r.user_id: (r.n_events, round(r.total_value, 6))
           for r in final.collect()}
    assert got, "post-crash run should re-emit users"

    want = {
        r.user_id: (r.n, round(r.t, 6))
        for r in events.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value"), 6)).alias("t"),
        )
        .collect()
    }
    for u, (n, t) in got.items():
        assert (n, t) == want[u], u

"""Round-3 regression + chaos tests.

Covers the ADVICE r2 defect list: short-document n-gram crashes, the
foreachBatch gold table's crash-replay hole (merge base must come from
committed meta, not directory listing), tie-heavy group percentile
bracket capping, single-row-partition percent_rank semantics, and
micro-unit rounding invariance in the custom stateful operator.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import functions as F


def _remove_commit(ckpt: str, batch: str) -> None:
    """Delete a checkpoint commit (and its ChecksumFs .crc shadow — a
    stale crc makes the replay's commit rename fail)."""
    os.remove(os.path.join(ckpt, "commits", batch))
    crc = os.path.join(ckpt, "commits", f".{batch}.crc")
    if os.path.exists(crc):
        os.remove(crc)


def test_short_doc_ngrams_no_crash(spark):
    # sequence(1, size-n+1) descends for size < n and slice(_, 0, n)
    # throws — empty/short docs must yield zero grams, not abort the job.
    from opensea_datapipeline_spark.operators.text import (
        contamination_flags,
        repetition_scores,
    )

    docs = spark.createDataFrame(
        [(1, ""), (2, "one"), (3, "a b"), (4, "w x y z q r s t")],
        "doc_id long, text string",
    )
    rep = repetition_scores(docs, n=3).collect()
    assert {r.doc_id for r in rep} == {4}  # only the long doc has 3-grams

    eval_set = spark.createDataFrame([(9, "hi")], "doc_id long, text string")
    assert contamination_flags(docs, eval_set, n=5).collect() == []

    # and a short doc that DOES share a 2-gram still matches
    eval2 = spark.createDataFrame([(9, "a b")], "doc_id long, text string")
    hits = contamination_flags(docs, eval2, n=2).collect()
    assert [(r.doc_id, r.n_shared_grams) for r in hits] == [(3, 1)]


def test_group_percentile_bracket_cap_falls_back(spark):
    # A tie-heavy group can inflate the sketch bracket to ~the whole
    # group; with the cap exceeded the group must take the exact buffered
    # fallback and still return the right answer.
    from opensea_datapipeline_spark.operators.aggregates import (
        group_percentile_exact_distributed,
    )

    rows = [("ties", 5.0)] * 400 + [("ties", float(i)) for i in range(100)]
    rows += [("spread", float(i)) for i in range(500)]
    df = spark.createDataFrame(rows, "g string, v double")
    got = {
        r.g: r.p_value
        for r in group_percentile_exact_distributed(
            df, "g", "v", 0.5, bracket_cap=50
        ).collect()
    }
    want = {
        r.g: r.p
        for r in df.groupBy("g").agg(F.percentile("v", 0.5).alias("p")).collect()
    }
    assert got.keys() == want.keys()
    for g in want:
        assert abs(got[g] - want[g]) < 1e-9, g


def test_price_rank_scalable_single_row_partition(spark, tmp_path):
    # percent_rank() is 0.0 for a 1-row partition; the closed-form
    # (rank-1)/(n-1) is 0/0 — the rewrite must special-case it.
    from opensea_datapipeline_spark.queries import QUERIES
    from opensea_datapipeline_spark.sources.readers import load_table

    base = load_table(spark, "/root/testdata/sf0.001", "events").limit(50)
    lone = base.limit(1).withColumn("event_type", F.lit("only_one_row")) \
        .withColumn("event_id", F.lit(999_999_999).cast("long"))
    sf_dir = str(tmp_path)
    base.unionByName(lone).coalesce(1).write.parquet(
        os.path.join(sf_dir, "events.parquet")
    )
    out = QUERIES["price_rank_dist_scalable"](spark, sf_dir)
    row = [r for r in out.collect() if r.event_type == "only_one_row"]
    assert len(row) == 1
    assert row[0].pct_rank == 0.0
    assert row[0].cum_dist == 1.0


def _gold_meta(gold_dir: str) -> dict:
    with open(os.path.join(gold_dir, "_gold_meta.json")) as f:
        return json.load(f)


def test_gold_crash_replay_no_double_merge(spark, sf_dir, tmp_path):
    # Chaos: crash between the version-dir parquet write and the meta
    # commit. The orphaned version dir is on disk, the checkpoint has no
    # commit for the batch, so the batch replays. The merge base MUST be
    # the meta's committed version — basing on directory-listing "latest"
    # would pick the orphan and double-merge the batch.
    from opensea_datapipeline_spark.sources.readers import load_table
    from opensea_datapipeline_spark.streaming.gold import (
        run_incremental_gold_daily,
    )

    events = load_table(spark, sf_dir, "events").select("ts", "user_id", "value")
    src = str(tmp_path / "src")
    events.repartition(4).write.parquet(src)
    gold_dir, ckpt = str(tmp_path / "gold"), str(tmp_path / "ckpt")

    run_incremental_gold_daily(spark, src, gold_dir, ckpt,
                               max_files_per_trigger=1)
    meta = _gold_meta(gold_dir)
    last = meta["last_batch_id"]
    assert last >= 2, "need several micro-batches for the crash window"

    # --- surgery: rewind to the instant before batch `last` committed ---
    prev_dir = os.path.join(gold_dir, f"batch_{last - 1:012d}")
    assert os.path.isdir(prev_dir)
    with open(os.path.join(gold_dir, "_gold_meta.json"), "w") as f:
        json.dump({"last_batch_id": last - 1, "version_dir": prev_dir}, f)
    _remove_commit(ckpt, str(last))
    # the orphaned (fully written, uncommitted) version dir stays in place;
    # drop in a half-written tmp dir too — both must be ignored as bases
    junk = os.path.join(gold_dir, f"_tmp_batch_{last:012d}")
    os.makedirs(junk, exist_ok=True)

    gold = run_incremental_gold_daily(spark, src, gold_dir, ckpt,
                                      max_files_per_trigger=1)
    got = {r.event_date: r for r in gold.collect()}

    batch = {
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
    assert got.keys() == batch.keys()
    for d, b in batch.items():
        # a double merge would double-count the replayed batch's days
        assert got[d].total_transactions == b.total_transactions, d
        assert abs(got[d].volume_total - b.volume_total) < 1e-6 * max(
            1.0, abs(b.volume_total)
        ), d
    assert _gold_meta(gold_dir)["last_batch_id"] == last


def test_custom_state_crash_replay_exact(spark, sf_dir, tmp_path):
    # Chaos for the GroupState operator: delete the last checkpoint
    # commit so the final batch replays. The state store must roll back
    # to its pre-batch version and re-apply — running totals for every
    # re-emitted user still equal the one-shot batch aggregate exactly.
    from opensea_datapipeline_spark.sources.readers import load_table
    from opensea_datapipeline_spark.streaming.custom_state import (
        run_running_user_stats,
    )

    events = load_table(spark, sf_dir, "events").select("ts", "user_id", "value")
    src = str(tmp_path / "src")
    events.repartition(3).write.parquet(src)
    ckpt = str(tmp_path / "ckpt")

    out_dir = str(tmp_path / "emissions")
    run_running_user_stats(spark, src, ckpt, "chaos_state_run1",
                           output_dir=out_dir)
    commits = sorted(os.listdir(os.path.join(ckpt, "commits")))
    last = [c for c in commits if not c.startswith(".")][-1]
    _remove_commit(ckpt, last)

    replay = run_running_user_stats(spark, src, ckpt, "chaos_state_run2",
                                    output_dir=out_dir)
    got = {r.user_id: (r.n_events, round(r.total_value, 6))
           for r in replay.collect()}
    assert got, "replayed batch should re-emit its users"
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


def test_latest_version_ignores_underscore_dirs(tmp_path):
    from opensea_datapipeline_spark.sources.writers import VersionedOutputStore

    base = str(tmp_path / "store")
    os.makedirs(os.path.join(base, "batch_000000000001"))
    os.makedirs(os.path.join(base, "_tmp_batch_000000000002"))
    assert VersionedOutputStore(base).latest_version_dir() == os.path.join(
        base, "batch_000000000001"
    )
    shutil.rmtree(os.path.join(base, "batch_000000000001"))
    assert VersionedOutputStore(base).latest_version_dir() is None


def test_minhash_skew_split_on_hot_band(spark):
    # Adversarial corpus: every doc identical, so every (band, band_key)
    # bucket is maximally hot. With skew thresholds scaled down to the
    # fixture size, AQE must split the hot buckets of the band self-join
    # (skew=true in the final adaptive plan) rather than funnel the whole
    # corpus through one task — the documented 100 TB story for
    # low-entropy bands, pinned here against an actual plan.
    from pyspark.sql import functions as F

    from opensea_datapipeline_spark.operators.dedup import minhash_lsh_pairs

    keys = [
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
    ]
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "8192",
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2048")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        docs = spark.range(400).select(
            F.col("id").alias("doc_id"),
            F.lit(
                "the same boilerplate text repeated across the whole corpus"
            ).alias("text"),
        )
        pairs = minhash_lsh_pairs(docs, "text", "doc_id")
        rows = pairs.collect()  # finalizes THIS query's adaptive plan
        assert len(rows) == 400 * 399 // 2  # identical docs: every pair
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, (
            "hot band bucket was not skew-split:\n" + plan[:2000]
        )
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_two_phase_cc_chain_and_parity(spark):
    # Kiveris large-star/small-star: collapses a long chain in O(log n)
    # rounds where min-label propagation needs ~diameter rounds.
    # Parity-checked against connected_components on a clustered graph.
    from opensea_datapipeline_spark.operators.dedup import (
        connected_components,
        connected_components_two_phase,
    )

    n = 600
    nodes = spark.range(n).select(F.col("id"))
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    out = connected_components_two_phase(nodes, chain, id_col="id")
    assert out.filter(F.col("group_id") != 0).count() == 0
    assert out.count() == n

    # parity on a clustered graph + singletons
    edges = [(i, i + 100) for i in range(50)] + [(200, 201), (201, 202)]
    e = spark.createDataFrame(edges, "id_a long, id_b long")
    nodes2 = spark.range(300).select(F.col("id"))
    a = {
        (r.id, r.group_id)
        for r in connected_components_two_phase(nodes2, e, id_col="id").collect()
    }
    b = {
        (r.id, r.group_id)
        for r in connected_components(nodes2, e, id_col="id").collect()
    }
    assert a == b


def test_watermark_drops_late_rows_across_restart(spark, tmp_path):
    # Watermark semantics end-to-end: run 1 advances the watermark past
    # day 10; run 2 (same checkpoint) sees a file with day-1 events — 9
    # days beyond the 1-day watermark — plus fresh on-time rows. The late
    # rows must be DROPPED (no day-1 window), the on-time day-10 rows
    # must still merge into the day-10 window, and the newest window
    # stays unemitted until the watermark passes it (append finalization).
    import datetime as dt

    from opensea_datapipeline_spark.streaming.agg import (
        streaming_daily_stats_df,
    )

    def ts(day, hour=0):
        return dt.datetime(2024, 1, day, hour)

    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    os.makedirs(src)

    def write_file(name, rows):
        spark.createDataFrame(
            rows, "ts timestamp, user_id long, value double"
        ).coalesce(1).write.mode("overwrite").parquet(os.path.join(src, name))

    def run_once():
        schema = spark.read.parquet(src + "/*").schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/*")
        )
        q = (
            streaming_daily_stats_df(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    write_file("f1", [(ts(10, h), h, 1.0) for h in range(4)])
    run_once()

    write_file("f2", [(ts(1), 99, 100.0),          # 9 days late: dropped
                      (ts(10, 5), 50, 1.0),        # on-time for day 10
                      (ts(13), 7, 1.0)])           # advances the watermark
    run_once()

    got = {
        r.event_date: r.total_transactions
        for r in spark.read.parquet(out).collect()
    }
    assert "2024-01-01" not in got, "late rows must be dropped"
    assert got.get("2024-01-10") == 5, got  # 4 from f1 + 1 on-time from f2
    assert "2024-01-13" not in got  # watermark hasn't passed its window end

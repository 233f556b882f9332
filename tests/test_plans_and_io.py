"""Physical-plan guardrails + sink round-trips.

These tests pin the *scale* properties (SURVEY.md §4): filters reach the
parquet scan, small dimensions broadcast, writes partition correctly and
partition filters prune. A refactor that silently regresses one of these
still passes the value-diff tests — this is the net that catches it.
"""

from __future__ import annotations

import glob
import os
import re

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from opensea_datapipeline_spark.functions.literals import local_frame
from opensea_datapipeline_spark.plans.inspect import jobs_submitted
from opensea_datapipeline_spark.queries import QUERIES
from opensea_datapipeline_spark.sources.readers import (
    load_parquet_partitioned,
    load_raw_csvs,
    load_table,
)
from opensea_datapipeline_spark.sources.writers import (
    write_parquet_partitioned,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_pricing_summary_pushes_filter_to_scan(spark, sf_dir):
    df = QUERIES["pricing_summary"](spark, sf_dir)
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_pricing_summary_prunes_columns(spark, sf_dir):
    plan = _plan(QUERIES["pricing_summary"](spark, sf_dir))
    # only the 7 needed columns reach the scan — not l_orderkey/partkey/...
    assert "l_orderkey" not in plan.split("ReadSchema")[1][:400]


def test_region_counts_uses_broadcast_joins(spark, sf_dir):
    plan = _plan(QUERIES["region_customer_counts"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # dims are tiny; no shuffle join


def test_segment_revenue_broadcasts_customer(spark, sf_dir):
    plan = _plan(QUERIES["segment_revenue"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_peer_window_keeps_equi_conjunct(spark, sf_dir):
    # The range self-join must hash on user_id (equi conjunct) with the
    # time range as residual — NOT a broadcast nested loop over all pairs
    # (SURVEY.md §7.3 trap 9).
    plan = _plan(QUERIES["peer_window_1h"](spark, sf_dir))
    assert "Join user_id" in plan.replace("#", " ").replace("L", "") or (
        "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    )
    assert "CartesianProduct" not in plan


def test_daily_stats_single_aggregation_shuffle(spark, sf_dir):
    # pivot + counts fold into hash aggregates over one grouping — the
    # plan must not contain a cartesian or nested-loop artifact.
    plan = _plan(QUERIES["daily_stats"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_whole_stage_codegen_on_hot_path(spark, sf_dir):
    df = QUERIES["pricing_summary"](spark, sf_dir)
    df.collect()  # AQE finalizes the plan (and codegen spans) on execution
    plan = _plan(df)
    # "*(n) Op" prefixes mark whole-stage-codegen spans in plan toString
    assert "*(1)" in plan, plan


def test_dedup_filter_pushdown_reaches_scan(spark, sf_dir):
    # minhash_lsh caps doc_id < 200; the predicate must hit the scan.
    df = QUERIES["minhash_lsh_pairs"](spark, sf_dir)
    assert "LessThan(doc_id,200)" in _plan(df).replace(" ", "")


def test_dedup_groups_plans_no_python_rdd(spark, sf_dir):
    # The union-find map re-enters the plan as a LocalRelation. A frame
    # over a pickled Python RDD (LogicalRDD) makes every job that scans
    # it run Python-worker tasks.
    plan = _optimized(QUERIES["dedup_groups"](spark, sf_dir))
    assert "LogicalRDD" not in plan, plan
    assert "LocalRelation" in plan, plan


@pytest.mark.parametrize(
    "rows, schema",
    [
        ([(1, 2), (3, 1), (2, 2)], "src long, dst long"),
        ([("2024-01-01", "2024-01-10", "early")],
         "start_s STRING, end_s STRING, regime STRING"),
        ([([(" a_ b_", " ab_"), ("x", None)],)],
         "_marr array<struct<f:string,r:string>>"),
        ([(0, [1.0, -2.5]), (1, [])], "list_id INT, centroid ARRAY<DOUBLE>"),
        ([("ivf", None, 3, 8, 7, 4, "id", "vec", True, 0, 100, None)],
         "kind STRING, n_planes INT, n_tables INT, dim INT, seed INT, "
         "n_lists INT, id_col STRING, vec_col STRING, residual BOOLEAN, "
         "n_appends INT, n_base BIGINT, n_appended BIGINT"),
        ([], "merge_rank long, left_sym string, right_sym string,"
             " merged string, n long"),
        ([Row(k="a", n_rows=3), Row(k=None, n_rows=1)],
         T.StructType([T.StructField("k", T.StringType(), True),
                       T.StructField("n_rows", T.LongType(), False)])),
    ],
)
def test_local_frame_is_a_local_relation(spark, rows, schema):
    df = local_frame(spark, rows, schema)
    assert _optimized(df).startswith("LocalRelation"), _optimized(df)
    want = schema if isinstance(schema, T.StructType) else (
        T._parse_datatype_string(schema)
    )
    assert df.schema.simpleString() == want.simpleString()
    assert [tuple(r) for r in df.collect()] == [tuple(r) for r in rows]


def test_get_spark_session_skips_origin_capture(spark):
    # Per-call origin capture costs each wrapped API call several py4j
    # round trips; the engine session turns it off.
    from pyspark.errors.utils import is_debugging_enabled

    assert (
        spark.conf.get("spark.python.sql.dataFrameDebugging.enabled")
        == "false"
    )
    assert is_debugging_enabled() is False


def test_streaming_state_loops_job_ceiling(spark, tmp_path):
    # Spark jobs per call of the versioned-state loops once they restart
    # from a checkpoint with one new file: the source schema, the merge
    # write (topk folds its key count into it) and what the returned
    # frame needs to plan. The committed state is read by its parquet
    # footer, never by a schema-inference job.
    from opensea_datapipeline_spark.streaming.gold import (
        run_incremental_gold_daily,
    )
    from opensea_datapipeline_spark.streaming.sketch import run_streaming_kmv
    from opensea_datapipeline_spark.streaming.topk import run_streaming_topk

    loops = {
        "topk": run_streaming_topk,
        "kmv": run_streaming_kmv,
        "gold": run_incremental_gold_daily,
    }
    events = spark.range(600).select(
        (F.col("id") % 37).alias("user_id"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("id") * 3600).alias("ts"),
        (F.col("id") % 100).cast("double").alias("value"),
    )
    src = str(tmp_path / "src")
    jobs = {}
    for rnd in range(3):
        events.filter(F.col("id") % 3 == rnd).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        for name, run in loops.items():
            before = jobs_submitted(spark)
            run(spark, src, str(tmp_path / f"{name}_state"),
                str(tmp_path / f"{name}_ckpt"))
            if rnd:  # the first round starts each query fresh
                jobs[name, rnd] = jobs_submitted(spark) - before
    assert all(0 < n <= 4 for n in jobs.values()), jobs


def test_bpe_2k_queries_grade_distinct_appliers(spark, sf_dir):
    # bpe_encode_staged_2k grades the fold's band and bpe_encode_arrow_2k
    # the Arrow applier's. Moving a crossover must not let both queries
    # land in one band and grade it twice.
    arrow = _optimized(QUERIES["bpe_encode_arrow_2k"](spark, sf_dir))
    fold = _optimized(QUERIES["bpe_encode_staged_2k"](spark, sf_dir))
    assert "MapInPandas" in arrow, arrow
    assert "MapInPandas" not in fold, fold


def test_bpe_decode_build_job_ceiling(spark, sf_dir):
    # The roundtrip shape (gated trainer, corpus-derived alphabet):
    # decode builds its vocabulary on the driver, so its build pays
    # only the alphabet collect.
    from opensea_datapipeline_spark.operators import text as tx

    d = load_table(spark, sf_dir, "documents")
    marker = "\x11"
    merges = tx.bpe_train(d, n_merges=8, min_count=2, marker=marker)
    alpha = tx.bpe_alphabet(d, marker=marker)
    enc = tx.bpe_encode(d, merges, marker=marker, alphabet=alpha)
    before = jobs_submitted(spark)
    tx.bpe_decode(enc, merges, alpha, marker=marker)
    assert jobs_submitted(spark) - before <= 3


def test_components_resolver_job_ceiling(spark, sf_dir):
    # Near-dup graphs under the driver edge gate resolve in one Arrow
    # collect plus a broadcast join. Resolved by min-label rounds alone,
    # these queries ran about 40 and 33 jobs. Counted on a second call:
    # the first also pays the process's one-off table reads.
    ceilings = {"corpus_dedup_summary": 8, "entity_resolution_groups": 10}
    jobs = {}
    for name in ceilings:
        QUERIES[name](spark, sf_dir).collect()
        before = jobs_submitted(spark)
        QUERIES[name](spark, sf_dir).collect()
        jobs[name] = jobs_submitted(spark) - before
    assert all(jobs[n] <= c for n, c in ceilings.items()), jobs


def test_partitioned_write_and_partition_pruning(spark, sf_dir, tmp_path):
    out = str(tmp_path / "events_by_type")
    events = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    write_parquet_partitioned(events, out, ["event_type"])
    # Hive-style layout on disk
    parts = sorted(
        os.path.basename(p) for p in glob.glob(f"{out}/event_type=*")
    )
    assert parts == sorted(
        f"event_type={t}" for t in ["click", "view", "purchase", "signup", "error"]
    )
    # partition filter prunes at plan level: one partition read, not five
    pruned = load_parquet_partitioned(spark, out, {"event_type": "click"})
    plan = _plan(pruned)
    assert "PartitionFilters" in plan and "event_type" in plan
    got = pruned.count()
    want = events.filter(F.col("event_type") == "click").count()
    assert got == want


def test_csv_roundtrip_union_by_name(spark, tmp_path):
    # S1/U1: heterogeneous CSVs combine by name with missing cols as null.
    a = tmp_path / "a.csv"
    b = tmp_path / "b.csv"
    a.write_text("id,x\n1,10\n2,20\n")
    b.write_text("id,y\n3,30\n")
    df = load_raw_csvs(spark, [str(a), str(b)], per_file_union=True)
    rows = {r.id: (r.x, r.y) for r in df.collect()}
    assert rows == {1: (10, None), 2: (20, None), 3: (None, 30)}


def test_ann_recall_floor(spark, sf_dir):
    # Approximate paths are never oracle-compared; pin a recall floor vs
    # the exact path so they can't silently degrade to garbage.
    from opensea_datapipeline_spark.operators.similarity import (
        ann_ivf,
        knn_topk_exact,
    )

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in knn_topk_exact(emb, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in ann_ivf(emb, k=5, n_lists=4, n_probe=2).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"IVF recall collapsed: {recall:.2f}"


def test_core_pipeline_end_to_end(spark, sf_dir, tmp_path):
    # The run.py analog: validate → clean (cached fan-out) → 4 aggregates
    # → versioned parquet + metrics.json.
    import json

    from opensea_datapipeline_spark.plans.pipeline import run_core_pipeline

    events = load_table(spark, sf_dir, "events")
    res = run_core_pipeline(spark, events, output_dir=str(tmp_path / "out"))
    assert res.metrics["total_rows"] == events.count()
    assert res.metrics["rows_after_clean"] <= res.metrics["total_rows"]
    assert res.outputs["cleaned_events"].storageLevel.useMemory  # cached fan-out
    run_dirs = list((tmp_path / "out").iterdir())
    assert len(run_dirs) == 1
    written = {p.name for p in run_dirs[0].iterdir()}
    assert {
        "cleaned_events.parquet", "daily_stats.parquet", "entity_stats.parquet",
        "collection_summary.parquet", "duplicate_report.parquet", "metrics.json",
    } <= written
    metrics = json.loads((run_dirs[0] / "metrics.json").read_text())
    assert metrics["rows_after_clean"] == res.metrics["rows_after_clean"]
    # round-trip: the written daily stats read back consistent
    daily = spark.read.parquet(str(run_dirs[0] / "daily_stats.parquet"))
    assert daily.count() == res.outputs["daily_stats"].count()


def test_bucketed_join_avoids_shuffle(spark, sf_dir, tmp_path):
    # Co-located join: both sides bucketed on the join key -> the join
    # reads bucket-aligned files with no Exchange on either side.
    from opensea_datapipeline_spark.sources.writers import write_bucketed_table

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    write_bucketed_table(orders, "b_orders", ["o_orderkey"], num_buckets=4)
    write_bucketed_table(
        li.withColumnRenamed("l_orderkey", "o_orderkey"),
        "b_lineitem", ["o_orderkey"], num_buckets=4,
    )
    # force the shuffle-join path (at real scale neither side broadcasts)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = (
            spark.table("b_orders")
            .join(spark.table("b_lineitem"), "o_orderkey")
            .groupBy("o_orderstatus")
            .agg(F.sum("l_extendedprice").alias("rev"))
        )
        plan = _plan(joined)
        assert "Bucketed: true" in plan and "SortMergeJoin" in plan
        # the join consumes bucket-aligned scans directly: the only
        # hash-partition exchange is the final aggregation's, none below
        # the join
        join_part = plan.split("SortMergeJoin")[-1]
        assert "Exchange hashpartitioning" not in join_part, join_part
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_permissive_csv_tolerates_bad_rows(spark, tmp_path):
    # S1 semantics: malformed lines null out, never crash the scan
    # (Polars ignore_errors/truncate_ragged_lines parity).
    p = tmp_path / "messy.csv"
    p.write_text("id,price\n1,10.5\n2,not_a_number\n3,7.25\n")
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    schema = StructType([
        StructField("id", LongType()), StructField("price", DoubleType()),
    ])
    df = (
        spark.read.option("header", True).option("mode", "PERMISSIVE")
        .schema(schema).csv(str(p))
    )
    rows = {r.id: r.price for r in df.collect()}
    assert rows == {1: 10.5, 2: None, 3: 7.25}


def test_incremental_daily_merge_equals_full_recompute(spark, sf_dir):
    # Split events in time; aggregate halves independently, merge, and
    # require exact equality with the single-pass aggregate.
    from opensea_datapipeline_spark.plans.incremental import (
        daily_stats_combinable,
        merge_daily_stats,
    )

    events = load_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-12 00:00:00").cast("timestamp")
    old = daily_stats_combinable(events.filter(F.col("ts") < cut))
    new = daily_stats_combinable(events.filter(F.col("ts") >= cut))
    merged = {tuple(r) for r in merge_daily_stats(old, new).collect()}
    full = {tuple(r) for r in daily_stats_combinable(events).collect()}
    assert merged == full


def test_upsert_by_key_replaces_and_preserves(spark):
    from opensea_datapipeline_spark.plans.incremental import upsert_by_key

    existing = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k long, s string, v double"
    )
    updates = spark.createDataFrame(
        [(2, "B", 99.0), (4, "d", 40.0)], "k long, s string, v double"
    )
    out = {r.k: (r.s, r.v) for r in upsert_by_key(existing, updates, ["k"]).collect()}
    assert out == {1: ("a", 10.0), 2: ("B", 99.0), 3: ("c", 30.0), 4: ("d", 40.0)}


def test_hll_sketch_merge_matches_full(spark, sf_dir):
    # Mergeable distinct counts: union of per-batch sketches must equal
    # the single-pass sketch exactly (same algorithm, same data) and sit
    # within HLL tolerance of the exact count.
    from opensea_datapipeline_spark.plans.incremental import (
        daily_uniques_sketch,
        merge_daily_uniques,
    )

    events = load_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-12 00:00:00").cast("timestamp")
    old = daily_uniques_sketch(events.filter(F.col("ts") < cut))
    new = daily_uniques_sketch(events.filter(F.col("ts") >= cut))
    merged = {
        r.event_date: r.approx_unique_users
        for r in merge_daily_uniques(old, new).collect()
    }
    full = {
        r.event_date: r.approx_unique_users
        for r in merge_daily_uniques(
            daily_uniques_sketch(events),
            daily_uniques_sketch(events.limit(0)),
        ).collect()
    }
    assert merged == full
    exact = {
        r.event_date: r.n
        for r in events.groupBy(
            F.date_format("ts", "yyyy-MM-dd").alias("event_date")
        ).agg(F.countDistinct("user_id").alias("n")).collect()
    }
    for day, est in merged.items():
        assert abs(est - exact[day]) <= max(2, 0.05 * exact[day]), (day, est, exact[day])


def test_embedding_quantization_roundtrip(spark, sf_dir):
    from opensea_datapipeline_spark.operators.similarity import (
        dequantize_embeddings,
        quantize_embeddings,
    )

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 50)
    q = quantize_embeddings(emb)
    row = q.first()
    assert all(-128 <= v <= 127 for v in row.q_embedding)
    deq = dequantize_embeddings(q)
    joined = emb.select("vec_id", F.col("embedding").alias("orig")).join(
        deq, "vec_id"
    )
    err = joined.select(
        F.aggregate(
            F.zip_with(
                "orig", "embedding",
                lambda a, b: F.abs(a.cast("double") - b),
            ),
            F.lit(0.0), lambda acc, x: F.greatest(acc, x),
        ).alias("max_err"),
        (F.array_max(F.col("orig").cast("array<double>"))
         - F.array_min(F.col("orig").cast("array<double>"))).alias("rng"),
    )
    bad = err.filter(F.col("max_err") > F.col("rng") / 255.0 + 1e-9).count()
    assert bad == 0


def test_approx_percentile_close_to_exact(spark, sf_dir):
    # The scale-path quantile sketch must track the exact path tightly
    # (rank error <= 1/accuracy) — pins the approx variants to reality.
    from opensea_datapipeline_spark.operators.aggregates import (
        summary_quantiles,
    )

    events = load_table(spark, sf_dir, "events")
    exact = {
        r.event_type: r for r in summary_quantiles(
            events, ["event_type"], "value").collect()
    }
    approx = {
        r.event_type: r for r in summary_quantiles(
            events, ["event_type"], "value", approx=True).collect()
    }
    assert exact.keys() == approx.keys()
    for et, e in exact.items():
        a = approx[et]
        spread = e.max_value - e.min_value or 1.0
        for col in ("median_value", "p25_value", "p75_value"):
            assert abs(getattr(a, col) - getattr(e, col)) <= 0.01 * spread, (
                et, col, getattr(a, col), getattr(e, col)
            )
        # non-sketch columns are identical on both paths
        assert (a.n_events, a.total_value, a.mean_value) == (
            e.n_events, e.total_value, e.mean_value
        )


def test_quantile_filter_approx_matches_exact_closely(spark, sf_dir):
    # sketch p99 within 1% of the exact p99, and the registered query's
    # structural self-check (rank contract computed in-plan) holds
    from opensea_datapipeline_spark.queries import QUERIES
    from opensea_datapipeline_spark.sources.readers import load_table

    li = load_table(spark, sf_dir, "lineitem")
    row = li.agg(
        F.percentile_approx("l_extendedprice", 0.99, 10_000).alias("a"),
        F.percentile("l_extendedprice", 0.99).alias("e"),
    ).first()
    assert abs(row.a - row.e) <= 0.01 * abs(row.e)

    out = QUERIES["quantile_filter_agg_approx"](spark, sf_dir).collect()
    assert len(out) == 1 and out[0].p99_rank_ok
    assert out[0].n_values == li.filter(
        F.col("l_extendedprice").isNotNull()
    ).count()


def test_series_windows_refuse_global_by_default(spark):
    # An unpartitioned window over an unreduced input serializes everything
    # through one task; the helpers must refuse it unless explicitly opted
    # into for already-reduced series.
    import pytest

    from opensea_datapipeline_spark.operators import windows as win

    df = spark.range(10).withColumn("v", F.col("id").cast("double"))
    for build in (
        lambda: win.rolling_mean(df, "id", "v"),
        lambda: win.rolling_std(df, "id", "v"),
        lambda: win.pct_change(df, "id", "v"),
        lambda: win.cumulative_product(df, "id", "v"),
    ):
        with pytest.raises(ValueError, match="unpartitioned window"):
            build()
    # opt-in still works
    assert win.pct_change(df, "id", "v", global_ok=True).count() == 10


def test_pack_documents_default_window_is_sharded(spark, sf_dir):
    from opensea_datapipeline_spark.operators.text import pack_documents

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").alias("n_tokens")
    )
    packed = pack_documents(docs, "doc_id", "n_tokens", target_tokens=512)
    plan = _optimized(packed)
    # the window must partition on the derived shard key — never global
    assert "_pack_shard" in plan
    # deterministic: two runs assign identical bins
    a = {r.doc_id: r.bin_id for r in packed.collect()}
    b = {r.doc_id: r.bin_id for r in pack_documents(
        docs, "doc_id", "n_tokens", target_tokens=512).collect()}
    assert a == b
    # bins respect the prefix-sum bound: every bin except a shard's last
    # overflows 512 by at most one document (check fill > 0 and docs > 0)
    fills = (
        packed.groupBy("bin_id")
        .agg(F.sum("n_tokens").alias("fill"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert all(r.n > 0 and r.fill > 0 for r in fills)


def test_equity_curve_nulls_after_total_loss(spark):
    from opensea_datapipeline_spark.operators.windows import cumulative_product

    df = spark.createDataFrame(
        [(1, 0.10), (2, -0.50), (3, -1.50), (4, 0.20)], "t int, r double"
    )
    out = {r.t: r.equity for r in cumulative_product(
        df, "t", "r", global_ok=True).collect()}
    assert out[1] is not None and out[2] is not None
    assert abs(out[2] - 100 * 1.10 * 0.50) < 1e-9
    # once a return wipes the equity (r <= -1), the curve is NULL onward
    assert out[3] is None and out[4] is None


def test_analysis_pipeline_end_to_end(spark, sf_dir):
    # Entry-point-2/3 analog: regimes + clusters + cluster-regime perf +
    # ANOVA + KNN peer aggregates + per-cluster regression, one flow.
    from opensea_datapipeline_spark.plans.analysis_pipeline import (
        run_analysis_pipeline,
    )

    events = load_table(spark, sf_dir, "events")
    emb = load_table(spark, sf_dir, "embeddings")
    regimes = spark.createDataFrame(
        [("2024-01-01", "2024-01-10", "early"), ("2024-01-11", "2024-12-31", "late")],
        "s string, e string, regime string",
    ).select(F.to_date("s").alias("start_d"), F.to_date("e").alias("end_d"), "regime")
    res = run_analysis_pipeline(events, emb, regimes, k_clusters=4, k_neighbors=3)

    perf = res.cluster_regime_perf.collect()
    assert perf and {r.regime for r in perf} == {"early", "late"}
    assert {r.cluster_id for r in perf} <= set(range(4))
    anova = {r.cluster_id: r.eta_squared for r in res.cluster_anova.collect()}
    assert anova and all(v is None or 0 <= v <= 1 for v in anova.values())
    regr = res.peer_regressions.collect()
    assert regr and all(r.n_obs > 0 for r in regr)
    # every regression group is a real cluster id
    assert {r.cluster_id for r in regr} <= set(range(4))


def test_exact_percentile_distributed_matches_builtin(spark, sf_dir):
    # The sketch-bracket + order-statistic percentile must equal the
    # single-reducer F.percentile bit-for-bit on real data, tie-heavy
    # data, tiny n, and exact-index p; empty input -> None.
    from opensea_datapipeline_spark.operators.aggregates import (
        exact_percentile_distributed,
    )
    from opensea_datapipeline_spark.sources.readers import load_table

    li = load_table(spark, sf_dir, "lineitem")
    for p in (0.0, 0.25, 0.5, 0.99, 1.0):
        want = li.agg(F.percentile("l_extendedprice", p)).first()[0]
        got = exact_percentile_distributed(li, "l_extendedprice", p)
        assert got == want, (p, got, want)

    ties = spark.createDataFrame(
        [(float(v),) for v in [1.0] * 50 + [2.0] * 50 + [3.0]], "v double"
    )
    for p in (0.5, 0.99):
        want = ties.agg(F.percentile("v", p)).first()[0]
        assert exact_percentile_distributed(ties, "v", p) == want, p

    tiny = spark.createDataFrame([(1.0,), (2.0,), (4.0,)], "v double")
    assert exact_percentile_distributed(tiny, "v", 0.5) == 2.0
    assert exact_percentile_distributed(tiny, "v", 0.75) == 3.0  # interpolated

    empty = tiny.filter("v > 100")
    assert exact_percentile_distributed(empty, "v", 0.5) is None

    # tie-inflated bracket (cap=1) must take the fallback and stay exact
    assert exact_percentile_distributed(
        ties, "v", 0.5, bracket_cap=1
    ) == ties.agg(F.percentile("v", 0.5)).first()[0]


def test_nation_trade_volume_broadcasts_dims_no_cartesian(spark, sf_dir):
    # Q7 shape: both nation lookups and supplier must ride broadcast
    # joins; the only shuffle joins allowed are the fact-fact ones.
    plan = _plan(QUERIES["nation_trade_volume"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_late_supplier_blame_no_cartesian(spark, sf_dir):
    # Q21 shape decorrelates to aggregates + equi-joins; any correlated
    # rewrite that falls back to a nested loop is a scale bug.
    plan = _plan(QUERIES["late_supplier_blame"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_quantile_filter_threshold_pushed_to_scan(spark, sf_dir):
    # The distributed-percentile scalar must reach the parquet scan as a
    # pushed filter (a literal, not a join), so the second pass reads
    # only qualifying row groups.
    df = QUERIES["quantile_filter_agg"](spark, sf_dir)
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_extendedprice), LessThan(l_extendedprice" in plan
    assert "CrossJoin" not in plan and "CartesianProduct" not in plan


def test_event_cube_single_expand_shuffle(spark, sf_dir):
    # CUBE must compile to Expand + one aggregate pair, not a union of
    # four separate scans.
    df = QUERIES["event_cube_stats"](spark, sf_dir)
    plan = _plan(df)
    assert plan.count("Scan parquet") == 1, plan
    assert "Expand" in plan


def test_range_partitioned_layout_enables_file_skipping(spark, sf_dir, tmp_path):
    # The written files must cover disjoint ts ranges (parquet footer
    # min/max selective), and a range-predicate scan must return exactly
    # the batch answer.
    import pyarrow.parquet as pq

    from opensea_datapipeline_spark.sources.writers import (
        write_range_partitioned,
    )

    # unix-micros long for the range column: Spark writes ns timestamps
    # without parquet footer statistics, longs always carry min/max
    events = load_table(spark, sf_dir, "events").select(
        F.unix_micros("ts").alias("ts_us"), "user_id", "value"
    )
    out = str(tmp_path / "events_ranged")
    write_range_partitioned(events, out, "ts_us", num_files=4)

    files = sorted(glob.glob(f"{out}/part-*.parquet"))
    assert len(files) >= 3
    spans = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        lo = min(
            md.row_group(i).column(0).statistics.min for i in range(md.num_row_groups)
        )
        hi = max(
            md.row_group(i).column(0).statistics.max for i in range(md.num_row_groups)
        )
        spans.append((lo, hi))
    spans.sort()
    for (_, hi_prev), (lo_next, _) in zip(spans, spans[1:]):
        assert hi_prev <= lo_next, spans  # disjoint: skipping is possible

    cut = spans[1][0]  # a boundary inside the data
    got = spark.read.parquet(out).filter(F.col("ts_us") < cut).count()
    want = events.filter(F.col("ts_us") < cut).count()
    assert got == want


def test_group_percentile_distributed_matches_builtin(spark, sf_dir):
    # Per-group bracket selection == per-group buffered percentile, at
    # normal AND coarse sketch accuracy (the latter forces the per-group
    # fallback path through real traffic).
    from opensea_datapipeline_spark.operators.aggregates import (
        group_percentile_exact_distributed,
    )
    from opensea_datapipeline_spark.sources.readers import load_table

    events = load_table(spark, sf_dir, "events")
    for p in (0.5, 0.9, 0.99):
        want = {
            r.event_type: r.pv
            for r in events.filter(F.col("value").isNotNull())
            .groupBy("event_type")
            .agg(F.percentile("value", p).alias("pv"))
            .collect()
        }
        for acc in (10_000, 4):
            got = {
                r.event_type: r.p_value
                for r in group_percentile_exact_distributed(
                    events, "event_type", "value", p, accuracy=acc
                ).collect()
            }
            assert got.keys() == want.keys(), (p, acc)
            for et in want:
                assert abs(got[et] - want[et]) <= 1e-9 * max(
                    1.0, abs(want[et])
                ), (p, acc, et, got[et], want[et])


def test_contamination_broadcasts_eval_side(spark, sf_dir):
    # The benchmark-sized eval gram table must ride a broadcast join; a
    # shuffle join over the corpus grams is the 100 TB regression.
    plan = _plan(QUERIES["contamination_flags"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_dedup_groups_no_cartesian(spark, sf_dir):
    # Candidate generation (simhash blocks) and label propagation are
    # equi-joins end to end; any nested-loop artifact means the blocking
    # broke.
    plan = _plan(QUERIES["dedup_groups"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dynamic_partition_pruning_on_partitioned_fact(spark, sf_dir, tmp_path):
    # The 100 TB star-schema story: when the date predicate arrives via a
    # dimension join (not a literal), the partitioned fact scan must
    # still prune — Spark's dynamic partition pruning injects the dim's
    # filter result as a runtime partition filter. Difference at scale:
    # scanning 3 date partitions vs all of them.
    from opensea_datapipeline_spark.sources.readers import load_table

    ev = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.date_format("ts", "yyyy-MM-dd")
    )
    base = str(tmp_path / "fact")
    ev.write.partitionBy("event_date").parquet(base)
    fact = spark.read.parquet(base)

    dim_path = str(tmp_path / "dim")
    ev.select("event_date").distinct().write.parquet(dim_path)
    dim = spark.read.parquet(dim_path)
    first_dates = sorted(r.event_date for r in dim.collect())[:3]

    j = (
        fact.join(dim.filter(F.col("event_date") <= first_dates[-1]), "event_date")
        .groupBy("event_date")
        .count()
    )
    rows = j.collect()
    # partition-column inference reads the dates back as DATE type
    assert {str(r.event_date) for r in rows} == {str(d) for d in first_dates}
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression" in plan.lower(), (
        "fact scan did not receive a dynamic partition filter:\n" + plan[:1500]
    )


def test_order_priority_check_semi_join_pushdown(spark, sf_dir):
    # Q4 shape: the correlated EXISTS must land as a LEFT SEMI hash join
    # on the orderkey equi conjunct (date comparison as residual), with
    # the quarter window pushed to the orders scan — never a nested loop.
    plan = _plan(QUERIES["order_priority_check"](spark, sf_dir))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "GreaterThanOrEqual(o_orderdate,1996-07-01" in plan


def test_discounted_revenue_implied_predicates_reach_scans(spark, sf_dir):
    # Q19 shape: the implied superset predicates must reach BOTH parquet
    # scans — brand IN-set on part, quantity range on lineitem — so the
    # disjunction is evaluated on pre-pruned inputs.
    plan = _plan(QUERIES["discounted_revenue"](spark, sf_dir))
    assert "In(p_brand, [Brand#12,Brand#23,Brand#3" in plan
    assert "GreaterThanOrEqual(l_quantity,1.0)" in plan
    assert "LessThanOrEqual(l_quantity,30.0)" in plan
    assert "CartesianProduct" not in plan


def test_min_cost_supplier_broadcasts_dim_chain(spark, sf_dir):
    # Q2 shape: supplier/nation/region/part all broadcast; the only
    # shuffle is the per-part window over lineitem's distinct pairs.
    plan = _plan(QUERIES["min_cost_supplier"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_dormant_customers_anti_join_and_date_prune(spark, sf_dir):
    # Q22 shape: NOT EXISTS lands as LEFT ANTI against the date-pruned
    # orders scan; the scalar threshold rides a 1-row broadcast (the one
    # legitimate BroadcastNestedLoop in the suite — bounded side).
    plan = _plan(QUERIES["dormant_high_value_customers"](spark, sf_dir))
    assert "LeftAnti" in plan
    assert "GreaterThanOrEqual(o_orderdate,2000-01-01" in plan
    assert "CartesianProduct" not in plan


def test_parts_supplier_stats_anti_join_not_subquery(spark, sf_dir):
    # Q16 shape: the NOT IN exclusion must be a broadcast anti join.
    plan = _plan(QUERIES["parts_supplier_stats"](spark, sf_dir))
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_rolling_wau_from_incrementally_merged_sketches(spark, sf_dir):
    # The incremental claim end-to-end: per-day sketches built from TWO
    # disjoint batches and hll-union-merged must produce the same rolling
    # window estimates as sketches built from the full table in one pass
    # (HLL union is associative), and land within 5%+1 of exact WAU.
    from opensea_datapipeline_spark.plans import incremental as inc
    from opensea_datapipeline_spark.sources.readers import load_table

    e = load_table(spark, sf_dir, "events")
    full = inc.rolling_uniques_from_sketches(inc.daily_uniques_sketch(e))
    b1 = inc.daily_uniques_sketch(e.filter(F.col("event_id") % 2 == 0))
    b2 = inc.daily_uniques_sketch(e.filter(F.col("event_id") % 2 == 1))
    merged_daily = b1.unionByName(b2).groupBy("event_date").agg(
        F.hll_union_agg("users_sketch").alias("users_sketch")
    )
    merged = inc.rolling_uniques_from_sketches(merged_daily)
    got_full = {r.event_date: r.approx_window_users for r in full.collect()}
    got_merged = {r.event_date: r.approx_window_users for r in merged.collect()}
    assert got_full == got_merged

    du = e.select(F.to_date("ts").alias("d"), "user_id").distinct()
    days = du.select("d").distinct()
    exact = {
        r.day: r.wau
        for r in du.select(
            F.explode(F.sequence(F.col("d"), F.date_add("d", 6))).alias("d"),
            "user_id",
        )
        .join(days, "d", "left_semi")
        .groupBy("d")
        .agg(F.countDistinct("user_id").alias("wau"))
        .select(F.date_format("d", "yyyy-MM-dd").alias("day"), "wau")
        .collect()
    }
    for day, est in got_full.items():
        assert abs(est - exact[day]) <= 0.05 * exact[day] + 1


def test_zorder_layout_clusters_both_dims(spark, sf_dir, tmp_path):
    # Z-order on (user_id, value) must confine a selective predicate on
    # EITHER column to a minority of files (footer stats then skip the
    # rest), where a 1-column range layout only clusters its own column.
    from opensea_datapipeline_spark.sources.writers import (
        write_range_partitioned,
        write_zorder_layout,
    )
    from opensea_datapipeline_spark.sources.readers import load_table

    e = load_table(spark, sf_dir, "events").select("user_id", "value").filter(
        F.col("value").isNotNull()
    )
    zdir, rdir = str(tmp_path / "z"), str(tmp_path / "r")
    write_zorder_layout(e, zdir, ["user_id", "value"], bits=6, num_files=16)
    write_range_partitioned(e, rdir, "value", num_files=16)

    def files_hit(path, cond):
        return (
            spark.read.parquet(path).filter(cond)
            .select(F.input_file_name()).distinct().count()
        )

    lo, hi = e.agg(F.min("user_id"), F.max("user_id")).first()
    span = (hi - lo) or 1
    user_cond = F.col("user_id") <= lo + span * 0.1
    value_cond = F.col("value") <= 5.0

    total = spark.read.parquet(zdir).select(F.input_file_name()).distinct().count()
    assert total >= 8
    # z-order: both dims confined to a minority of files
    assert files_hit(zdir, user_cond) <= total // 2
    assert files_hit(zdir, value_cond) <= total // 2
    # 1-col range layout: its own column clusters tightly, the other
    # column's rows spread across (nearly) every file
    assert files_hit(rdir, value_cond) <= 4
    assert files_hit(rdir, user_cond) >= 12
    # layouts are row-equivalent
    assert spark.read.parquet(zdir).count() == e.count()


def test_fuzzy_name_match_variant_join_never_nested_loop(spark, sf_dir):
    # SymSpell blocking's whole point: candidates come from an equi-join
    # on the variant key (sort-merge/hash at fact scale), never an
    # all-pairs nested loop.
    plan = _plan(QUERIES["fuzzy_name_match"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan or "ShuffledHashJoin" in plan
            or "BroadcastHashJoin" in plan)


def test_zorder_three_column_morton_code_bit_layout(spark, tmp_path):
    # 3-column interleave: with bits=2 the Morton code packs
    # (b0 bit i, b1 bit i, b2 bit i) at positions 3i, 3i+1, 3i+2 —
    # corner rows of the cube land on the exact expected codes, which
    # pins the shift/or construction for any column count.
    from opensea_datapipeline_spark.sources.writers import write_zorder_layout

    df = spark.createDataFrame(
        [(0, 0.0, 0.0, 0.0), (1, 3.0, 0.0, 0.0), (2, 0.0, 3.0, 0.0),
         (3, 0.0, 0.0, 3.0), (4, 3.0, 3.0, 3.0)],
        "id long, x double, y double, z double",
    )
    out = str(tmp_path / "z3")
    write_zorder_layout(df, out, ["x", "y", "z"], bits=2, num_files=1)
    back = spark.read.parquet(out)
    # the writer drops the helper column and preserves rows
    assert set(back.columns) == {"id", "x", "y", "z"}
    assert back.count() == 5
    # within the single sorted file, the all-max corner (code 0b111111)
    # must land LAST and the all-min corner (code 0) FIRST
    rows = [r.id for r in back.collect()]
    assert rows[0] == 0 and rows[-1] == 4


def test_forecast_revenue_all_predicates_pushed(spark, sf_dir):
    # Q6 is the canonical pushdown check: all three filters must reach
    # the parquet scan, and the plan must have no join/shuffle beyond
    # the single-row final-aggregate exchange.
    plan = _plan(QUERIES["forecast_revenue"](spark, sf_dir))
    pushed = plan.split("PushedFilters")[1][:400]
    for frag in ("l_shipdate", "l_discount", "l_quantity"):
        assert frag in pushed, pushed
    assert "Join" not in plan
    assert plan.count("Scan parquet") == 1


def test_important_stock_threshold_is_broadcast_not_reshuffle(spark, sf_dir):
    # The scalar threshold (2*n*v > 3*total) must come from a 1-row
    # broadcast nested-loop over the SAME per-part aggregate — no second
    # lineitem scan, dims broadcast, exactly one shuffled agg on partkey.
    plan = _plan(QUERIES["important_stock"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan
    assert plan.count("Scan parquet /root/testdata") <= 5  # li + 3 dims reused once for tot
    assert "SortMergeJoin" not in plan


def test_late_priority_mix_date_prune_before_join(spark, sf_dir):
    # The 1996 orderdate window must prune the orders scan (PushedFilters),
    # and the late-shipment predicate must be INSIDE the join condition,
    # not a post-join filter.
    plan = _plan(QUERIES["late_priority_mix"](spark, sf_dir))
    assert "GreaterThanOrEqual(o_orderdate" in plan
    assert "CartesianProduct" not in plan and "CrossJoin" not in plan


def test_excess_suppliers_single_fact_scan_window_total(spark, sf_dir):
    # The per-part total must come from a window over the (pk, sk) agg,
    # not a self-join that re-scans lineitem: exactly one lineitem scan,
    # part + supplier broadcast.
    plan = _plan(QUERIES["excess_suppliers"](spark, sf_dir))
    assert plan.count("lineitem.parquet") == 1, plan
    assert "BroadcastHashJoin" in plan
    assert "Window" in plan


def test_heavy_hitters_candidate_pass_no_shuffle(spark, sf_dir):
    # Pass 1 (candidate generation) must run directly over the scan —
    # no Exchange upstream of the MapInPandas — and the verification
    # join must broadcast the candidate set. heavy_hitters() itself
    # executes eagerly to certify (its returned frame is a local scan),
    # so the pins go on the exposed lazy frames (VERDICT r9 #1).
    from opensea_datapipeline_spark.operators.aggregates import (
        _heavy_hitter_frames,
    )

    e = load_table(spark, sf_dir, "events")
    emitted, _exact_all, verify = _heavy_hitter_frames(
        e, "user_id", k=250, top=10
    )
    cand_plan = _plan(emitted)
    assert "MapInPandas" in cand_plan, cand_plan
    # the executed-plan tree prints top-down: text AFTER MapInPandas is
    # upstream of it (the scan side) — no Exchange allowed there
    _, _, post = cand_plan.partition("MapInPandas")
    assert "Exchange" not in post, post
    candidates = (
        emitted.filter(F.col("user_id").isNotNull()).select("user_id").distinct()
    )
    vplan = _plan(verify(candidates, broadcast_ok=True))
    assert "BroadcastHashJoin" in vplan, vplan


def test_heavy_hitters_certified_path_on_skew(spark):
    # Certification-path pin (VERDICT r9 #1): on a genuinely skewed
    # input the Sum-eps certification must SUCCEED, so the operator
    # returns the bounded verified rows as a local frame — never the
    # exact-groupBy fallback (whose plan would show a HashAggregate over
    # the source). The exact fallback is for low-skew inputs only.
    from opensea_datapipeline_spark.operators.aggregates import heavy_hitters

    rows = [(0,)] * 5000 + [(1,)] * 3000 + [(i,) for i in range(2, 2002)]
    df = spark.createDataFrame(rows, "key long").repartition(4)
    out = heavy_hitters(df, "key", k=16, top=2)
    plan = _plan(out)
    assert "HashAggregate" not in plan, plan  # local scan, not fallback
    assert [(r.key, r.n_rows) for r in out.collect()] == [(0, 5000), (1, 3000)]


def test_token_entropy_single_exchange(spark, sf_dir):
    # The docs are repartitioned by doc_id BEFORE the token explode, so
    # hash(doc_id) serves the (doc_id, tok) aggregate and the doc_id
    # window without re-exchanging: exactly ONE hash exchange, of the
    # compact documents, never the exploded tokens.
    plan = _plan(QUERIES["token_entropy"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_orc_roundtrip_partitioned_and_pushdown(spark, sf_dir, tmp_path):
    # ORC sink/scan parity with the parquet path: partitioned layout on
    # disk, partition pruning + predicate pushdown on read-back, values
    # identical to the source.
    from opensea_datapipeline_spark.sources.readers import load_orc
    from opensea_datapipeline_spark.sources.writers import write_orc

    out = str(tmp_path / "events_orc")
    events = load_table(spark, sf_dir, "events")
    write_orc(events, out, partition_by=["event_type"])
    assert glob.glob(f"{out}/event_type=*"), "hive-style dirs expected"
    back = load_orc(spark, out).filter(
        (F.col("event_type") == "click") & (F.col("value") > 100)
    )
    plan = _plan(back)
    assert "PartitionFilters" in plan and "event_type" in plan
    assert "PushedFilters" in plan and "value" in plan.split("PushedFilters")[1][:200]
    want = events.filter(
        (F.col("event_type") == "click") & (F.col("value") > 100)
    ).count()
    assert back.count() == want


def test_text_lines_reader(spark, tmp_path):
    from opensea_datapipeline_spark.sources.readers import load_text_lines

    a = tmp_path / "a.txt"
    b = tmp_path / "b.txt"
    a.write_text("alpha\nbeta\n")
    b.write_text("gamma\n")
    df = load_text_lines(spark, str(tmp_path))
    rows = [(os.path.basename(r.file), r.line) for r in df.collect()]
    assert sorted(rows) == [("a.txt", "alpha"), ("a.txt", "beta"), ("b.txt", "gamma")]


def test_association_rules_basket_cached_fanout(spark, sf_dir):
    # The basket frame fans out 4 ways (self-join x2, type totals, user
    # count); it must be materialized once — localCheckpoint (r9:
    # GC-releasable, unlike an orphaned persist that leaked a cache
    # copy per invocation) — so the events parquet never appears in the
    # consumer plan at all. (Without materialization: measured 5
    # independent parquet scans and zero reused exchanges.)
    df = QUERIES["association_rules"](spark, sf_dir)
    plan = _plan(df)
    assert "Scan ExistingRDD" in plan or "LogicalRDD" in plan, plan
    assert "Scan parquet" not in plan, plan
    got = {(r.antecedent, r.consequent): r.lift for r in df.collect()}
    assert len(got) == 20  # 5 types, ordered pairs


def test_plan_summary_scale_audit(spark, sf_dir):
    # The one-call audit must report the properties the guardrails pin:
    # Q6 = one scan, pushed filters, no joins/shuffles/python; the
    # 3-way join reports its broadcasts; the pandas seam is visible.
    from opensea_datapipeline_spark.plans.inspect import plan_summary

    q6 = plan_summary(QUERIES["forecast_revenue"](spark, sf_dir))
    assert q6["parquet_or_orc_scans"] == 1
    assert q6["exchanges"] == 0 and not q6["join_strategies"]
    assert any("l_discount" in f for f in q6["pushed_filters"])
    assert q6["python_stages"] == 0

    q3 = plan_summary(QUERIES["segment_revenue"](spark, sf_dir))
    assert "BroadcastHashJoin" in q3["join_strategies"]
    assert not q3["has_cartesian"]

    # heavy_hitter_users certifies its sketch result and returns the
    # bounded verified rows as a local frame (r9: exactness guard) —
    # the Arrow candidate pass already executed inside the call, so the
    # returned plan is a LocalTableScan with zero re-reads of events
    hh = plan_summary(QUERIES["heavy_hitter_users"](spark, sf_dir))
    assert hh["parquet_or_orc_scans"] == 0
    assert hh["row_at_a_time_python"] == 0  # Arrow only, never per-row


def test_mann_whitney_no_single_partition_window(spark, sf_dir):
    # VERDICT r8 #1: the rank-sum must use the distributed two-pass
    # ranking (quantile buckets + per-bucket offsets), never an
    # unpartitioned Window.orderBy — at corpus scale the distinct-value
    # table is ~row-cardinality and a global ordered window funnels it
    # through one task. Pins: no SinglePartition exchange anywhere in
    # the executed plan, and every Window sits over a hash partitioning.
    df = QUERIES["mann_whitney_value"](spark, sf_dir)
    plan = _plan(df)
    # every window spec is partitioned by the quantile bucket
    for line in plan.splitlines():
        if "windowspecdefinition(" in line:
            assert "bucket" in line, line
    # the only SinglePartition exchange is the final 1-row scalar
    # aggregate (partial agg upstream -> 1 row per task): it must feed a
    # HashAggregate, never a Window or Sort over unbounded data
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" in line:
            assert "HashAggregate" in lines[i - 1], "\n".join(lines[i - 2 : i + 2])


def test_kl_source_drift_no_global_window(spark, sf_dir):
    # VERDICT r8 #3: the corpus total is a bounded driver collect +
    # broadcast, never Window.partitionBy() over the vocab-sized table.
    # The only window left is partitioned by the token key.
    df = QUERIES["kl_source_drift"](spark, sf_dir)
    plan = _plan(df)
    specs = [
        line for line in plan.splitlines() if "windowspecdefinition(" in line
    ]
    assert specs, "token-marginal window disappeared"
    for line in specs:
        assert "windowspecdefinition(tok" in line, line


def test_no_ungated_global_windows_in_source():
    # Repo-wide pin (VERDICT r8 #3): every Window.partitionBy() with no
    # columns must be one of the audited sites — bounded input (PSI
    # buckets, chi-square contingency cells) or explicitly gated
    # (_series_window global_ok, pack_documents allow_global). A new
    # ungated global window anywhere is a scale bug until audited here.
    import re
    import pathlib

    root = pathlib.Path("opensea_datapipeline_spark")
    allowed = {
        ("operators/windows.py", "_series_window"),          # gated: global_ok
        ("operators/aggregates.py", "population_stability"),  # bounded: <=10 buckets
        ("operators/mlstats.py", "chisq_independence"),       # bounded: a x b cells
        ("operators/text.py", "pack_documents"),              # gated: allow_global
        # bounded: runs over the DD bucket table (~log_gamma(max/min)
        # rows, value-range-sized — SCALING §ddsketch measured 399
        # buckets flat under rows x10), never the value stream
        ("operators/sketches.py", "dd_quantiles_from_buckets"),
        # bounded: same DD bucket table; the collapse rule exists
        # precisely to make it even smaller (<= max_buckets)
        ("operators/sketches.py", "dd_collapse_buckets"),
    }
    hits = []
    for path in sorted(root.rglob("*.py")):
        text = path.read_text()
        func = None
        for i, line in enumerate(text.splitlines(), 1):
            m = re.match(r"def (\w+)", line)
            if m:
                func = m.group(1)
            if "Window.partitionBy()" in line and not line.lstrip().startswith("#"):
                if "can never reach" in line:
                    continue  # docstring mention
                hits.append((str(path.relative_to(root)), func, i))
    for rel, func, line_no in hits:
        assert (rel, func) in allowed, (
            f"ungated global window at {rel}:{line_no} in {func}"
        )


def test_zorder_empty_input_and_null_placement(spark, tmp_path):
    # ADVICE r8: empty input used to TypeError on float(None); NULL
    # cluster values used to silently land in the MAX Morton corner
    # because F.least skips nulls. Empty frames round-trip schema-only;
    # nulls now cluster with the min corner (bucket 0) by documented rule.
    from opensea_datapipeline_spark.sources.writers import write_zorder_layout

    empty = spark.createDataFrame([], "x long, y long")
    out0 = str(tmp_path / "z_empty")
    write_zorder_layout(empty, out0, ["x", "y"], bits=4, num_files=4)
    back = spark.read.parquet(out0)
    assert back.count() == 0 and set(back.columns) == {"x", "y"}

    rows = [(None, 0)] + [(i, i) for i in range(64)]
    df = spark.createDataFrame(rows, "x long, y long")
    out1 = str(tmp_path / "z_null")
    write_zorder_layout(df, out1, ["x", "y"], bits=4, num_files=4)
    import glob as _g
    import os as _os

    files = sorted(_g.glob(out1 + "/part-*.parquet"))
    # the null-x row must sit in the same file as the min-corner rows,
    # not with the max corner
    by_file = {
        _os.path.basename(f): [
            (r.x, r.y) for r in spark.read.parquet(f).collect()
        ]
        for f in files
    }
    null_file = next(n for n, rs in by_file.items() if (None, 0) in rs)
    assert (0, 0) in by_file[null_file]
    assert (63, 63) not in by_file[null_file]


def test_zorder_all_null_column_still_clusters_the_rest(spark, tmp_path):
    # ADVICE r9: one all-null cluster column used to disable z-ordering
    # for ALL columns (any() gate) and the fallback dropped the
    # num_files repartition. Now the spanless column is dropped from
    # the Morton code and the remaining column still clusters: with
    # num_files=4 range partitions over y in [0, 256), min-y and max-y
    # rows must land in different files.
    import glob as _g

    from opensea_datapipeline_spark.sources.writers import write_zorder_layout

    rows = [(None, i) for i in range(256)]
    df = spark.createDataFrame(rows, "x long, y long")
    out = str(tmp_path / "z_all_null_col")
    write_zorder_layout(df, out, ["x", "y"], bits=4, num_files=4)
    files = sorted(_g.glob(out + "/part-*.parquet"))
    assert len(files) > 1, "y-clustering disabled by the all-null x column"
    spans = [
        (m.y_min, m.y_max)
        for m in [
            spark.read.parquet(f).agg(
                F.min("y").alias("y_min"), F.max("y").alias("y_max")
            ).first()
            for f in files
        ]
    ]
    spans.sort()
    for (_, hi), (lo, _) in zip(spans, spans[1:]):
        assert hi < lo, spans  # disjoint y ranges = clustered layout

    # when EVERY cluster column is all-null (no live span at all) the
    # fallback must still honor the num_files layout contract
    allnull = spark.createDataFrame([(None, None)] * 90, "x long, y long")
    out0 = str(tmp_path / "z_all_null_nf")
    write_zorder_layout(allnull, out0, ["x", "y"], bits=4, num_files=3)
    assert len(_g.glob(out0 + "/part-*.parquet")) == 3


def test_containment_blocked_queries_never_cartesian(spark, sf_dir):
    # The whole point of the prefix-filter scale path: candidate
    # generation is an equi-join on the element key — no cross join
    # anywhere in the plan at ANY threshold (the capped exact form
    # containment_dedup_counts is the only sanctioned cross join).
    for q in ("containment_dedup_blocked", "containment_near_pairs"):
        plan = _plan(QUERIES[q](spark, sf_dir))
        assert "CartesianProduct" not in plan, q
        assert "BroadcastNestedLoopJoin" not in plan, q


def test_nb_classifier_one_scoring_scan_pinned_model(spark, sf_dir):
    # The vocab-sized model is built once and pinned (localCheckpoint),
    # totals/prior are literals — so the RETURNED frame scans the
    # corpus exactly ONCE (the scoring pass) and reads the model from
    # the checkpoint, never recomputing the training explode.
    plan = _plan(QUERIES["nb_quality_classifier"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1, plan
    assert "Scan ExistingRDD" in plan or "LocalTableScan" in plan, plan
    assert "CartesianProduct" not in plan


def test_duplicate_spans_plan(spark, sf_dir):
    # r10: the Lee-et-al span merge must stay fully distributed — the
    # cross-doc gram test partitions its window by the gram key and the
    # island merge partitions by doc; an unpartitioned window here would
    # funnel every gram hit through one task at corpus scale. Pin: every
    # window spec is partitioned by _g or doc_id, and no SinglePartition
    # exchange feeds a Window or Sort.
    df = QUERIES["duplicate_token_spans"](spark, sf_dir)
    plan = _plan(df)
    specs = [
        line for line in plan.splitlines() if "windowspecdefinition(" in line
    ]
    assert specs, "span-merge windows disappeared"
    for line in specs:
        assert "windowspecdefinition(_g" in line or (
            "windowspecdefinition(doc_id" in line
        ), line
    assert "Exchange SinglePartition" not in plan


@pytest.mark.parametrize(
    "name,keys",
    [
        ("repetition_scores", ("_g",)),
        ("contamination_flags", ("_g",)),
        ("dup_ngram_fraction", ("_g",)),
        ("bigram_logprob_scores", ("w1", "_g")),
        ("duplicate_token_spans", ("_g",)),
        ("span_cut_corpus", ("_g",)),
    ],
)
def test_gram_key_is_xxhash64_before_exchange(spark, sf_dir, name, keys):
    # Every word-gram operator shuffles (or broadcast-joins) on the one
    # 8-byte xxhash64 gram key of text._grams, never on the gram or word
    # string: each key is a bigint attribute (the plan's `#id L`) built by
    # xxhash64, and an Exchange or hash join is keyed on it.
    plan = _plan(QUERIES[name](spark, sf_dir))
    for key in keys:
        attrs = set(re.findall(rf"xxhash64\(.*?\) AS ({key}#\d+L)\b", plan))
        assert attrs, f"{key} is not an xxhash64 bigint in\n{plan}"
        keyed = [
            line for line in plan.splitlines()
            if ("Exchange hashpartitioning(" in line or "HashJoin [" in line)
            and any(re.search(rf"{a}\b", line) for a in attrs)
        ]
        assert keyed, f"no exchange keyed on {key} in\n{plan}"


def test_kmv_candidate_pass_no_upstream_shuffle(spark, sf_dir):
    # The KMV candidate pass must be a mapInPandas DIRECTLY over the
    # scan — an Exchange upstream would shuffle the stream before the
    # O(k)-state reduction, defeating the sketch (the heavy_hitters
    # pin, applied to the cardinality sibling). The grouped form gets
    # the same pin.
    from opensea_datapipeline_spark.operators.sketches import (
        _h15,
        kmv_distinct,
        kmv_distinct_by_group,
    )
    from opensea_datapipeline_spark.sources.readers import load_table

    e = load_table(spark, sf_dir, "events")
    for df in (
        kmv_distinct(e, "user_id", k=16),
        kmv_distinct_by_group(e, "event_type", "user_id", k=16),
    ):
        plan = _plan(df)
        assert "MapInPandas" in plan
        lines = plan.splitlines()
        mip = max(i for i, l in enumerate(lines) if "MapInPandas" in l)
        below = "\n".join(lines[mip:])  # deeper in the tree = upstream
        assert "Exchange" not in below, below


def test_bloom_probe_is_literal_scan_filter(spark, sf_dir):
    # The Bloom-pruned join's probe must be a LITERAL-bitmask filter
    # sitting DIRECTLY on the fact scan — no Exchange between the
    # filter and the scan (the prune happens before any shuffle), the
    # dimension join stays broadcast (one BroadcastHashJoin, never a
    # SortMergeJoin), and the mask rides the plan as a constant
    # (element_at + shiftright bit arithmetic, no second join for
    # membership).
    from opensea_datapipeline_spark.queries import QUERIES

    plan = _plan(QUERIES["bloom_pruned_segment_revenue"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") == 1
    assert "SortMergeJoin" not in plan
    lines = plan.splitlines()
    fi = next(
        i
        for i, l in enumerate(lines)
        if "Filter" in l and "shiftright" in l and "element_at" in l
    )
    # upstream of the probe filter: nothing but the columnar scan
    seg = []
    for l in lines[fi + 1 :]:
        seg.append(l)
        if "Scan parquet" in l or "FileScan" in l:
            break
    assert seg and not any("Exchange" in l for l in seg), "\n".join(seg)


def test_bloom_bits_build_collapses_map_side(spark, sf_dir):
    # The filter build's distinct must collapse each task to <= m_bits
    # rows BEFORE the exchange (a partial HashAggregate below the
    # shuffle) — the Count-Min discipline: the shuffle carries the
    # sketch, never the stream.
    from pyspark.sql import functions as F

    from opensea_datapipeline_spark.operators import sketches as sk
    from opensea_datapipeline_spark.sources.readers import load_table

    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k")
    )
    plan = _plan(sk.bloom_bits(c, "k", m_bits=2048, k_hashes=4))
    lines = plan.splitlines()
    ex = next(
        i for i, l in enumerate(lines) if "Exchange hashpartitioning" in l
    )
    below = "\n".join(lines[ex:])  # deeper in the tree = upstream
    assert "HashAggregate" in below, below


def test_covariance_partial_pass_no_upstream_shuffle(spark, sf_dir):
    # The covariance partial pass must be a mapInPandas DIRECTLY over
    # the vector scan (an upstream Exchange would shuffle the corpus
    # before the d^2-state reduction — the heavy_hitters/KMV pin), and
    # the only exchange in the plan is the bounded (i, j) partial merge.
    from opensea_datapipeline_spark.operators.decompose import (
        covariance_matrix,
    )
    from opensea_datapipeline_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    plan = _plan(covariance_matrix(emb, "embedding", 64))
    assert "MapInPandas" in plan
    lines = plan.splitlines()
    mip = max(i for i, l in enumerate(lines) if "MapInPandas" in l)
    below = "\n".join(lines[mip:])  # deeper in the tree = upstream
    assert "Exchange" not in below, below
    assert plan.count("Exchange hashpartitioning") == 1


def test_components_gate_below_plan_is_broadcast_join(spark):
    # r13: the below-gate resolver must re-enter the plan as ONE
    # broadcast join of the driver union-find map -- no min-label
    # iteration joins, no star rounds, no SinglePartition funnel. Above
    # the gate (dedup.DRIVER_EDGE_GATE) the iterative plan is expected.
    from pyspark.sql import functions as F

    from opensea_datapipeline_spark.operators.dedup import (
        connected_components,
    )

    nodes = spark.range(100).select(F.col("id"))
    edges = spark.range(99).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    out = connected_components(nodes, edges)
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Exchange SinglePartition" not in plan
    # a 99-edge chain below the gate resolves without any join loop:
    # exactly one join in the whole plan (nodes x union-find map)
    n_joins = plan.count("Join")
    assert n_joins <= 2, plan
    # labels: one component rooted at 0
    rows = out.collect()
    assert {r.group_id for r in rows} == {0}
    assert len(rows) == 100

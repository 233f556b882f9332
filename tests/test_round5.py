"""Round-5 guardrails: shape-adaptive connected components (VERDICT r4
task #8) — the resolver's distributed path must label dense threshold
graphs inside its min-label prefix, resolve long-diameter chains through
contract + star with star's labels, and never iterate to the diameter."""
from pyspark.sql import functions as F

from opensea_datapipeline_spark.operators import dedup
from opensea_datapipeline_spark.operators.dedup import (
    connected_components,
    connected_components_two_phase,
)


def _labels(df):
    return {(r.id, r.group_id) for r in df.collect()}


def test_components_match_star_on_dense_blobs(spark, monkeypatch):
    # threshold-graph shape: 10 cliques of 5 — with the driver gate off
    # it converges inside the min-label prefix and equals star exactly
    n = 50
    nodes = spark.range(n).select("id")
    edges = (
        spark.range(n).alias("a")
        .join(spark.range(n).alias("b"),
              (F.col("a.id") < F.col("b.id"))
              & ((F.col("a.id") / 5).cast("long")
                 == (F.col("b.id") / 5).cast("long")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )
    want = {(i, (i // 5) * 5) for i in range(n)}
    assert _labels(connected_components(nodes, edges)) == want
    monkeypatch.setattr(dedup, "DRIVER_EDGE_GATE", 0)
    got = _labels(connected_components(nodes, edges))
    assert got == want
    assert got == _labels(connected_components_two_phase(nodes, edges))


def test_components_resolve_chain_past_min_label_prefix(spark, monkeypatch):
    # 120-node path: diameter 119. With the driver gate off, the
    # min-label prefix (4 rounds) cannot converge; the resolver must
    # contract and finish via star rounds with the same labels star
    # produces from scratch.
    monkeypatch.setattr(dedup, "DRIVER_EDGE_GATE", 0)
    n = 120
    nodes = spark.range(n).select("id")
    chain = spark.range(n - 1).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b"))
    rounds = []
    real = dedup._min_label_rounds

    def spy(e, labels):
        out = real(e, labels)
        rounds.append(out[1])
        return out

    monkeypatch.setattr(dedup, "_min_label_rounds", spy)
    got = _labels(connected_components(nodes, chain))
    assert rounds == [False]  # the prefix ran and did not converge
    assert got == {(i, 0) for i in range(n)}
    assert got == _labels(connected_components_two_phase(nodes, chain))


def test_components_keep_singletons_and_mixed_shapes(spark):
    # two components + isolated nodes, ids deliberately non-contiguous
    nodes = spark.createDataFrame(
        [(i,) for i in [3, 7, 9, 12, 20, 31, 44]], "id long")
    edges = spark.createDataFrame(
        [(7, 3), (9, 7), (20, 12)], "id_a long, id_b long")
    got = _labels(connected_components(nodes, edges))
    assert got == {(3, 3), (7, 3), (9, 3), (12, 12), (20, 12),
                   (31, 31), (44, 44)}


def test_knn_topk_lsh_query_batch_matches_self_join_slice(spark):
    # the queries= batch path must return exactly the self-join result
    # restricted to the batch ids (same planes both sides)
    from opensea_datapipeline_spark.operators.similarity import knn_topk_lsh
    from opensea_datapipeline_spark.sources.readers import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").filter(
        F.col("vec_id") < 200)
    batch = emb.filter(F.col("vec_id") < 40)
    dim = len(emb.select("embedding").first()[0])
    full = knn_topk_lsh(emb, "vec_id", "embedding", k=5, dim=dim)
    batched = knn_topk_lsh(emb, "vec_id", "embedding", k=5, dim=dim,
                           queries=batch)
    want = {(r.query_id, r.neighbor_id, r.rank)
            for r in full.filter(F.col("query_id") < 40).collect()}
    got = {(r.query_id, r.neighbor_id, r.rank) for r in batched.collect()}
    assert got == want
    assert all(q < 40 for q, _, _ in got)


def test_ann_ivf_query_batch_matches_self_join_slice(spark):
    from opensea_datapipeline_spark.operators.similarity import ann_ivf
    from opensea_datapipeline_spark.sources.readers import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").filter(
        F.col("vec_id") < 200)
    batch = emb.filter(F.col("vec_id") < 40)
    full = ann_ivf(emb, "vec_id", "embedding", k=5, n_lists=8, n_probe=2)
    batched = ann_ivf(emb, "vec_id", "embedding", k=5, n_lists=8, n_probe=2,
                      queries=batch)
    want = {(r.query_id, r.neighbor_id, r.rank)
            for r in full.filter(F.col("query_id") < 40).collect()}
    got = {(r.query_id, r.neighbor_id, r.rank) for r in batched.collect()}
    assert got == want


def test_streaming_click_attribution_matches_batch_across_microbatches(
    spark, sf_dir, tmp_path
):
    # events split into 3 files, one per trigger: click/purchase pairs
    # whose halves arrive in DIFFERENT micro-batches only match if the
    # stream-stream join keeps state across triggers
    from opensea_datapipeline_spark.sources.readers import load_table
    from opensea_datapipeline_spark.streaming.join import (
        run_streaming_click_attribution,
    )

    events = load_table(spark, sf_dir, "events")
    src = tmp_path / "events_split"
    events.repartition(3).write.parquet(str(src))

    # maxFilesPerTrigger=1 → one micro-batch per file, so pairs whose
    # halves live in different files only match via retained join state.
    # The random 3-way split is NOT time-ordered, so the watermark must
    # exceed the event-time span or later batches' rows would be dropped
    # as late (the vacuity ADVICE r5 flagged: without the option all
    # three files landed in ONE AvailableNow batch).
    got = run_streaming_click_attribution(
        spark, str(src), table_name="attr_mb_test",
        max_files_per_trigger=1, watermark="3650 days",
    )
    c = events.filter(F.col("event_type") == "click")
    p = events.filter(F.col("event_type") == "purchase")
    # batch truth: the same join expressed on static frames
    want = (
        p.alias("p")
        .join(
            c.alias("c"),
            (F.col("c.user_id") == F.col("p.user_id"))
            & (F.col("c.ts") <= F.col("p.ts"))
            & (F.col("c.ts") >= F.col("p.ts") - F.expr("INTERVAL 1 HOUR")),
        )
        .select(
            F.col("p.event_id").alias("purchase_id"),
            F.col("c.event_id").alias("click_id"),
        )
    )
    got_set = {(r.purchase_id, r.click_id) for r in got.collect()}
    want_set = {(r.purchase_id, r.click_id) for r in want.collect()}
    assert got_set == want_set
    assert len(want_set) > 0, "fixture must produce at least one match"

    # non-vacuity: at least one matched pair must have its halves in
    # DIFFERENT files (= different micro-batches), proving the join
    # retained state across triggers rather than matching within one
    ev_files = spark.read.parquet(str(src)).select(
        "event_id", F.input_file_name().alias("file")
    )
    pairs = spark.createDataFrame(
        [(p, c) for p, c in want_set], "purchase_id LONG, click_id LONG"
    )
    cross_file = (
        pairs.join(
            ev_files.withColumnRenamed("event_id", "purchase_id")
            .withColumnRenamed("file", "p_file"), "purchase_id")
        .join(
            ev_files.withColumnRenamed("event_id", "click_id")
            .withColumnRenamed("file", "c_file"), "click_id")
        .filter(F.col("p_file") != F.col("c_file"))
        .count()
    )
    assert cross_file > 0, "split must place some pair halves in different files"

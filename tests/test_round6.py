"""Round-6 tests: ADVICE hardening + ANN index build/probe split."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_lsh_null_embedding_guard(spark):
    # ADVICE r5: np.vstack raised on NULL vectors; nulls must now be
    # filtered pre-UDF and simply produce no candidates (expression-path
    # semantics).
    from opensea_datapipeline_spark.operators.similarity import knn_topk_lsh
    from opensea_datapipeline_spark.sources.readers import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").filter(
        F.col("vec_id") < 100
    )
    nulled = emb.withColumn(
        "embedding",
        F.when(F.col("vec_id") == 3, F.lit(None)).otherwise(F.col("embedding")),
    )
    res = knn_topk_lsh(nulled, "vec_id", "embedding", k=5)
    rows = res.collect()
    assert len(rows) > 0
    assert all(r.query_id != 3 and r.neighbor_id != 3 for r in rows)


def test_lit_str_array_rejects_space():
    from opensea_datapipeline_spark.operators.text import _lit_str_array

    with pytest.raises(ValueError):
        _lit_str_array(["ok", "not ok"])


# ---------------------------------------------------------------------------
# bench.py prior-round recovery (pure Python, no Spark)
# ---------------------------------------------------------------------------


def test_bench_prev_queries_reconstructs_from_truncated_tail():
    import importlib.util

    spec = importlib.util.spec_from_file_location("bench", "/root/repo/bench.py")
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)

    r4 = {"parsed": None, "tail": '"queries": {"q1": 1.0, "q2": 2.0}, "x": 1'}
    # r5-shaped record: left-truncated tail lost `queries`, kept `vs_prev`
    r5 = {"parsed": None, "tail": 'ated", "vs_prev": {"q1": -0.4, "q2": 0.1}, "env_ratio": 0.9'}
    assert bench._prev_queries([r4]) == {"q1": 1.0, "q2": 2.0}
    assert bench._prev_queries([r4, r5]) == {"q1": 0.6, "q2": 2.1}
    # no base round → no reconstruction, not an error
    assert bench._prev_queries([r5]) == {}
    # parsed copy wins when present
    r6 = {"parsed": {"queries": {"q1": 3.0}}, "tail": ""}
    assert bench._prev_queries([r4, r5, r6]) == {"q1": 3.0}


# ---------------------------------------------------------------------------
# ANN index lifecycle: build once → persist → probe (VERDICT r5 task #1)
# ---------------------------------------------------------------------------


def _emb(spark, n=200):
    from opensea_datapipeline_spark.sources.readers import load_table

    return load_table(spark, "/root/testdata/sf0.001", "embeddings").filter(
        F.col("vec_id") < n
    )


def _result_set(df):
    return {(r.query_id, r.neighbor_id, r.rank) for r in df.collect()}


def test_lsh_index_roundtrip_probe_identical(spark, tmp_path):
    from opensea_datapipeline_spark.operators.ann_index import (
        build_lsh_index, lsh_probe, read_index, write_index,
    )

    emb = _emb(spark)
    index = build_lsh_index(emb, "vec_id", "embedding", n_planes=4, n_tables=8)
    in_mem = _result_set(lsh_probe(index, k=5))

    path = str(tmp_path / "lsh_index")
    write_index(index, path)
    loaded = read_index(spark, path)
    assert (loaded.n_planes, loaded.n_tables, loaded.dim, loaded.seed) == (
        index.n_planes, index.n_tables, index.dim, index.seed,
    )
    assert _result_set(lsh_probe(loaded, k=5)) == in_mem
    assert len(in_mem) > 0


def test_lsh_persisted_index_batch_matches_self_join(spark, tmp_path):
    # the r5 batch≡self-join guarantee must hold against the PERSISTED
    # index: probing a query subset returns exactly the self-join slice
    from opensea_datapipeline_spark.operators.ann_index import (
        build_lsh_index, lsh_probe, read_index, write_index,
    )

    emb = _emb(spark)
    path = str(tmp_path / "lsh_index")
    write_index(build_lsh_index(emb, "vec_id", "embedding"), path)
    loaded = read_index(spark, path)

    full = lsh_probe(loaded, k=5)
    want = _result_set(full.filter(F.col("query_id") < 40))
    batch = emb.filter(F.col("vec_id") < 40)
    got = _result_set(lsh_probe(loaded, queries=batch, k=5))
    assert got == want and len(got) > 0


def test_ivf_index_roundtrip_probe_identical(spark, tmp_path):
    from opensea_datapipeline_spark.operators.ann_index import (
        build_ivf_index, ivf_probe, read_index, write_index,
    )

    emb = _emb(spark)
    index = build_ivf_index(emb, "vec_id", "embedding", n_lists=8)
    in_mem = _result_set(ivf_probe(index, k=5, n_probe=2))

    path = str(tmp_path / "ivf_index")
    write_index(index, path)
    loaded = read_index(spark, path)
    assert (loaded.n_lists, loaded.seed) == (index.n_lists, index.seed)
    assert _result_set(ivf_probe(loaded, k=5, n_probe=2)) == in_mem
    assert len(in_mem) > 0


def test_ivf_persisted_index_batch_matches_self_join(spark, tmp_path):
    from opensea_datapipeline_spark.operators.ann_index import (
        build_ivf_index, ivf_probe, read_index, write_index,
    )

    emb = _emb(spark)
    path = str(tmp_path / "ivf_index")
    write_index(build_ivf_index(emb, "vec_id", "embedding", n_lists=8), path)
    loaded = read_index(spark, path)

    full = ivf_probe(loaded, k=5, n_probe=2)
    want = _result_set(full.filter(F.col("query_id") < 40))
    batch = emb.filter(F.col("vec_id") < 40)
    got = _result_set(ivf_probe(loaded, queries=batch, k=5, n_probe=2))
    assert got == want and len(got) > 0


def test_monolithic_operators_match_build_probe_composition(spark):
    # knn_topk_lsh / ann_ivf are now thin wrappers; results must be
    # identical to an explicit build+probe (the refactor guarantee that
    # keeps the driver's structural rows green)
    from opensea_datapipeline_spark.operators.ann_index import (
        build_ivf_index, build_lsh_index, ivf_probe, lsh_probe,
    )
    from opensea_datapipeline_spark.operators.similarity import (
        ann_ivf, knn_topk_lsh,
    )

    emb = _emb(spark, n=150)
    assert _result_set(knn_topk_lsh(emb, "vec_id", "embedding", k=5)) == (
        _result_set(lsh_probe(build_lsh_index(emb, "vec_id", "embedding"), k=5))
    )
    assert _result_set(
        ann_ivf(emb, "vec_id", "embedding", k=5, n_lists=8, n_probe=2)
    ) == _result_set(
        ivf_probe(build_ivf_index(emb, "vec_id", "embedding", n_lists=8),
                  k=5, n_probe=2)
    )


def test_persisted_lsh_recall_floor(spark, tmp_path):
    # recall gate against the persisted index: ≥0.45 of exact top-10
    # pairs recovered (the same floor the structural query enforces)
    from opensea_datapipeline_spark.operators.ann_index import (
        build_lsh_index, lsh_probe, read_index, write_index,
    )
    from opensea_datapipeline_spark.operators.similarity import knn_topk_exact

    emb = _emb(spark, n=300)
    dim = len(emb.select("embedding").first()[0])
    path = str(tmp_path / "lsh_index")
    write_index(
        build_lsh_index(emb, "vec_id", "embedding", dim=dim), path
    )
    approx = lsh_probe(read_index(spark, path), k=10)
    exact = knn_topk_exact(emb, "vec_id", "embedding", k=10)
    ex = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    ap = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    assert len(ex & ap) / len(ex) >= 0.45


def test_index_kind_mismatch_raises(spark, tmp_path):
    from opensea_datapipeline_spark.operators.ann_index import (
        LshIndex, build_lsh_index, read_index, write_index,
    )

    path = str(tmp_path / "lsh_index")
    write_index(build_lsh_index(_emb(spark, 50), "vec_id", "embedding"), path)
    with pytest.raises(ValueError, match="kind"):
        read_index(spark, path, "ivf")
    # no kind given: the meta's kind picks the dataclass
    assert isinstance(read_index(spark, path), LshIndex)
    assert isinstance(read_index(spark, path, "lsh"), LshIndex)


# ---------------------------------------------------------------------------
# Incremental append: index the corpus delta without a full rebuild
# ---------------------------------------------------------------------------


def test_lsh_append_equals_full_rebuild(spark, tmp_path):
    # LSH signatures are a pure per-row function of the frozen index
    # params, so prefix-build + delta-append must be BIT-identical to a
    # full rebuild over the union. The delta deliberately overlaps the
    # prefix (ids 100-119) to prove idempotent re-append.
    from opensea_datapipeline_spark.operators.ann_index import (
        append_index, build_lsh_index, lsh_probe, read_index, write_index,
    )

    emb = _emb(spark, n=200)
    prefix = emb.filter(F.col("vec_id") < 120)
    delta = emb.filter(F.col("vec_id") >= 100)  # 20-id overlap
    path = str(tmp_path / "lsh_index")
    write_index(build_lsh_index(prefix, "vec_id", "embedding"), path)
    append_index(spark, path, delta, "vec_id", "embedding")
    appended = read_index(spark, path)
    full = build_lsh_index(emb, "vec_id", "embedding")
    assert appended.vectors.count() == full.vectors.count() == emb.count()
    assert {(r.id, r.table, r.sig) for r in appended.sigs.collect()} == {
        (r.id, r.table, r.sig) for r in full.sigs.collect()
    }
    assert _result_set(lsh_probe(appended, k=5)) == _result_set(
        lsh_probe(full, k=5)
    )


def _frozen_argmin(centroids, rows):
    """Reference IVF assignment: numpy argmin of squared euclidean
    distance over the frozen centroids (lowest list_id on ties)."""
    import numpy as np

    cents = {r.list_id: np.array(r.centroid) for r in centroids.collect()}
    keys = sorted(cents)
    C = np.vstack([cents[k] for k in keys])
    return {
        r.vec_id: keys[int(
            ((np.array(r.embedding, dtype=np.float64) - C) ** 2)
            .sum(axis=1).argmin()
        )]
        for r in rows
    }


def test_ivf_append_assigns_nearest_frozen_centroid(spark, tmp_path):
    from opensea_datapipeline_spark.operators.ann_index import (
        append_index, build_ivf_index, read_index, write_index,
    )

    emb = _emb(spark, n=200)
    prefix = emb.filter(F.col("vec_id") < 150)
    delta = emb.filter(F.col("vec_id") >= 150)
    index = build_ivf_index(prefix, "vec_id", "embedding", n_lists=6)
    path = str(tmp_path / "ivf_index")
    write_index(index, path)
    append_index(spark, path, delta, "vec_id", "embedding")
    appended = read_index(spark, path)

    # centroids are frozen: the stored table is unchanged, and the
    # appended assignments for the delta must match a numpy argmin over
    # squared euclidean distance
    assert sorted(
        (r.list_id, list(r.centroid)) for r in appended.centroids.collect()
    ) == sorted((r.list_id, list(r.centroid)) for r in index.centroids.collect())
    new_rows = appended.assignments.filter(F.col("id") >= 150).collect()
    assert len(new_rows) == delta.count()
    assert {r.id: r.list_id for r in new_rows} == _frozen_argmin(
        index.centroids, delta.collect()
    )
    # prefix assignments untouched
    assert (
        appended.assignments.filter(F.col("id") < 150).count()
        == index.assignments.count()
    )


def test_lsh_persisted_append_roundtrip(spark, tmp_path):
    # daily-ingest shape: write prefix index → append delta in place →
    # read back ≡ a full rebuild over prefix ∪ delta (signatures are a
    # pure per-row function); overlapping ids are not duplicated
    from opensea_datapipeline_spark.operators.ann_index import (
        append_index, build_lsh_index, lsh_probe, read_index, write_index,
    )

    emb = _emb(spark, n=200)
    prefix = emb.filter(F.col("vec_id") < 120)
    delta = emb.filter(F.col("vec_id") >= 100)
    path = str(tmp_path / "lsh_index")
    index = build_lsh_index(prefix, "vec_id", "embedding")
    write_index(index, path)
    append_index(spark, path, delta, "vec_id", "embedding")
    loaded = read_index(spark, path)
    assert loaded.vectors.count() == emb.count()
    assert loaded.vectors.select("id").distinct().count() == emb.count()
    want = _result_set(lsh_probe(build_lsh_index(emb, "vec_id", "embedding"), k=5))
    assert _result_set(lsh_probe(loaded, k=5)) == want and len(want) > 0


def test_ivf_persisted_append_roundtrip(spark, tmp_path):
    # reference: the prefix index plus the delta assigned by a numpy
    # argmin over the frozen centroids
    from opensea_datapipeline_spark.functions.literals import local_frame
    from opensea_datapipeline_spark.operators.ann_index import (
        IvfIndex, append_index, build_ivf_index, ivf_probe, read_index,
        write_index,
    )

    emb = _emb(spark, n=200)
    prefix = emb.filter(F.col("vec_id") < 150)
    delta = emb.filter(F.col("vec_id") >= 130)  # 20-id overlap
    path = str(tmp_path / "ivf_index")
    index = build_ivf_index(prefix, "vec_id", "embedding", n_lists=6)
    write_index(index, path)
    append_index(spark, path, delta, "vec_id", "embedding")
    loaded = read_index(spark, path)
    assert loaded.assignments.count() == emb.count()
    assert loaded.assignments.select("id").distinct().count() == emb.count()
    fresh = delta.filter(F.col("vec_id") >= 150).collect()
    lists = _frozen_argmin(index.centroids, fresh)
    ref_rows = local_frame(
        spark,
        [(r.vec_id, list(r.embedding), lists[r.vec_id]) for r in fresh],
        index.assignments.schema,
    )
    ref = IvfIndex(
        index.centroids, index.assignments.unionByName(ref_rows),
        index.n_lists, index.seed,
    )
    assert {
        (r.id, r.list_id) for r in loaded.assignments.collect()
    } == {(r.id, r.list_id) for r in ref.assignments.collect()}
    want = _result_set(ivf_probe(ref, k=5, n_probe=2))
    assert _result_set(ivf_probe(loaded, k=5, n_probe=2)) == want
    assert len(want) > 0


# ---------------------------------------------------------------------------
# Training-data curation: temperature mixing + shard sink
# ---------------------------------------------------------------------------


def test_temperature_resample_flattens_shares(spark):
    from opensea_datapipeline_spark.operators.text import temperature_resample
    from opensea_datapipeline_spark.sources.readers import load_table

    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    mixed = temperature_resample(docs, "lang", "doc_id", alpha=0.5,
                                 target_fraction=0.5)
    rows = {
        r.lang: r
        for r in mixed.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("kept").cast("int")).alias("kept"),
            F.min("rate").alias("rate"),
        ).collect()
    }
    # alpha<1 upweights rare domains: smaller lang => strictly higher rate
    by_n = sorted(rows.values(), key=lambda r: r.n)
    rates = [r.rate for r in by_n]
    assert rates == sorted(rates, reverse=True)
    # kept counts track rate*n within binomial noise (3 sigma)
    import math
    for r in rows.values():
        exp, sd = r.n * r.rate, math.sqrt(r.n * r.rate * (1 - r.rate))
        assert abs(r.kept - exp) <= 3 * sd + 1
    # determinism: re-running selects the identical doc set
    ids1 = {x.doc_id for x in mixed.filter("kept").select("doc_id").collect()}
    mixed2 = temperature_resample(docs, "lang", "doc_id", alpha=0.5,
                                  target_fraction=0.5)
    ids2 = {x.doc_id for x in mixed2.filter("kept").select("doc_id").collect()}
    assert ids1 == ids2


def test_temperature_resample_alpha_zero_rate_clamp(spark):
    # alpha=0 → uniform target shares; with a high target_fraction the
    # rare domains clamp at rate 1.0 and keep every doc
    from opensea_datapipeline_spark.operators.text import temperature_resample
    from opensea_datapipeline_spark.sources.readers import load_table

    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    mixed = temperature_resample(docs, "lang", "doc_id", alpha=0.0,
                                 target_fraction=0.9)
    per = {
        r.lang: r
        for r in mixed.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("kept").cast("int")).alias("kept"),
            F.min("rate").alias("rate"),
        ).collect()
    }
    smallest = min(per.values(), key=lambda r: r.n)
    assert smallest.rate == 1.0 and smallest.kept == smallest.n


def test_write_training_shards_deterministic_layout(spark, tmp_path):
    import os

    from opensea_datapipeline_spark.sources.readers import load_table
    from opensea_datapipeline_spark.sources.writers import write_training_shards

    docs = load_table(spark, "/root/testdata/sf0.01", "documents").select(
        "doc_id", "lang"
    )
    p1, p2 = str(tmp_path / "s1"), str(tmp_path / "s2")
    write_training_shards(docs, p1, "doc_id", n_shards=8)
    # second run from a differently-partitioned input: same bytes-level
    # content (assignment + order are pure functions of doc_id)
    write_training_shards(docs.repartition(13), p2, "doc_id", n_shards=8)

    assert sorted(d for d in os.listdir(p1) if d.startswith("shard=")) == [
        f"shard={i}" for i in range(8)
    ]
    r1 = spark.read.parquet(p1)
    r2 = spark.read.parquet(p2)
    assert r1.count() == docs.count()
    # per-shard doc sets identical across runs
    a = {(r.shard, r.doc_id) for r in r1.select("shard", "doc_id").collect()}
    b = {(r.shard, r.doc_id) for r in r2.select("shard", "doc_id").collect()}
    assert a == b
    # in-file order identical across runs (the deterministic shuffle)
    o1 = [r.doc_id for r in spark.read.parquet(p1 + "/shard=3").collect()]
    o2 = [r.doc_id for r in spark.read.parquet(p2 + "/shard=3").collect()]
    assert o1 == o2 and len(o1) > 0


# ---------------------------------------------------------------------------
# Lake operations: small-file compaction + runtime bloom-filter pruning
# ---------------------------------------------------------------------------


def test_compact_parquet_merges_small_files(spark, tmp_path):
    import os

    from opensea_datapipeline_spark.sources.readers import load_table
    from opensea_datapipeline_spark.sources.writers import compact_parquet

    events = load_table(spark, "/root/testdata/sf0.01", "events")
    src = str(tmp_path / "fragmented")
    events.repartition(32).write.parquet(src)  # the streaming-sink shape
    n_small = len([f for f in os.listdir(src) if f.endswith(".parquet")])
    assert n_small == 32

    dst = str(tmp_path / "compacted")
    n_out = compact_parquet(spark, src, dst, target_file_mb=128)
    n_files = len([f for f in os.listdir(dst) if f.endswith(".parquet")])
    assert n_files == n_out < n_small
    assert spark.read.parquet(dst).count() == events.count()


def test_runtime_bloom_filter_injected_on_selective_shuffle_join(spark):
    # Spark's runtime row-level filtering: a selective filter on one join
    # side injects a bloom filter into the other side's scan, pruning
    # shuffle input before the join — the 100 TB fact-join saver when the
    # dim side is too big to broadcast. Guardrail: the optimizer must
    # inject it once thresholds allow (local data is tiny, so the test
    # lowers the application-side threshold; defaults engage at scale).
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
    }
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        import pyspark.sql.functions as F

        orders = spark.read.parquet("/root/testdata/sf0.01/orders.parquet")
        li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
        sel = orders.filter(F.col("o_totalprice") > 400000).select("o_orderkey")
        j = li.join(sel, li.l_orderkey == sel.o_orderkey)
        plan = j._jdf.queryExecution().optimizedPlan().toString().lower()
        assert "bloom" in plan  # bloom_filter_agg / might_contain pair
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_domain_mix_rate_join_broadcasts(spark):
    # the rate table is O(#domains) rows — the fact-side join must stay a
    # broadcast hash join (no SortMergeJoin on the corpus) at any scale
    from opensea_datapipeline_spark.queries import QUERIES

    df = QUERIES["domain_mix_resample"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


# ---------------------------------------------------------------------------
# Product quantization: compressed-scan ANN (ADC)
# ---------------------------------------------------------------------------


def test_pq_index_shapes_and_determinism(spark):
    from opensea_datapipeline_spark.operators.ann_index import build_pq_index

    emb = _emb(spark, n=300)
    idx = build_pq_index(emb, "vec_id", "embedding", m=8, k=16)
    assert idx.codebooks.count() == 8 * 16
    rows = idx.codes.orderBy("id").collect()
    assert len(rows) == emb.count()
    assert all(len(r.codes) == 8 for r in rows)
    assert all(0 <= c < 16 for r in rows for c in r.codes)
    # deterministic rebuild: same sample order + seeded Lloyd → same codes
    idx2 = build_pq_index(emb.repartition(7), "vec_id", "embedding", m=8, k=16)
    assert rows == idx2.codes.orderBy("id").collect()


def test_pq_probe_planted_twin_recall(spark):
    from opensea_datapipeline_spark.operators.ann_index import (
        build_pq_index, pq_probe,
    )

    emb = _emb(spark, n=300)
    # plant near-duplicates: deterministic elementwise perturbation of the
    # first 50 vectors (cos ≈ 0.95), ids offset by 10_000
    twins = emb.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 10_000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x * (1.0 + 0.3 * F.sin(i.cast("double") + 1.0)),
        ).cast("array<float>").alias("embedding"),
    )
    corpus = emb.select("vec_id", "embedding").unionByName(twins)
    idx = build_pq_index(corpus, "vec_id", "embedding", m=8, k=16)
    queries = corpus.filter(F.col("vec_id") < 50)
    res = pq_probe(idx, queries, k=10)
    hits = res.filter(
        F.col("neighbor_id") == F.col("query_id") + 10_000
    ).count()
    # a cos≈0.95 twin in a cos≈0.4 noise corpus must survive PQ (m=8,
    # k=16) distortion for nearly every query
    assert hits >= 45
    # every query returns exactly k rows and never itself
    per_q = {r.query_id: r.n for r in res.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert set(per_q) == set(range(50)) and all(v == 10 for v in per_q.values())
    assert res.filter(F.col("query_id") == F.col("neighbor_id")).count() == 0


def test_pq_index_roundtrip_probe_identical(spark, tmp_path):
    from opensea_datapipeline_spark.operators.ann_index import (
        build_pq_index, pq_probe, read_index, write_index,
    )

    emb = _emb(spark, n=300)
    idx = build_pq_index(emb, "vec_id", "embedding", m=8, k=16)
    queries = emb.filter(F.col("vec_id") < 40)
    want = _result_set(pq_probe(idx, queries, k=5))

    path = str(tmp_path / "pq_index")
    write_index(idx, path)
    loaded = read_index(spark, path)
    assert (loaded.m, loaded.k, loaded.dim, loaded.seed) == (
        idx.m, idx.k, idx.dim, idx.seed,
    )
    assert _result_set(pq_probe(loaded, queries, k=5)) == want
    assert len(want) > 0


def test_pq_rerank_lifts_recall_over_adc(spark):
    from opensea_datapipeline_spark.operators.ann_index import (
        build_pq_index, pq_probe,
    )
    from opensea_datapipeline_spark.operators.similarity import knn_topk_exact

    emb = _emb(spark, n=300).select("vec_id", "embedding")
    idx = build_pq_index(emb, "vec_id", "embedding", m=8, k=16)
    queries = emb.filter(F.col("vec_id") < 100)
    exact = knn_topk_exact(emb, "vec_id", "embedding", k=10, queries=queries)
    ex = {(r.query_id, r.neighbor_id) for r in exact.collect()}

    adc = pq_probe(idx, queries, k=10)
    two_stage = pq_probe(idx, queries, k=10, rerank_with=emb, overfetch=8)
    r_adc = len(ex & {(r.query_id, r.neighbor_id) for r in adc.collect()}) / len(ex)
    r_two = len(ex & {(r.query_id, r.neighbor_id) for r in two_stage.collect()}) / len(ex)
    # float re-rank of an 8x over-fetch must substantially beat raw ADC
    # order on a noise corpus (ADC ~0.17-0.23 on this data)
    assert r_two > r_adc
    assert r_two >= 0.4
    # contract: still exactly k rows per query, no self-matches
    n_q = queries.count()
    assert two_stage.count() == n_q * 10
    assert two_stage.filter(F.col("query_id") == F.col("neighbor_id")).count() == 0


def test_streaming_ingest_appends_persisted_lsh_index(spark, tmp_path):
    # the streaming corpus-ingest shape end-to-end: embedding batches
    # arrive as files; foreachBatch appends each micro-batch to the
    # persisted LSH index; the final index must equal a cold full build
    # over everything (signatures are pure per-row functions, and
    # append's anti-join makes replayed batches idempotent).
    import os

    from opensea_datapipeline_spark.operators.ann_index import (
        append_index, build_lsh_index, lsh_probe, read_index,
        write_index,
    )

    emb = _emb(spark, n=200)
    seed_part = emb.filter(F.col("vec_id") < 80)
    stream_dir = str(tmp_path / "arrivals")
    os.makedirs(stream_dir)
    emb.filter((F.col("vec_id") >= 80) & (F.col("vec_id") < 140)).write.parquet(
        stream_dir + "/b0"
    )
    emb.filter(F.col("vec_id") >= 140).write.parquet(stream_dir + "/b1")

    path = str(tmp_path / "lsh_index")
    write_index(build_lsh_index(seed_part, "vec_id", "embedding"), path)

    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir + "/b*")
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda batch_df, _id: append_index(
                spark, path, batch_df, "vec_id", "embedding"
            )
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    loaded = read_index(spark, path)
    assert loaded.vectors.count() == emb.count()
    assert loaded.vectors.select("id").distinct().count() == emb.count()
    full = build_lsh_index(emb, "vec_id", "embedding")
    assert _result_set(lsh_probe(loaded, k=5)) == _result_set(
        lsh_probe(full, k=5)
    )


def test_population_stability_detects_planted_drift(spark):
    from opensea_datapipeline_spark.operators.aggregates import (
        population_stability,
    )

    base = spark.range(2000).select(
        F.lit("base").alias("period"),
        (F.col("id") % 100).cast("double").alias("value"),
    )
    same = spark.range(2000).select(
        F.lit("curr").alias("period"),
        (F.col("id") % 100).cast("double").alias("value"),
    )
    shifted = spark.range(2000).select(
        F.lit("curr").alias("period"),
        ((F.col("id") % 100) + 120.0).alias("value"),  # mass moves buckets
    )

    stable = population_stability(
        base.unionByName(same), "value", "period",
        bucket_width=25.0, max_bucket=8,
    )
    drifted = population_stability(
        base.unionByName(shifted), "value", "period",
        bucket_width=25.0, max_bucket=8,
    )
    psi_stable = stable.select("psi_total").first()[0]
    psi_drift = drifted.select("psi_total").first()[0]
    # identical distributions: only smoothing noise; full shift: blows
    # through the 0.25 investigate threshold
    assert psi_stable < 0.01
    assert psi_drift > 0.25
    # per-bucket terms sum to the total (one row per touched bucket)
    rows = drifted.collect()
    assert abs(sum(r.psi_term for r in rows) - rows[0].psi_total) < 1e-4


# ---------------------------------------------------------------------------
# IVF-PQ: list-restricted compressed scan (the composed serving shape)
# ---------------------------------------------------------------------------


def test_ivfpq_full_probe_equals_plain_pq(spark):
    # with n_probe = n_lists the list restriction is a no-op, and since
    # both indexes train identical codebooks (same seed + ordered
    # sample), IVF-PQ must return exactly the plain-PQ ADC answer
    from opensea_datapipeline_spark.operators.ann_index import (
        build_ivfpq_index, build_pq_index, ivfpq_probe, pq_probe,
    )

    emb = _emb(spark, n=300).select("vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") < 40)
    pq = build_pq_index(emb, "vec_id", "embedding", m=8, k=16)
    ivfpq = build_ivfpq_index(
        emb, "vec_id", "embedding", n_lists=8, m=8, k=16
    )
    want = _result_set(pq_probe(pq, queries, k=5))
    got = _result_set(ivfpq_probe(ivfpq, queries, k=5, n_probe=8))
    assert got == want and len(got) > 0


def test_ivfpq_planted_twin_recall_partial_probe(spark):
    from opensea_datapipeline_spark.operators.ann_index import (
        build_ivfpq_index, ivfpq_probe,
    )

    emb = _emb(spark, n=300).select("vec_id", "embedding")
    twins = emb.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 10_000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x * (1.0 + 0.3 * F.sin(i.cast("double") + 1.0)),
        ).cast("array<float>").alias("embedding"),
    )
    corpus = emb.unionByName(twins)
    idx = build_ivfpq_index(corpus, "vec_id", "embedding", n_lists=8, m=8, k=16)
    queries = corpus.filter(F.col("vec_id") < 50)
    res = ivfpq_probe(idx, queries, k=10, n_probe=4)
    hits = res.filter(F.col("neighbor_id") == F.col("query_id") + 10_000).count()
    # a cos~0.95 twin lands in (or next to) its query's own list, so
    # probing half the lists must still surface it for ~every query
    assert hits >= 45
    assert res.filter(F.col("query_id") == F.col("neighbor_id")).count() == 0


def test_ivfpq_roundtrip_probe_identical(spark, tmp_path):
    from opensea_datapipeline_spark.operators.ann_index import (
        build_ivfpq_index, ivfpq_probe, read_index, write_index,
    )

    emb = _emb(spark, n=300).select("vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") < 40)
    idx = build_ivfpq_index(emb, "vec_id", "embedding", n_lists=8, m=8, k=16)
    want = _result_set(ivfpq_probe(idx, queries, k=5, n_probe=3))

    path = str(tmp_path / "ivfpq_index")
    write_index(idx, path)
    loaded = read_index(spark, path)
    assert (loaded.n_lists, loaded.m, loaded.k, loaded.dim, loaded.seed) == (
        idx.n_lists, idx.m, idx.k, idx.dim, idx.seed,
    )
    assert _result_set(ivfpq_probe(loaded, queries, k=5, n_probe=3)) == want
    assert len(want) > 0


def test_pq_append_encodes_with_frozen_books(spark, tmp_path):
    import numpy as np

    from opensea_datapipeline_spark.operators.ann_index import (
        append_index, build_pq_index, read_index, write_index,
    )

    emb = _emb(spark, n=200).select("vec_id", "embedding")
    prefix = emb.filter(F.col("vec_id") < 120)
    delta = emb.filter(F.col("vec_id") >= 100)  # 20-id overlap
    idx = build_pq_index(prefix, "vec_id", "embedding", m=8, k=16)
    path = str(tmp_path / "pq_index")
    write_index(idx, path)
    append_index(spark, path, delta, "vec_id", "embedding")
    appended = read_index(spark, path)
    assert appended.codes.count() == emb.count()
    assert appended.codes.select("id").distinct().count() == emb.count()

    # appended codes must equal a numpy re-encode against the FROZEN books
    books = {(r.subspace, r.code): np.array(r.centroid)
             for r in idx.codebooks.collect()}
    sub = idx.dim // idx.m
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64)
            for r in delta.filter(F.col("vec_id") >= 120).collect()}
    got = {r.id: r.codes for r in appended.codes.filter(F.col("id") >= 120).collect()}
    assert sorted(got) == sorted(vecs)
    for vid, v in vecs.items():
        vn = v / (np.linalg.norm(v) or 1.0)
        for s in range(idx.m):
            xs = vn[s * sub:(s + 1) * sub]
            best = min(range(idx.k),
                       key=lambda c: ((xs - books[(s, c)]) ** 2).sum())
            assert got[vid][s] == best

    # the prefix's codes are untouched by the append
    a = {(r.id, tuple(r.codes))
         for r in appended.codes.filter(F.col("id") < 120).collect()}
    b = {(r.id, tuple(r.codes)) for r in idx.codes.collect()}
    assert a == b


def test_ivfpq_persisted_append_roundtrip(spark, tmp_path):
    from opensea_datapipeline_spark.operators.ann_index import (
        append_index, build_ivfpq_index, ivfpq_probe,
        read_index, write_index,
    )

    emb = _emb(spark, n=200).select("vec_id", "embedding")
    prefix = emb.filter(F.col("vec_id") < 150)
    delta = emb.filter(F.col("vec_id") >= 130)  # 20-id overlap
    path = str(tmp_path / "ivfpq_index")
    idx = build_ivfpq_index(prefix, "vec_id", "embedding", n_lists=6, m=8, k=16)
    write_index(idx, path)
    append_index(spark, path, delta, "vec_id", "embedding")
    loaded = read_index(spark, path)
    assert loaded.codes.count() == emb.count()
    assert loaded.codes.select("id").distinct().count() == emb.count()
    # appended rows are probe-visible: querying the delta finds neighbors
    res = ivfpq_probe(loaded, emb.filter(F.col("vec_id") >= 150), k=5,
                      n_probe=6)
    per_q = res.groupBy("query_id").count().collect()
    assert len(per_q) == 50 and all(r["count"] == 5 for r in per_q)


def test_write_training_shards_curriculum_order(spark, tmp_path):
    from opensea_datapipeline_spark.sources.readers import load_table
    from opensea_datapipeline_spark.sources.writers import write_training_shards

    docs = load_table(spark, "/root/testdata/sf0.01", "documents").select(
        "doc_id", "n_chars"
    )
    dst = str(tmp_path / "curriculum")
    write_training_shards(docs, dst, "doc_id", n_shards=4,
                          order_col="n_chars")
    # same shard membership as the plain shuffle, but each shard file is
    # sorted easy->hard (ascending n_chars)
    for s in range(4):
        vals = [r.n_chars for r in
                spark.read.parquet(dst + f"/shard={s}").collect()]
        assert vals and vals == sorted(vals)
    assert spark.read.parquet(dst).count() == docs.count()


def test_write_training_shards_single_exchange_plan(spark, tmp_path):
    # the sink's scale claim pinned at the plan level: exactly ONE
    # exchange (the shard hash-partition), no range/global sort exchange
    from opensea_datapipeline_spark.operators.text import shard_assignment
    from opensea_datapipeline_spark.sources.readers import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "lang"
    )
    shard, key = shard_assignment("doc_id", 8)
    shaped = (
        docs.withColumn("shard", shard)
        .withColumn("_shuffle_key", key)
        .repartition(8, "shard")
        .sortWithinPartitions("shard", "_shuffle_key")
        .drop("_shuffle_key")
    )
    plan = shaped._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    assert "rangepartitioning" not in plan.lower()


def test_streaming_psi_monitor_flags_shifted_batch(spark, tmp_path):
    # two micro-batches against a frozen reference: one drawn from the
    # same distribution (PSI ~ smoothing noise), one shifted by 120
    # (PSI blows through the 0.25 investigate threshold)
    import os

    from opensea_datapipeline_spark.streaming.quality import (
        run_streaming_psi_monitor,
    )

    ref = spark.range(2000).select(
        (F.col("id") % 100).cast("double").alias("value")
    )
    stream_dir = str(tmp_path / "arrivals")
    os.makedirs(stream_dir)
    spark.range(1000).select(
        ((F.col("id") * 7) % 100).cast("double").alias("value")
    ).coalesce(1).write.parquet(stream_dir + "/b_same")
    spark.range(1000).select(
        (((F.col("id") * 7) % 100) + 120.0).alias("value")
    ).coalesce(1).write.parquet(stream_dir + "/b_shifted")

    run_streaming_psi_monitor(
        spark, stream_dir + "/b*", ref,
        monitor_path=str(tmp_path / "monitor"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        schema="value double",
        max_files_per_trigger=1,
    )
    rows = spark.read.parquet(str(tmp_path / "monitor")).collect()
    assert len(rows) == 2
    psis = sorted(r.psi_total for r in rows)
    assert psis[0] < 0.05      # same-distribution batch
    assert psis[1] > 0.25      # shifted batch trips the gate
    assert all(r.n_rows == 1000 for r in rows)


def test_cli_index_lifecycle(spark, tmp_path, capsys):
    # the operational surface: build -> append -> probe through the CLI
    # entry point (argument plumbing + kind from the meta; the operators
    # themselves are covered above)
    from opensea_datapipeline_spark.__main__ import main
    from opensea_datapipeline_spark.operators.ann_index import index_staleness

    emb = _emb(spark, n=150).select("vec_id", "embedding")
    emb_path = str(tmp_path / "emb")
    delta_path = str(tmp_path / "delta")
    delta2_path = str(tmp_path / "delta2")
    q_path = str(tmp_path / "queries")
    emb.filter(F.col("vec_id") < 120).write.parquet(emb_path)
    emb.filter((F.col("vec_id") >= 120) & (F.col("vec_id") < 135)).write.parquet(
        delta_path
    )
    emb.filter(F.col("vec_id") >= 135).write.parquet(delta2_path)
    emb.filter(F.col("vec_id") < 20).write.parquet(q_path)
    idx_path = str(tmp_path / "idx")
    out_path = str(tmp_path / "res")
    out2_path = str(tmp_path / "res2")

    assert main(["index", "build", "--kind", "ivfpq", "--path", idx_path,
                 "--embeddings", emb_path]) == 0
    assert main(["index", "append", "--kind", "ivfpq", "--path", idx_path,
                 "--embeddings", delta_path]) == 0
    assert main(["index", "probe", "--kind", "ivfpq", "--path", idx_path,
                 "--queries", q_path, "--out", out_path,
                 "--n-probe", "16"]) == 0
    res = spark.read.parquet(out_path)
    assert res.select("query_id").distinct().count() == 20

    # append and probe take the kind from the index meta
    assert main(["index", "append", "--path", idx_path,
                 "--embeddings", delta2_path]) == 0
    assert main(["index", "probe", "--path", idx_path, "--queries", q_path,
                 "--out", out2_path, "--n-probe", "16"]) == 0
    assert spark.read.parquet(out2_path).select(
        "query_id").distinct().count() == 20
    s = index_staleness(spark, idx_path)
    assert (s["n_appends"], s["n_appended"]) == (2, 30)

    # a given --kind that differs from the meta's fails loud, stores nothing
    capsys.readouterr()
    assert main(["index", "append", "--kind", "lsh", "--path", idx_path,
                 "--embeddings", delta2_path]) == 2
    assert main(["index", "probe", "--kind", "pq", "--path", idx_path,
                 "--queries", q_path]) == 2
    assert capsys.readouterr().err.count("kind='ivfpq'") == 2
    assert index_staleness(spark, idx_path)["n_appends"] == 2

    # probe requires a query batch for the compressed kinds
    assert main(["index", "probe", "--kind", "ivfpq", "--path", idx_path]) == 2
    assert "--queries is required" in capsys.readouterr().err


def test_cli_monitor_scores_stream(spark, tmp_path):
    import os

    from opensea_datapipeline_spark.__main__ import main

    ref_path = str(tmp_path / "ref")
    spark.range(2000).select(
        (F.col("id") % 100).cast("double").alias("value")
    ).write.parquet(ref_path)
    stream_dir = str(tmp_path / "arrivals")
    os.makedirs(stream_dir)
    spark.range(500).select(
        (((F.col("id") * 3) % 100) + 150.0).alias("value")
    ).coalesce(1).write.parquet(stream_dir + "/b0")

    rc = main([
        "monitor", "--stream", stream_dir + "/b*",
        "--reference", ref_path,
        "--monitor-out", str(tmp_path / "mon"),
        "--checkpoint", str(tmp_path / "ckpt"),
    ])
    assert rc == 0
    rows = spark.read.parquet(str(tmp_path / "mon")).collect()
    assert len(rows) == 1 and rows[0].psi_total > 0.25

"""Round-14 regression tests: PQ / IVF-PQ streaming ingest kinds, the
orphaned-version sweep, versioned tokenizer-artifact fingerprints, the
knn null-sim top-k filter, and the bench noisy-record guard."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


def _ann_vec(i, dim=8):
    return [math.sin(0.7 * i + j) for j in range(dim)]


def _write_batches(spark, src, batches):
    for ids in batches:
        spark.createDataFrame(
            [(i, _ann_vec(i)) for i in ids],
            "vec_id long, embedding array<double>",
        ).coalesce(1).write.mode("append").parquet(src)


# ---------------------------------------------------------------------------
# streaming ANN ingest: pq / ivfpq kinds (VERDICT r13 #5)
# ---------------------------------------------------------------------------

def test_streaming_ann_ingest_pq_kind_appends_and_replays(spark, tmp_path):
    # kind="pq": bootstrap trains codebooks on batch 0, later batches
    # encode-only append under the FROZEN books (append ≡ rebuild under
    # frozen codebooks, so stored codes must equal a one-shot encode of
    # the same corpus with the same books); a replayed stream is a no-op.
    from opensea_datapipeline_spark.operators.ann_index import (
        _books_from_df,
        _pq_encode,
        read_index,
    )
    from opensea_datapipeline_spark.streaming.ann_ingest import (
        run_streaming_ann_ingest,
    )

    src = str(tmp_path / "src")
    _write_batches(spark, src, [range(0, 8), range(8, 12), range(12, 16)])
    meta = run_streaming_ann_ingest(
        spark, src, str(tmp_path / "state"), str(tmp_path / "ckpt"),
        kind="pq", pq_m=2, pq_k=4,
        rebuild_threshold=5.0,  # never rebuild in this test
    )
    assert meta["rebuilds"] == 0 and meta["version"] == 0
    idx = read_index(spark, meta["index_dir"])
    got = {r.id: list(r.codes) for r in idx.codes.collect()}
    assert sorted(got) == list(range(16))
    # frozen-books invariant: streamed codes == one-shot encode
    books = _books_from_df(idx.codebooks, idx.m, idx.k, idx.dim // idx.m)
    allv = spark.createDataFrame(
        [(i, _ann_vec(i)) for i in range(16)], "id long, vec array<double>"
    )
    want = {r.id: list(r.codes) for r in _pq_encode(allv, books).collect()}
    assert got == want

    again = run_streaming_ann_ingest(
        spark, src, str(tmp_path / "state"), str(tmp_path / "ckpt"),
        kind="pq", pq_m=2, pq_k=4, rebuild_threshold=5.0,
    )
    assert again["version"] == 0
    assert spark.read.parquet(again["index_dir"] + "/codes").count() == 16


def test_streaming_ann_ingest_pq_rebuild_reads_source(spark, tmp_path):
    # PQ codes are lossy (the raw floats are gone from the store), so
    # the staleness-triggered rebuild must retrain from the stream's
    # SOURCE directory — and afterwards the store still holds every id
    # exactly once with version advanced and the old dir removed.
    import os

    from opensea_datapipeline_spark.streaming.ann_ingest import (
        run_streaming_ann_ingest,
    )

    src = str(tmp_path / "src")
    _write_batches(spark, src, [range(0, 6), range(6, 12), range(12, 14)])
    state = str(tmp_path / "state")
    meta = run_streaming_ann_ingest(
        spark, src, state, str(tmp_path / "ckpt"),
        kind="pq", pq_m=2, pq_k=4, rebuild_threshold=0.4,
    )
    assert meta["rebuilds"] >= 1
    assert meta["version"] == meta["rebuilds"]
    assert not os.path.isdir(os.path.join(state, "index_v0"))
    rows = spark.read.parquet(meta["index_dir"] + "/codes")
    assert rows.count() == 14
    assert rows.select("id").distinct().count() == 14


def test_streaming_ann_ingest_ivfpq_kind_lifecycle(spark, tmp_path):
    # kind="ivfpq": the composed index streams through the same loop —
    # appends assign+encode under both frozen structures; the rebuild
    # (from source: codes are lossy) advances the version; every id is
    # stored exactly once either way.
    from opensea_datapipeline_spark.operators.ann_index import (
        read_index,
    )
    from opensea_datapipeline_spark.streaming.ann_ingest import (
        run_streaming_ann_ingest,
    )

    src = str(tmp_path / "src")
    _write_batches(spark, src, [range(0, 8), range(8, 12), range(12, 16)])
    meta = run_streaming_ann_ingest(
        spark, src, str(tmp_path / "state"), str(tmp_path / "ckpt"),
        kind="ivfpq", n_lists=2, pq_m=2, pq_k=4, rebuild_threshold=5.0,
    )
    assert meta["rebuilds"] == 0 and meta["version"] == 0
    idx = read_index(spark, meta["index_dir"])
    rows = idx.codes.collect()
    assert sorted(r.id for r in rows) == list(range(16))
    n_lists = {r.list_id for r in rows}
    assert n_lists <= {0, 1} and n_lists

    # rebuild leg: tight threshold, fresh state
    meta2 = run_streaming_ann_ingest(
        spark, src, str(tmp_path / "state2"), str(tmp_path / "ckpt2"),
        kind="ivfpq", n_lists=2, pq_m=2, pq_k=4, rebuild_threshold=0.4,
    )
    assert meta2["rebuilds"] >= 1
    rows2 = spark.read.parquet(meta2["index_dir"] + "/codes")
    assert rows2.count() == 16
    assert rows2.select("id").distinct().count() == 16


def test_streaming_ann_ingest_rejects_unknown_kind(spark, tmp_path):
    from opensea_datapipeline_spark.streaming.ann_ingest import (
        run_streaming_ann_ingest,
    )

    src = str(tmp_path / "src")
    _write_batches(spark, src, [range(0, 4)])
    with pytest.raises(ValueError, match="kind"):
        run_streaming_ann_ingest(
            spark, src, str(tmp_path / "state"), str(tmp_path / "ckpt"),
            kind="hnsw",
        )


def test_streaming_ann_ingest_sweeps_orphaned_versions(spark, tmp_path):
    # ADVICE r13: a crash between the meta commit and the superseded
    # version's rmtree leaves index_v{K} orphaned; nothing on the old
    # path ever removed it. The per-batch sweep must clear any
    # index_v*/_tmp_index_v* whose version differs from the committed
    # meta's — and must NOT touch the live version.
    import os

    from opensea_datapipeline_spark.streaming.ann_ingest import (
        run_streaming_ann_ingest,
    )

    src = str(tmp_path / "src")
    _write_batches(spark, src, [range(0, 6), range(6, 10)])
    state = str(tmp_path / "state")
    meta = run_streaming_ann_ingest(
        spark, src, state, str(tmp_path / "ckpt"),
        n_lists=2, rebuild_threshold=5.0,
    )
    live = f"index_v{meta['version']}"
    # simulate the crash window's leftovers
    for orphan in ("index_v7", "_tmp_index_v3"):
        os.makedirs(os.path.join(state, orphan, "junk"), exist_ok=True)
    # one more batch arrives → the sweep runs
    _write_batches(spark, src, [range(10, 12)])
    meta2 = run_streaming_ann_ingest(
        spark, src, state, str(tmp_path / "ckpt"),
        n_lists=2, rebuild_threshold=5.0,
    )
    assert meta2["version"] == meta["version"]
    assert not os.path.isdir(os.path.join(state, "index_v7"))
    assert not os.path.isdir(os.path.join(state, "_tmp_index_v3"))
    assert os.path.isdir(os.path.join(state, live))
    assert spark.read.parquet(
        meta2["index_dir"] + "/assignments"
    ).count() == 12


# ---------------------------------------------------------------------------
# tokenizer artifact: versioned fingerprint (ADVICE r13, medium)
# ---------------------------------------------------------------------------

def _tiny_tokenizer(spark):
    merges = spark.createDataFrame(
        [(1, "a", "b", "ab", 3), (2, "ab", "c", "abc", 2)],
        "merge_rank long, left_sym string, right_sym string,"
        " merged string, n long",
    )
    alphabet = spark.createDataFrame(
        [("a",), ("b",), ("c",)], "sym string"
    )
    return merges, alphabet


def test_bpe_artifact_v1_legacy_fingerprint_still_verifies(spark, tmp_path):
    # An artifact persisted by pre-r13 code stores a content_hash
    # computed WITHOUT the `n` column and a meta with no fp_version
    # field. verify=True must accept it via the v1 recipe instead of
    # failing every previously-valid artifact.
    from opensea_datapipeline_spark.operators.text import (
        _bpe_artifact_fingerprint,
        bpe_read_tokenizer,
        bpe_write_tokenizer,
    )

    merges, alphabet = _tiny_tokenizer(spark)
    path = str(tmp_path / "tok")
    bpe_write_tokenizer(merges, alphabet, path, marker="▁")

    # rewrite the meta as the PRE-r13 format: v1 hash, no fp_version
    v1_hash, n_m, n_a = _bpe_artifact_fingerprint(
        merges, alphabet, fp_version=1
    )
    spark.createDataFrame(
        [("▁", n_m, n_a, v1_hash)],
        "marker string, n_merges long, alphabet_size long,"
        " content_hash string",
    ).coalesce(1).write.mode("overwrite").parquet(path + "/meta")

    m2, a2, marker = bpe_read_tokenizer(spark, path, verify=True)
    assert marker == "▁"
    assert m2.count() == 2 and a2.count() == 3


def test_bpe_artifact_v1_legacy_still_catches_tampering(spark, tmp_path):
    # The legacy acceptance is a format bridge, not a bypass: a v1 meta
    # whose hash doesn't match the tables must still raise.
    from opensea_datapipeline_spark.operators.text import (
        bpe_read_tokenizer,
        bpe_write_tokenizer,
    )

    merges, alphabet = _tiny_tokenizer(spark)
    path = str(tmp_path / "tok")
    bpe_write_tokenizer(merges, alphabet, path)
    spark.createDataFrame(
        [(None, 2, 3, "0" * 32)],
        "marker string, n_merges long, alphabet_size long,"
        " content_hash string",
    ).coalesce(1).write.mode("overwrite").parquet(path + "/meta")
    with pytest.raises(ValueError, match="integrity"):
        bpe_read_tokenizer(spark, path, verify=True)


def test_bpe_artifact_v2_roundtrip_writes_fp_version(spark, tmp_path):
    from opensea_datapipeline_spark.operators.text import (
        bpe_read_tokenizer,
        bpe_write_tokenizer,
    )

    merges, alphabet = _tiny_tokenizer(spark)
    path = str(tmp_path / "tok")
    bpe_write_tokenizer(merges, alphabet, path)
    meta = spark.read.parquet(path + "/meta").first().asDict()
    assert meta["fp_version"] == 2
    m2, a2, marker = bpe_read_tokenizer(spark, path, verify=True)
    assert marker is None and m2.count() == 2 and a2.count() == 3


# ---------------------------------------------------------------------------
# knn_topk_exact: zero-norm vectors never occupy top-k slots (ADVICE r13)
# ---------------------------------------------------------------------------

def test_knn_topk_exact_drops_undefined_similarities(spark):
    from opensea_datapipeline_spark.operators.similarity import (
        knn_topk_exact,
    )

    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.9, 0.1]),
            (2, [0.0, 1.0]),
            (3, [0.0, 0.0]),  # zero-norm: cosine undefined
        ],
        "vec_id long, embedding array<double>",
    )
    rows = knn_topk_exact(emb, k=3).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    # the zero-norm query has NO defined similarity → zero rows, not k
    # id-ordered NULL-sim rows
    assert 3 not in by_q
    # no query's top-k contains the zero-norm vector or a NULL sim
    for q, rs in by_q.items():
        assert all(r.sim is not None for r in rs)
        assert all(r.neighbor_id != 3 for r in rs)
        assert len(rs) == 2  # only 2 defined neighbors exist
        assert [r.rank for r in sorted(rs, key=lambda r: r.rank)] == [1, 2]


# ---------------------------------------------------------------------------
# bench.py: a noisy re-run must not clobber an existing round record
# ---------------------------------------------------------------------------

def test_bench_noisy_ratio_ceiling_splits_observed_runs():
    # the guard constant must separate r13's quiet record (env 1.083,
    # canary 1.092) from the noisy driver re-run that clobbered it
    # (env 1.281, canary 1.256) — the motivating incident
    import bench

    assert max(1.083, 1.092) < bench.NOISY_RATIO_CEIL < max(1.281, 1.256)


# ---------------------------------------------------------------------------
# streaming tokenizer ingest loop (VERDICT r13 #6)
# ---------------------------------------------------------------------------

def _write_doc_batches(spark, src, batches):
    for rows in batches:
        spark.createDataFrame(
            rows, "doc_id long, text string"
        ).coalesce(1).write.mode("append").parquet(src)


_ASCII_DOCS = [
    (0, "the cat sat on the mat"),
    (1, "the dog sat on the log"),
    (2, "a cat and a dog and a rat"),
    (3, "the rat sat on the cat"),
    (4, "dogs and cats and rats"),
    (5, "the mat the log the rat"),
]


def test_streaming_tokenizer_ingest_matches_oneshot_encode(spark, tmp_path):
    # No drift: batch 0 trains + publishes tokenizer_v0, later batches
    # encode-only append under the FROZEN artifact. Encoding is a pure
    # per-doc function of the artifact, so the streamed store must equal
    # a one-shot bpe_encode of the full corpus with that artifact — and
    # a replayed stream is a no-op.
    from opensea_datapipeline_spark.operators.text import (
        bpe_encode,
        bpe_read_tokenizer,
    )
    from opensea_datapipeline_spark.streaming.tokenizer_ingest import (
        run_streaming_tokenizer_ingest,
    )

    src = str(tmp_path / "src")
    _write_doc_batches(
        spark, src, [_ASCII_DOCS[:3], _ASCII_DOCS[3:5], _ASCII_DOCS[5:]]
    )
    state = str(tmp_path / "state")
    flags = []
    meta = run_streaming_tokenizer_ingest(
        spark, src, state, str(tmp_path / "ckpt"),
        n_merges=6, retrain_threshold=0.5,  # never retrain in this test
        on_batch=lambda b, w, r: flags.append(r),
    )
    assert meta["retrains"] == 0 and meta["version"] == 0
    assert flags == [False, False, False]

    got = {
        r.doc_id: r.ids_str
        for r in spark.read.parquet(meta["encoded_dir"]).collect()
    }
    assert sorted(got) == list(range(6))
    merges, alpha, marker = bpe_read_tokenizer(
        spark, meta["tokenizer_dir"]
    )
    corpus = spark.createDataFrame(_ASCII_DOCS, "doc_id long, text string")
    want = {
        r.doc_id: r.ids_str
        for r in bpe_encode(
            corpus, merges, alphabet=alpha, marker=marker
        ).collect()
    }
    assert got == want

    again = run_streaming_tokenizer_ingest(
        spark, src, state, str(tmp_path / "ckpt"),
        n_merges=6, retrain_threshold=0.5,
    )
    assert again["version"] == 0
    assert spark.read.parquet(again["encoded_dir"]).count() == 6


def test_streaming_tokenizer_ingest_oov_drift_fires_retrain(spark, tmp_path):
    # Batch 1 arrives in a script the v0 alphabet never saw — every one
    # of its symbols encodes as oov_id, the cumulative OOV rate crosses
    # the threshold, and the loop retrains: version advances, old dirs
    # are gone, and the re-encoded store (new alphabet covers the new
    # script) carries ZERO remaining OOV tokens.
    import os

    from opensea_datapipeline_spark.operators.text import (
        tokenizer_staleness,
    )
    from opensea_datapipeline_spark.streaming.tokenizer_ingest import (
        run_streaming_tokenizer_ingest,
    )

    drift = [(10, "καλημέρα κόσμε"), (11, "καλό κόσμε καλημέρα")]
    src = str(tmp_path / "src")
    _write_doc_batches(spark, src, [_ASCII_DOCS, drift])
    state = str(tmp_path / "state")
    flags = []
    meta = run_streaming_tokenizer_ingest(
        spark, src, state, str(tmp_path / "ckpt"),
        n_merges=6, retrain_threshold=0.01,
        on_batch=lambda b, w, r: flags.append(r),
    )
    assert meta["retrains"] == 1 and meta["version"] == 1
    assert flags == [False, True]
    assert not os.path.isdir(os.path.join(state, "tokenizer_v0"))
    assert not os.path.isdir(os.path.join(state, "encoded_v0"))

    enc = spark.read.parquet(meta["encoded_dir"])
    assert enc.count() == 8
    assert enc.select("doc_id").distinct().count() == 8
    stale = tokenizer_staleness(enc)
    assert stale["n_oov"] == 0  # the new alphabet covers the new script
    # counters reset at the retrain
    assert meta["n_syms"] == 0 and meta["n_oov"] == 0


def test_streaming_tokenizer_ingest_crash_replay_is_noop(spark, tmp_path):
    # Crash window: the encoded append lands BEFORE the meta batch-id
    # bump. A replayed batch must anti-join to a no-op, never duplicate
    # encoded rows.
    import json
    import os

    from opensea_datapipeline_spark.streaming.tokenizer_ingest import (
        run_streaming_tokenizer_ingest,
    )

    src = str(tmp_path / "src")
    _write_doc_batches(spark, src, [_ASCII_DOCS[:4], _ASCII_DOCS[4:]])
    state = str(tmp_path / "state")
    meta = run_streaming_tokenizer_ingest(
        spark, src, state, str(tmp_path / "ckpt"),
        n_merges=6, retrain_threshold=0.5,
    )
    assert spark.read.parquet(meta["encoded_dir"]).count() == 6

    mpath = os.path.join(state, "_gold_meta.json")
    m = json.load(open(mpath))
    m["last_batch_id"] = -1  # replay everything
    json.dump(m, open(mpath, "w"))
    again = run_streaming_tokenizer_ingest(
        spark, src, state, str(tmp_path / "ckpt2"),
        n_merges=6, retrain_threshold=0.5,
    )
    enc = spark.read.parquet(again["encoded_dir"])
    assert enc.count() == 6
    assert enc.select("doc_id").distinct().count() == 6
    assert again["version"] == meta["version"]


def test_streaming_tokenizer_ingest_sweeps_orphans(spark, tmp_path):
    import os

    from opensea_datapipeline_spark.streaming.tokenizer_ingest import (
        run_streaming_tokenizer_ingest,
    )

    src = str(tmp_path / "src")
    _write_doc_batches(spark, src, [_ASCII_DOCS[:4]])
    state = str(tmp_path / "state")
    meta = run_streaming_tokenizer_ingest(
        spark, src, state, str(tmp_path / "ckpt"),
        n_merges=6, retrain_threshold=0.5,
    )
    for orphan in ("tokenizer_v9", "encoded_v9", "_tmp_tokenizer_v3"):
        os.makedirs(os.path.join(state, orphan, "junk"), exist_ok=True)
    _write_doc_batches(spark, src, [_ASCII_DOCS[4:]])
    meta2 = run_streaming_tokenizer_ingest(
        spark, src, state, str(tmp_path / "ckpt"),
        n_merges=6, retrain_threshold=0.5,
    )
    assert meta2["version"] == meta["version"]
    for orphan in ("tokenizer_v9", "encoded_v9", "_tmp_tokenizer_v3"):
        assert not os.path.isdir(os.path.join(state, orphan)), orphan
    assert os.path.isdir(meta2["tokenizer_dir"])
    assert spark.read.parquet(meta2["encoded_dir"]).count() == 6


# ---------------------------------------------------------------------------
# r14 self-review fixes
# ---------------------------------------------------------------------------

def test_bpe_artifact_r13_generation_versionless_v2_hash_verifies(
    spark, tmp_path
):
    # Artifacts persisted between the r13 hash change (added `n`) and
    # the r14 version stamp carry a v2-recipe hash in a versionLESS
    # meta. The reader must accept a versionless meta when EITHER
    # recipe reproduces its hash.
    from opensea_datapipeline_spark.operators.text import (
        _bpe_artifact_fingerprint,
        bpe_read_tokenizer,
        bpe_write_tokenizer,
    )

    merges, alphabet = _tiny_tokenizer(spark)
    path = str(tmp_path / "tok")
    bpe_write_tokenizer(merges, alphabet, path, marker="▁")
    v2_hash, n_m, n_a = _bpe_artifact_fingerprint(
        merges, alphabet, fp_version=2
    )
    spark.createDataFrame(
        [("▁", n_m, n_a, v2_hash)],
        "marker string, n_merges long, alphabet_size long,"
        " content_hash string",
    ).coalesce(1).write.mode("overwrite").parquet(path + "/meta")
    m2, a2, marker = bpe_read_tokenizer(spark, path, verify=True)
    assert marker == "▁" and m2.count() == 2 and a2.count() == 3


def test_bench_noisy_guard_is_symmetric():
    # a ratio far BELOW 1 is the same box-noise signal (r5 ran at env
    # 0.584); the guard must catch both directions
    import bench

    ceil = bench.NOISY_RATIO_CEIL

    def noisy(env, canary):
        return any(not (1.0 / ceil <= r <= ceil) for r in (env, canary))

    assert noisy(1.281, 1.256)      # the r13 clobbering run
    assert noisy(0.584, 1.0)        # the r5-style fast-env session
    assert not noisy(1.083, 1.092)  # the r13 quiet record
    assert not noisy(0.943, 0.875)  # the r14 quiet record


def test_tokenizer_ingest_counters_survive_append_crash_window(
    spark, tmp_path
):
    # Crash between the counter commit and the final meta bump: the
    # replayed batch's anti-joined delta is EMPTY (its rows landed),
    # so without the last_counted_batch_id stamp the drift mass of
    # exactly the batch that should fire the retrain would vanish.
    # Simulate the window: counters committed for batch 1, append
    # landed, last_batch_id still 0 → the replay must fire the retrain
    # from the PERSISTED counters, not recount the empty delta.
    import json
    import os

    from opensea_datapipeline_spark.operators.text import (
        bpe_encode,
        bpe_read_tokenizer,
        tokenizer_staleness,
    )
    from opensea_datapipeline_spark.streaming.tokenizer_ingest import (
        run_streaming_tokenizer_ingest,
    )

    drift = [(10, "καλημέρα κόσμε"), (11, "καλό κόσμε καλημέρα")]
    src = str(tmp_path / "src")
    _write_doc_batches(spark, src, [_ASCII_DOCS])
    state = str(tmp_path / "state")
    meta = run_streaming_tokenizer_ingest(
        spark, src, state, str(tmp_path / "ckpt"),
        n_merges=6, retrain_threshold=0.01,
    )
    assert meta["retrains"] == 0

    # batch 1 arrives; simulate: counters committed + append landed,
    # then a crash BEFORE the last_batch_id bump
    _write_doc_batches(spark, src, [drift])
    merges, alpha, mk = bpe_read_tokenizer(
        spark, os.path.join(state, "tokenizer_v0")
    )
    drift_df = spark.createDataFrame(drift, "doc_id long, text string")
    enc = bpe_encode(drift_df, merges, alphabet=alpha, marker=mk)
    enc.write.mode("append").parquet(os.path.join(state, "encoded_v0"))
    stale = tokenizer_staleness(enc)
    assert stale["n_oov"] > 0
    mpath = os.path.join(state, "_gold_meta.json")
    m = json.load(open(mpath))
    m["n_syms"] += stale["n_syms"]
    m["n_oov"] += stale["n_oov"]
    m["last_counted_batch_id"] = 1
    # last_batch_id stays 0: the crash happened before the bump
    json.dump(m, open(mpath, "w"))

    again = run_streaming_tokenizer_ingest(
        spark, src, state, str(tmp_path / "ckpt2"),
        n_merges=6, retrain_threshold=0.01,
    )
    # the replay appends an empty delta, but the PERSISTED counters
    # carry the drift mass → the retrain fires
    assert again["retrains"] == 1 and again["version"] == 1
    enc2 = spark.read.parquet(again["encoded_dir"])
    assert enc2.count() == 8
    assert enc2.select("doc_id").distinct().count() == 8
    assert tokenizer_staleness(enc2)["n_oov"] == 0


def test_tokenizer_ingest_reads_artifact_once_per_version(
    spark, tmp_path, monkeypatch
):
    # the artifact is immutable between retrains — the loop must read
    # + verify it once per version per process, not per micro-batch
    from opensea_datapipeline_spark.streaming import tokenizer_ingest as ti

    calls = []
    real = ti.bpe_read_tokenizer

    def counting(spark_, path, **kw):
        calls.append(path)
        return real(spark_, path, **kw)

    monkeypatch.setattr(ti, "bpe_read_tokenizer", counting)
    src = str(tmp_path / "src")
    _write_doc_batches(
        spark, src, [_ASCII_DOCS[:2], _ASCII_DOCS[2:4], _ASCII_DOCS[4:]]
    )
    meta = ti.run_streaming_tokenizer_ingest(
        spark, src, str(tmp_path / "state"), str(tmp_path / "ckpt"),
        n_merges=6, retrain_threshold=0.5,
    )
    assert meta["version"] == 0
    assert len(calls) == 1  # 3 batches, one artifact read


def test_tokenizer_ingest_antijoin_scan_is_id_column_pruned(
    spark, tmp_path
):
    # the only store-proportional touch per batch is the doc-id
    # anti-join read — pin that the store scan is column-pruned to the
    # id column (not the full encoded rows), the invariant the
    # SCALING store-growth leg's flatness rests on
    from opensea_datapipeline_spark.operators.text import (
        bpe_encode,
        bpe_train,
    )

    docs = spark.createDataFrame(_ASCII_DOCS, "doc_id long, text string")
    merges = bpe_train(docs, n_merges=4)
    store = str(tmp_path / "encoded_v0")
    bpe_encode(docs, merges).write.parquet(store)
    new = spark.createDataFrame(
        [(100, "a new doc"), (101, "another doc")],
        "doc_id long, text string",
    )
    delta = bpe_encode(new, merges).join(
        spark.read.parquet(store).select("doc_id"), "doc_id", "left_anti"
    )
    plan = delta._jdf.queryExecution().executedPlan().toString()
    # the store is the ONLY parquet input in this plan (docs/merges are
    # in-memory), so every FileScan line is a store scan; paths truncate
    # in toString, so pin the ReadSchema instead of the path
    store_scans = [l for l in plan.splitlines() if "FileScan parquet" in l]
    assert store_scans, plan
    for scan in store_scans:
        assert "ReadSchema: struct<doc_id:bigint>" in scan, scan
        assert "ids_str" not in scan and "n_syms" not in scan, scan


# ---------------------------------------------------------------------------
# lifecycle helper properties
# ---------------------------------------------------------------------------

def test_sweep_orphan_versions_properties(tmp_path):
    # never deletes the kept version; deletes every other recognized
    # versioned dir (tmp or final, any prefix given); never touches
    # non-matching names
    import os

    from opensea_datapipeline_spark.streaming.lifecycle import (
        sweep_orphan_versions,
    )

    keep = 3
    victims = ["index_v0", "index_v12", "_tmp_index_v3", "_tmp_index_v99"]
    survivors = [
        "index_v3",            # the kept version
        "indexes_v0",          # prefix must match exactly
        "index_v",             # no digits
        "index_v3x",           # trailing garbage
        "my_index_v0",         # prefix anchored at start
        "meta.json",
    ]
    for name in victims + survivors[:-1]:
        os.makedirs(tmp_path / name, exist_ok=True)
    (tmp_path / "meta.json").write_text("{}")
    sweep_orphan_versions(str(tmp_path), ("index",), keep)
    for name in victims:
        assert not os.path.exists(tmp_path / name), name
    for name in survivors:
        assert os.path.exists(tmp_path / name), name
    # missing state_dir is a no-op, not an error
    sweep_orphan_versions(str(tmp_path / "nope"), ("index",), 0)


def test_publish_versioned_dir_replaces_crashed_leftovers(tmp_path):
    # a crashed earlier attempt leaves _tmp_<name> and possibly a
    # half-published <name>; publish must clear both and the final dir
    # must contain exactly what write() produced
    import os

    from opensea_datapipeline_spark.streaming.lifecycle import (
        publish_versioned_dir,
    )

    state = str(tmp_path)
    os.makedirs(tmp_path / "_tmp_store_v1" / "stale", exist_ok=True)
    os.makedirs(tmp_path / "store_v1" / "halfdone", exist_ok=True)

    def write(tmp):
        os.makedirs(tmp, exist_ok=True)
        with open(os.path.join(tmp, "data.txt"), "w") as f:
            f.write("fresh")

    out = publish_versioned_dir(state, "store_v1", write)
    assert out == os.path.join(state, "store_v1")
    assert sorted(os.listdir(out)) == ["data.txt"]
    assert open(os.path.join(out, "data.txt")).read() == "fresh"
    assert not os.path.exists(tmp_path / "_tmp_store_v1")


def test_streaming_ann_ingest_ivfpq_residual_kind(spark, tmp_path):
    # residual=True flows through the loop: appends encode residuals
    # against the frozen centroids+codebooks (append_index
    # reads residual from the index meta), every id stored once
    from opensea_datapipeline_spark.operators.ann_index import (
        read_index,
    )
    from opensea_datapipeline_spark.streaming.ann_ingest import (
        run_streaming_ann_ingest,
    )

    src = str(tmp_path / "src")
    _write_batches(spark, src, [range(0, 8), range(8, 12)])
    meta = run_streaming_ann_ingest(
        spark, src, str(tmp_path / "state"), str(tmp_path / "ckpt"),
        kind="ivfpq", n_lists=2, pq_m=2, pq_k=4, residual=True,
        rebuild_threshold=5.0,
    )
    assert meta["rebuilds"] == 0
    idx = read_index(spark, meta["index_dir"])
    assert idx.residual is True
    rows = idx.codes.collect()
    assert sorted(r.id for r in rows) == list(range(12))


def test_tokenizer_ingest_degenerate_bootstrap_self_heals(spark, tmp_path):
    # A bootstrap batch with no usable text (null/empty/whitespace)
    # trains an empty v0 artifact rather than crashing the stream; the
    # first REAL batch then encodes as all-OOV, which is exactly the
    # staleness signal — the retrain fires immediately and v1 covers
    # the real corpus. Degenerate docs produce no encoded rows (no
    # words → no token stream), matching bpe_encode's contract.
    from opensea_datapipeline_spark.operators.text import (
        tokenizer_staleness,
    )
    from opensea_datapipeline_spark.streaming.tokenizer_ingest import (
        run_streaming_tokenizer_ingest,
    )

    src = str(tmp_path / "src")
    _write_doc_batches(
        spark, src,
        [[(0, None), (1, ""), (2, "   ")],
         [(3, "the cat sat"), (4, "the dog sat")]],
    )
    meta = run_streaming_tokenizer_ingest(
        spark, src, str(tmp_path / "state"), str(tmp_path / "ckpt"),
        n_merges=4, retrain_threshold=0.5,
    )
    assert meta["retrains"] == 1 and meta["version"] == 1
    enc = spark.read.parquet(meta["encoded_dir"])
    assert enc.count() == 2
    assert tokenizer_staleness(enc)["n_oov"] == 0


def test_ann_build_on_degenerate_corpus_fails_loud(spark):
    # all-null / empty training corpora previously died inside MLlib
    # ("Nothing has been added to this summarizer") or numpy
    # (vstack-on-empty) — the fail-loud guard family extends here
    from opensea_datapipeline_spark.operators.ann_index import (
        build_ivf_index,
        build_ivfpq_index,
        build_pq_index,
    )

    degenerate = spark.createDataFrame(
        [(0, None), (1, None)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="no non-null vectors"):
        build_ivf_index(degenerate)
    with pytest.raises(ValueError, match="no non-null vectors"):
        build_pq_index(degenerate)
    with pytest.raises(ValueError, match="no non-null vectors"):
        build_ivfpq_index(degenerate, residual=True)


def test_streaming_ann_ingest_defers_bootstrap_past_degenerate_batch(
    spark, tmp_path
):
    # a degenerate first batch (all-null vectors) must not kill the
    # stream: the bootstrap defers to the first batch with usable
    # vectors, and the final index holds exactly those
    from opensea_datapipeline_spark.streaming.ann_ingest import (
        run_streaming_ann_ingest,
    )

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(0, None), (1, None)], "vec_id long, embedding array<double>"
    ).coalesce(1).write.mode("append").parquet(src)
    _write_batches(spark, src, [range(2, 8)])
    flags = []
    meta = run_streaming_ann_ingest(
        spark, src, str(tmp_path / "state"), str(tmp_path / "ckpt"),
        n_lists=2, rebuild_threshold=5.0,
        on_batch=lambda b, w, r: flags.append(b),
    )
    assert meta["version"] == 0 and meta["last_batch_id"] == 1
    assert flags == [0, 1]  # the degenerate batch still reports
    rows = spark.read.parquet(meta["index_dir"] + "/assignments")
    assert sorted(r.id for r in rows.collect()) == list(range(2, 8))


def test_persisted_appends_reject_wrong_dim_vectors(spark, tmp_path):
    # a malformed feed row (wrong vector length) silently produced
    # garbage codes/signatures under the frozen structures (pq/lsh) or
    # died in an opaque worker-side numpy error (ivf) — all four
    # persisted appends now raise a clear ValueError
    from opensea_datapipeline_spark.operators import ann_index as ai

    good = spark.createDataFrame(
        [(i, _ann_vec(i)) for i in range(16)],
        "vec_id long, embedding array<double>",
    )
    bad = spark.createDataFrame(
        [(100, [1.0, 2.0]), (101, [3.0] * 5)],
        "vec_id long, embedding array<double>",
    )
    builds = {
        "lsh": lambda: ai.build_lsh_index(
            good, n_planes=3, n_tables=2, dim=8),
        "ivf": lambda: ai.build_ivf_index(good, n_lists=2),
        "pq": lambda: ai.build_pq_index(good, m=2, k=4),
        "ivfpq": lambda: ai.build_ivfpq_index(good, n_lists=2, m=2, k=4),
    }
    for kind, build in builds.items():
        path = str(tmp_path / kind)
        ai.write_index(build(), path)
        with pytest.raises(ValueError, match="vector length"):
            ai.append_index(spark, path, bad)
        # good appends still work after the failed attempt
        more = spark.createDataFrame(
            [(200 + i, _ann_vec(50 + i)) for i in range(3)],
            "vec_id long, embedding array<double>",
        )
        ai.append_index(spark, path, more)


@pytest.mark.parametrize("kind", ["lsh", "ivf", "pq", "ivfpq"])
def test_overlapping_reappend_writes_no_data_files(spark, tmp_path, kind):
    # an idempotent re-append (every id already stored) adds no rows, so
    # it must not add (empty) parquet files either — each one would grow
    # the store per replayed batch; it still counts as an append
    import glob

    from opensea_datapipeline_spark.operators import ann_index as ai

    good = spark.createDataFrame(
        [(i, _ann_vec(i)) for i in range(16)],
        "vec_id long, embedding array<double>",
    )
    build = {
        "lsh": lambda: ai.build_lsh_index(good, n_planes=3, n_tables=2, dim=8),
        "ivf": lambda: ai.build_ivf_index(good, n_lists=2),
        "pq": lambda: ai.build_pq_index(good, m=2, k=4),
        "ivfpq": lambda: ai.build_ivfpq_index(good, n_lists=2, m=2, k=4),
    }[kind]
    path = str(tmp_path / kind)
    ai.write_index(build(), path)
    delta = spark.createDataFrame(
        [(100 + i, _ann_vec(40 + i)) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    ai.append_index(spark, path, delta)

    def files() -> dict:
        return {
            t.name: len(glob.glob(f"{path}/{t.name}/**/*.parquet",
                                  recursive=True))
            for t in ai._KINDS[kind].tables
        }

    before = files()
    ai.append_index(spark, path, delta)
    assert files() == before
    s = ai.index_staleness(spark, path)
    assert (s["n_appends"], s["n_appended"]) == (2, 6)


def test_build_pq_index_rejects_mixed_dim_sample(spark):
    from opensea_datapipeline_spark.operators.ann_index import (
        build_pq_index,
    )

    mixed = spark.createDataFrame(
        [(0, [1.0] * 8), (1, [2.0] * 6)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="mixes vector lengths"):
        build_pq_index(mixed, m=2, k=1)


def test_build_seam_rejects_wrong_dim_corpus(spark):
    # the append guard's build-seam twin: a wrong-length row anywhere
    # in the training corpus (not just the PQ sample) fails loud, and
    # build_lsh_index validates its CONFIGURED dim against the data —
    # an unvalidated dim default would bootstrap a wedged index whose
    # every append then fails while blaming the feed
    from opensea_datapipeline_spark.operators import ann_index as ai

    mixed = spark.createDataFrame(
        [(i, _ann_vec(i)) for i in range(16)] + [(99, [1.0, 2.0])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="vector length"):
        ai.build_ivf_index(mixed, n_lists=2)
    with pytest.raises(ValueError, match="vector length"):
        ai.build_pq_index(mixed, m=2, k=4)
    good_32dim_feed = spark.createDataFrame(
        [(i, [float(i + j) for j in range(32)]) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    # configured dim=64 on a 32-dim feed: caught at BUILD, not at the
    # first append of an already-published index
    with pytest.raises(ValueError, match="vector length"):
        ai.build_lsh_index(good_32dim_feed, n_planes=3, n_tables=2, dim=64)
    # the right dim builds fine
    idx = ai.build_lsh_index(good_32dim_feed, n_planes=3, n_tables=2, dim=32)
    assert idx.vectors.count() == 8

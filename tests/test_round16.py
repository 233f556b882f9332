"""Round-16 regression tests: ADVICE r15 fixes (pinned-batch guard in the
ingest loops, corrupt fp_version sidecar degradation, redundant LSH-pin
sidecar for corpus-dedup recovery)."""

from __future__ import annotations

import json
import os

import pytest

from tests.test_round15 import _tiny_tokenizer


# ---------------------------------------------------------------------------
# driver-parseable compact bench marker (VERDICT r15 #8)
# ---------------------------------------------------------------------------

def test_bench_compact_marker_fits_tail_window():
    # The driver keeps a 2000-char stdout tail and parses a JSON line
    # out of it; the marker must always fit with headroom, parse clean,
    # and keep the LARGEST per-query times when forced to drop.
    import bench

    rec = {
        "metric": "suite_seconds", "value": 50.385, "unit": "sec",
        "sf": 0.1,
        "queries": {f"query_with_a_long_name_{i:03d}": 0.1 + i * 0.01
                    for i in range(200)},
    }
    line = bench._compact_marker(rec)
    assert len(line) <= 1800 and "\n" not in line
    d = json.loads(line)
    assert d["metric"] == "suite_seconds" and d["sf"] == 0.1
    kept = d["queries"]
    assert kept and d["queries_omitted"] == 200 - len(kept)
    # largest kept: every kept value >= every dropped value
    dropped = set(rec["queries"]) - set(kept)
    assert min(kept.values()) >= max(
        round(rec["queries"][q], 2) for q in dropped
    )
    # small records come through whole
    small = {"metric": "suite_seconds", "value": 1.0, "unit": "sec",
             "sf": 0.01, "queries": {"q1": 0.5}}
    d2 = json.loads(bench._compact_marker(small))
    assert d2["queries"] == {"q1": 0.5} and "queries_omitted" not in d2


# ---------------------------------------------------------------------------
# corrupt meta_fp_version.json sidecar must degrade, not brick (ADVICE r15 #2)
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("bad", [[1, 2], "two", None, {"v": 1}])
def test_bpe_corrupt_fp_version_sidecar_degrades(spark, tmp_path, bad):
    # A corrupted sidecar whose fp_version is not int-coercible must
    # fall back to the two-recipe acceptance for a versionless meta —
    # not raise TypeError/ValueError and permanently brick reads of an
    # otherwise valid artifact.
    from opensea_datapipeline_spark.operators.text import (
        _bpe_artifact_fingerprint,
        bpe_read_tokenizer,
        bpe_write_tokenizer,
    )

    merges, alphabet = _tiny_tokenizer(spark)
    path = str(tmp_path / "tok")
    bpe_write_tokenizer(merges, alphabet, path, marker="▁")
    # make the meta versionless (legacy artifact, v1 recipe)
    legacy_hash, n_m, n_a = _bpe_artifact_fingerprint(
        merges, alphabet, fp_version=1
    )
    spark.createDataFrame(
        [("▁", n_m, n_a, legacy_hash)],
        "marker string, n_merges long, alphabet_size long,"
        " content_hash string",
    ).coalesce(1).write.mode("overwrite").parquet(path + "/meta")
    # corrupt the sidecar with a non-int-coercible fp_version
    with open(os.path.join(path, "meta_fp_version.json"), "w") as f:
        json.dump({"fp_version": bad}, f)
    m2, a2, marker = bpe_read_tokenizer(spark, path, verify=True)
    assert marker == "▁" and m2.count() == 2 and a2.count() == 3
    # the verified read re-stamped a GOOD sidecar over the corrupt one
    with open(os.path.join(path, "meta_fp_version.json")) as f:
        assert json.load(f)["fp_version"] == 1


def test_bpe_garbage_sidecar_file_degrades(spark, tmp_path):
    # Not-even-JSON sidecar: same degradation path (ValueError branch).
    from opensea_datapipeline_spark.operators.text import (
        _bpe_artifact_fingerprint,
        bpe_read_tokenizer,
        bpe_write_tokenizer,
    )

    merges, alphabet = _tiny_tokenizer(spark)
    path = str(tmp_path / "tok")
    bpe_write_tokenizer(merges, alphabet, path, marker="▁")
    legacy_hash, n_m, n_a = _bpe_artifact_fingerprint(
        merges, alphabet, fp_version=2
    )
    spark.createDataFrame(
        [("▁", n_m, n_a, legacy_hash)],
        "marker string, n_merges long, alphabet_size long,"
        " content_hash string",
    ).coalesce(1).write.mode("overwrite").parquet(path + "/meta")
    with open(os.path.join(path, "meta_fp_version.json"), "w") as f:
        f.write("{not json")
    m2, a2, marker = bpe_read_tokenizer(spark, path, verify=True)
    assert marker == "▁" and m2.count() == 2


# ---------------------------------------------------------------------------
# redundant LSH-pin sidecar (ADVICE r15 #3)
# ---------------------------------------------------------------------------

def _seed_corpus(spark, tmp_path):
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(0, "alpha beta gamma delta"), (1, "one two three four")],
        "doc_id long, text string",
    ).coalesce(1).write.mode("append").parquet(src)
    return src


def _drop_top_level_meta(state: str) -> None:
    for name in os.listdir(state):
        p = os.path.join(state, name)
        if name.endswith(".json") and os.path.isfile(p) \
                and name != "_lsh_params.json":
            os.remove(p)


def _corrupt_base_metas(state: str) -> None:
    for root, _dirs, files in os.walk(state):
        for name in files:
            if name == "_base_meta.json":
                with open(os.path.join(root, name), "w") as f:
                    f.write("{torn")


def test_corpus_dedup_drift_guard_survives_meta_and_base_meta_loss(
    spark, tmp_path
):
    # ADVICE r15 #3: loop meta lost AND base meta corrupted — the
    # redundant _lsh_params.json sidecar must still arm the
    # config-drift guard, so a drifted restart fails loud instead of
    # silently probing the old band table with a new band_key space.
    from opensea_datapipeline_spark.streaming.corpus_dedup import (
        run_streaming_corpus_dedup,
    )

    src = _seed_corpus(spark, tmp_path)
    state = str(tmp_path / "state")
    run_streaming_corpus_dedup(
        spark, src, state, str(tmp_path / "ckpt"),
        num_hashes=8, band_size=2, jaccard_threshold=0.5,
    )
    assert os.path.exists(os.path.join(state, "_lsh_params.json"))
    _drop_top_level_meta(state)
    _corrupt_base_metas(state)
    spark.createDataFrame(
        [(2, "five six seven eight")], "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(src)
    with pytest.raises(Exception, match="LSH params"):
        run_streaming_corpus_dedup(
            spark, src, state, str(tmp_path / "ckpt2"),
            num_hashes=16, band_size=4, jaccard_threshold=0.5,
        )
    # same params restart clean off the sidecar-recovered pin
    out = run_streaming_corpus_dedup(
        spark, src, state, str(tmp_path / "ckpt3"),
        num_hashes=8, band_size=2, jaccard_threshold=0.5,
    )
    assert out.count() == 3


def test_corpus_dedup_stale_sidecar_without_artifacts_not_enforced(
    spark, tmp_path
):
    # Code-review r16: the sidecar lands BEFORE the first band append,
    # so a crash in that window leaves a sidecar with nothing to guard.
    # A fresh restart with DIFFERENT params is legitimate (nothing was
    # built) — it must run clean and re-pin its own params, not be
    # refused over artifacts that don't exist.
    from opensea_datapipeline_spark.streaming.corpus_dedup import (
        run_streaming_corpus_dedup,
    )

    src = _seed_corpus(spark, tmp_path)
    state = str(tmp_path / "state")
    os.makedirs(state)
    with open(os.path.join(state, "_lsh_params.json"), "w") as f:
        json.dump({"num_hashes": 4, "band_size": 4,
                   "jaccard_threshold": 0.9}, f)
    out = run_streaming_corpus_dedup(
        spark, src, state, str(tmp_path / "ckpt"),
        num_hashes=8, band_size=2, jaccard_threshold=0.5,
    )
    assert out.count() == 2
    # the stale pin was replaced by the params that actually built it
    with open(os.path.join(state, "_lsh_params.json")) as f:
        assert json.load(f)["num_hashes"] == 8


def test_corpus_dedup_fails_loud_when_no_pin_recoverable(spark, tmp_path):
    # Bands exist but every copy of the pin (loop meta, base meta,
    # sidecar) is gone/corrupt: recovery must refuse to restart rather
    # than silently disarm the drift guard.
    from opensea_datapipeline_spark.streaming.corpus_dedup import (
        run_streaming_corpus_dedup,
    )

    src = _seed_corpus(spark, tmp_path)
    state = str(tmp_path / "state")
    run_streaming_corpus_dedup(
        spark, src, state, str(tmp_path / "ckpt"),
        num_hashes=8, band_size=2, jaccard_threshold=0.5,
    )
    _drop_top_level_meta(state)
    _corrupt_base_metas(state)
    os.remove(os.path.join(state, "_lsh_params.json"))
    spark.createDataFrame(
        [(2, "five six seven eight")], "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(src)
    with pytest.raises(Exception, match="could not be recovered"):
        run_streaming_corpus_dedup(
            spark, src, state, str(tmp_path / "ckpt2"),
            num_hashes=8, band_size=2, jaccard_threshold=0.5,
        )


# ---------------------------------------------------------------------------
# single-writer latch on streaming state dirs (r16 probe: dual-writer
# interleave left the corpus store with 500 rows / 400 distinct ids)
# ---------------------------------------------------------------------------

def test_writer_lock_excludes_live_concurrent_writer(spark, tmp_path):
    # Loop A holds its state dir (parked inside on_batch); loop B
    # started against the SAME state dir must be refused loudly instead
    # of interleaving appends with A.
    import threading

    from opensea_datapipeline_spark.streaming.corpus_dedup import (
        run_streaming_corpus_dedup,
    )

    src = _seed_corpus(spark, tmp_path)
    state = str(tmp_path / "state")
    started, release = threading.Event(), threading.Event()
    a_result = {}

    def hold(batch_id, wall_s):
        started.set()
        release.wait(timeout=120)

    def run_a():
        a_result["n"] = run_streaming_corpus_dedup(
            spark, src, state, str(tmp_path / "ckptA"), on_batch=hold
        ).count()

    t = threading.Thread(target=run_a)
    t.start()
    assert started.wait(timeout=120)
    try:
        with pytest.raises(RuntimeError, match="live writer"):
            run_streaming_corpus_dedup(
                spark, src, state, str(tmp_path / "ckptB")
            )
    finally:
        release.set()
        t.join(timeout=180)
    assert a_result["n"] == 2  # A completed; store uncorrupted
    # the latch is released after A's clean exit — a sequential
    # restart (the normal pattern) proceeds
    out = run_streaming_corpus_dedup(
        spark, src, state, str(tmp_path / "ckptC")
    )
    assert out.count() == 2
    assert not os.path.exists(os.path.join(state, "_writer_lock.json"))


def test_writer_lock_dead_pid_broken_immediately(tmp_path):
    # A crashed same-host holder (pid gone) must not brick restarts —
    # the latch is broken on sight, no staleness wait.
    import socket
    import subprocess
    import time

    from opensea_datapipeline_spark.streaming.lifecycle import writer_lock

    state = str(tmp_path / "state")
    os.makedirs(state)
    proc = subprocess.Popen(["true"])
    proc.wait()  # pid now dead (not reaped by us -> but wait() reaps)
    with open(os.path.join(state, "_writer_lock.json"), "w") as f:
        json.dump({"pid": proc.pid, "host": socket.gethostname(),
                   "loop": "crashed loop", "heartbeat": time.time()}, f)
    with writer_lock(state, "probe") as lk:
        with open(os.path.join(state, "_writer_lock.json")) as f:
            assert json.load(f)["pid"] == os.getpid()
        lk.refresh()
    assert not os.path.exists(os.path.join(state, "_writer_lock.json"))


def test_writer_lock_foreign_host_honors_staleness(tmp_path):
    # A holder on another host can't be pid-probed: a FRESH heartbeat
    # is refused, a stale one is broken.
    import time

    from opensea_datapipeline_spark.streaming.lifecycle import writer_lock

    state = str(tmp_path / "state")
    os.makedirs(state)
    lock_path = os.path.join(state, "_writer_lock.json")
    with open(lock_path, "w") as f:
        json.dump({"pid": 12345, "host": "some-other-host",
                   "loop": "remote loop", "heartbeat": time.time()}, f)
    with pytest.raises(RuntimeError, match="live writer"):
        writer_lock(state, "probe").__enter__()
    with open(lock_path, "w") as f:
        json.dump({"pid": 12345, "host": "some-other-host",
                   "loop": "remote loop",
                   "heartbeat": time.time() - 4000}, f)
    with writer_lock(state, "probe", stale_after_s=1800.0):
        with open(lock_path) as f:
            assert json.load(f)["pid"] == os.getpid()


def test_writer_lock_torn_lock_file_is_breakable(tmp_path):
    # A 0-byte / garbage lock file (crash between create and payload
    # write) is debris, not a holder.
    from opensea_datapipeline_spark.streaming.lifecycle import writer_lock

    state = str(tmp_path / "state")
    os.makedirs(state)
    open(os.path.join(state, "_writer_lock.json"), "w").close()
    with writer_lock(state, "probe"):
        pass
    assert not os.path.exists(os.path.join(state, "_writer_lock.json"))


# ---------------------------------------------------------------------------
# r16 optimization: driver-side reads of bounded index artifacts
# (meta JSON + centroids/codebooks) must be value-identical to the
# Spark reads they replace — the probe's fixed job floor drops from
# ~4 driver-synchronous jobs to 1 (the query-batch collect).
# ---------------------------------------------------------------------------

def test_ann_local_artifact_reads_match_spark(spark, tmp_path):
    import random

    from pyspark.sql import functions as F

    from opensea_datapipeline_spark.operators import ann_index as ai

    random.seed(11)
    rows = [(i, [random.gauss(0, 1) for _ in range(16)]) for i in range(300)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    idx = ai.build_ivfpq_index(
        emb, "vec_id", "embedding", n_lists=4, m=4, k=16, residual=True
    )
    path = str(tmp_path / "idx")
    ai.write_index(idx, path)

    # meta: local fast path == schema'd Spark read, field for field
    local = ai._read_meta_local(path)
    via_spark = (
        spark.read.schema(ai._META_SCHEMA).json(f"{path}/meta").first().asDict()
    )
    assert local == via_spark

    # unreadable/garbled metas degrade to None (Spark fallback), never raise
    assert ai._read_meta_local(str(tmp_path / "nope")) is None
    bad = tmp_path / "bad" / "meta"
    bad.mkdir(parents=True)
    (bad / "part-00000.json").write_text("{not json")
    assert ai._read_meta_local(str(tmp_path / "bad")) is None

    # bounded-rows fast path == collect on the tagged tables
    loaded = ai.read_index(spark, path)
    assert getattr(loaded.centroids, "_ann_local_src", None)
    br = sorted(ai._bounded_rows(loaded.centroids), key=lambda r: r.list_id)
    cl = sorted(loaded.centroids.collect(), key=lambda r: r.list_id)
    assert [(r.list_id, list(r.centroid)) for r in br] == [
        (r.list_id, list(r.centroid)) for r in cl
    ]
    # a derived frame loses the tag and falls back to a plain collect
    derived = loaded.centroids.select("list_id", "centroid")
    assert getattr(derived, "_ann_local_src", None) is None

    # end to end: persisted-read probe == in-memory probe, bit for bit
    q = emb.filter(F.col("vec_id") < 15)
    a = sorted(
        (r.query_id, r.neighbor_id, round(r.sim, 9), r.rank)
        for r in ai.ivfpq_probe(idx, q, k=5, n_probe=3).collect()
    )
    b = sorted(
        (r.query_id, r.neighbor_id, round(r.sim, 9), r.rank)
        for r in ai.ivfpq_probe(loaded, q, k=5, n_probe=3).collect()
    )
    assert a == b and a


def test_bpe_local_artifact_reads_match_spark(spark, tmp_path, monkeypatch):
    # r16 §8: local tokenizer artifacts' bounded rows are read
    # driver-side (pyarrow) and tagged onto the parquet-backed frames as
    # _bpe_local_rows/_bpe_local_syms — value-identical to the pure Spark
    # read path, encode output included.
    from opensea_datapipeline_spark.operators import text as tx

    docs = spark.createDataFrame(
        [(0, "abab abab cdcd"), (1, "abab cdcd cdcd"), (2, "ab cd ab")],
        "doc_id long, text string",
    )
    merges = tx.bpe_train(docs, n_merges=3, min_count=2)
    alpha = tx.bpe_alphabet(docs)
    path = str(tmp_path / "tok")
    tx.bpe_write_tokenizer(merges, alpha, path, marker="▁")

    # local fast path engages and carries the local-row tags
    lm, la, lmk = tx.bpe_read_tokenizer(spark, path)
    assert getattr(lm, "_bpe_local_rows", None)
    assert getattr(la, "_bpe_local_syms", None)
    assert lmk == "▁"

    # forced Spark read: field-for-field table equality
    monkeypatch.setattr(tx, "_bpe_read_tokenizer_local", lambda *a: None)
    sm, sa, smk = tx.bpe_read_tokenizer(spark, path)
    assert getattr(sm, "_bpe_local_rows", None) is None
    assert smk == lmk
    key = lambda r: r["merge_rank"]
    assert sorted((r.asDict() for r in lm.collect()), key=key) == sorted(
        (r.asDict() for r in sm.collect()), key=key
    )
    assert sorted(r.sym for r in la.collect()) == sorted(
        r.sym for r in sa.collect()
    )

    # end to end: encode via either read path is bit-identical
    enc_s = sorted(
        (r.doc_id, r.n_tokens, r.n_syms, r.ids_str)
        for r in tx.bpe_encode(docs, sm, alphabet=sa, marker=smk).collect()
    )
    monkeypatch.undo()
    enc_l = sorted(
        (r.doc_id, r.n_tokens, r.n_syms, r.ids_str)
        for r in tx.bpe_encode(docs, lm, alphabet=la, marker=lmk).collect()
    )
    assert enc_l == enc_s and enc_l

    # non-canonical layout degrades to the Spark read, never raises
    weird = tmp_path / "weird"
    for d in ("merges", "alphabet", "meta"):
        (weird / d).mkdir(parents=True)
    extra = spark.createDataFrame(
        [(1, "a", "b", "ab", 3, "x")],
        "merge_rank long, left_sym string, right_sym string,"
        " merged string, n long, extra string",
    )
    extra.coalesce(1).write.mode("overwrite").parquet(
        str(weird / "merges")
    )
    assert tx._bpe_read_tokenizer_local(str(weird)) is None


def test_band_table_explicit_schema_read_matches_inferred(spark, tmp_path):
    from pyspark.sql import functions as F

    from opensea_datapipeline_spark.operators import dedup as dd

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta tok{i} tok{i % 3}") for i in range(40)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "bands")
    dd.minhash_band_table(
        docs.filter(F.col("doc_id") < 20), "text", "doc_id",
        num_hashes=8, band_size=2,
    ).write.parquet(path)
    dd.append_band_table(
        dd.minhash_band_table(
            docs.filter(F.col("doc_id") >= 20), "text", "doc_id",
            num_hashes=8, band_size=2,
        ),
        path,
    )

    # local fast path == inferred Spark read: same schema, same rows
    fast = dd.read_band_table(spark, path)
    inferred = spark.read.parquet(path)
    assert fast.schema == inferred.schema
    assert sorted(map(tuple, fast.collect())) == sorted(
        map(tuple, inferred.collect())
    )

    # the schema'd read construction launches NO job (the saved
    # schema-inference job is the point of the fast path)
    sc = spark.sparkContext
    sc.setJobGroup("band-schema-read", "band-schema-read")
    dd.read_band_table(spark, path)  # plan construction only
    assert sc.statusTracker().getJobIdsForGroup("band-schema-read") == []
    sc.setJobGroup(None, None)

    # a STRING id corpus keeps its type through the footer round-trip
    # (the schema follows the artifact, not a hard-coded guess)
    spath = str(tmp_path / "bands_str")
    dd.minhash_band_table(
        docs.select(F.col("doc_id").cast("string").alias("doc_id"), "text"),
        "text", "doc_id", num_hashes=8, band_size=2,
    ).write.parquet(spath)
    assert dict(dd.read_band_table(spark, spath).dtypes)["id"] == "string"

    # non-directory path falls through to the plain Spark read (raises
    # the normal AnalysisException, not a pyarrow error)
    import pytest as _pytest

    with _pytest.raises(Exception):
        dd.read_band_table(spark, str(tmp_path / "missing")).collect()

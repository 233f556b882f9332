"""Round-15 regression tests: ADVICE r14 fixes (bench noisy-guard None/0.0
handling, bench band absolute floor, tokenizer meta re-stamp) and the
streaming orphan-sweep cadence work."""

from __future__ import annotations

import pytest


# ---------------------------------------------------------------------------
# bench.py guards (ADVICE r14 #3, VERDICT r14 #6)
# ---------------------------------------------------------------------------

def test_bench_noisy_guard_none_and_zero():
    # `None` means "cannot judge" (no prior round) -> quiet; 0.0 is an
    # extreme noise signal and must NOT be coerced to quiet the way the
    # old `or 1.0` form did (ADVICE r14 #3).
    import bench

    assert not bench._is_noisy_box(None, None)
    assert bench._is_noisy_box(0.0, None)
    assert bench._is_noisy_box(None, 0.0)
    assert bench._is_noisy_box(1.281, 1.256)   # the r13 clobbering run
    assert bench._is_noisy_box(0.584, 1.0)     # r5-style fast-env session
    assert not bench._is_noisy_box(1.083, 1.092)  # the r13 quiet record
    assert not bench._is_noisy_box(1.0, None)


def test_bench_band_absolute_floor():
    # Sub-1.2 s queries get a 0.15 s absolute floor so one JIT hiccup
    # doesn't trip the exceeds-band protocol; larger queries keep the
    # tighter 0.05 floor (VERDICT r14 #6).
    import bench

    assert bench._band_floor(0.4) == 0.15
    assert bench._band_floor(1.2) == 0.15
    assert bench._band_floor(1.21) == 0.05
    assert bench._band_floor(3.2) == 0.05


def test_bench_other_core_counts_stay_out_of_the_round_chain():
    # A run at another effective core count lands in a _cN file, noisy or
    # not; only RECORD_CPUS runs write (or, when noisy, sit beside) the
    # chain record that _local_queries reads back.
    import bench

    n = bench.RECORD_CPUS
    assert bench._local_record_name(18, n, False, True) == "BENCH_LOCAL_r18.json"
    assert bench._local_record_name(18, n, True, False) == "BENCH_LOCAL_r18.json"
    assert bench._local_record_name(18, n, True, True) == "BENCH_LOCAL_r18_noisy.json"
    assert bench._local_record_name(18, 8, False, False) == "BENCH_LOCAL_r18_c8.json"
    assert bench._local_record_name(18, 8, True, True) == "BENCH_LOCAL_r18_c8.json"


# ---------------------------------------------------------------------------
# tokenizer meta re-stamp on first verified read (ADVICE r14 #4)
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


@pytest.mark.parametrize("legacy_fp_version", [1, 2])
def test_bpe_versionless_meta_restamped_on_verified_read(
    spark, tmp_path, legacy_fp_version
):
    # A versionless meta is accepted if EITHER recipe reproduces its
    # hash — but after the first successful verify the reader must
    # stamp the recipe that matched (an atomic SIDECAR json, never an
    # in-place parquet rewrite on a read path), so the artifact locks
    # to one recipe and a later fp_version-stripping tamper no longer
    # buys the weaker two-recipe acceptance (ADVICE r14 #4).
    import json

    from opensea_datapipeline_spark.operators.text import (
        _bpe_artifact_fingerprint,
        bpe_read_tokenizer,
        bpe_write_tokenizer,
    )

    merges, alphabet = _tiny_tokenizer(spark)
    path = str(tmp_path / "tok")
    bpe_write_tokenizer(merges, alphabet, path, marker="▁")
    legacy_hash, n_m, n_a = _bpe_artifact_fingerprint(
        merges, alphabet, fp_version=legacy_fp_version
    )
    spark.createDataFrame(
        [("▁", n_m, n_a, legacy_hash)],
        "marker string, n_merges long, alphabet_size long,"
        " content_hash string",
    ).coalesce(1).write.mode("overwrite").parquet(path + "/meta")

    m2, a2, marker = bpe_read_tokenizer(spark, path, verify=True)
    assert marker == "▁" and m2.count() == 2 and a2.count() == 3

    with open(tmp_path / "tok" / "meta_fp_version.json") as f:
        assert json.load(f)["fp_version"] == legacy_fp_version
    # the parquet meta itself is untouched (no delete-then-write risk)
    meta = spark.read.parquet(path + "/meta").first().asDict()
    assert meta["content_hash"] == legacy_hash and "fp_version" not in meta

    # second read now takes the stamped single-recipe path: tamper the
    # tables so the OTHER recipe would be needed — must now fail
    m3, a3, marker3 = bpe_read_tokenizer(spark, path, verify=True)
    assert marker3 == "▁" and m3.count() == 2
    other = 1 if legacy_fp_version == 2 else 2
    other_hash, _, _ = _bpe_artifact_fingerprint(
        merges, alphabet, fp_version=other
    )
    spark.createDataFrame(
        [("▁", n_m, n_a, other_hash)],
        "marker string, n_merges long, alphabet_size long,"
        " content_hash string",
    ).coalesce(1).write.mode("overwrite").parquet(path + "/meta")
    with pytest.raises(ValueError, match="integrity"):
        bpe_read_tokenizer(spark, path, verify=True)


def test_bpe_stamped_meta_not_rewritten(spark, tmp_path):
    # A meta that already declares its recipe is left untouched — the
    # re-stamp is a one-time upgrade for legacy artifacts only.
    from opensea_datapipeline_spark.operators.text import (
        bpe_read_tokenizer,
        bpe_write_tokenizer,
    )

    merges, alphabet = _tiny_tokenizer(spark)
    path = str(tmp_path / "tok")
    bpe_write_tokenizer(merges, alphabet, path, marker="▁")
    files_before = sorted(
        f.name for f in (tmp_path / "tok" / "meta").iterdir()
        if f.name.endswith(".parquet")
    )
    bpe_read_tokenizer(spark, path, verify=True)
    files_after = sorted(
        f.name for f in (tmp_path / "tok" / "meta").iterdir()
        if f.name.endswith(".parquet")
    )
    assert files_before == files_after
    # and no sidecar either — the stamp is for legacy artifacts only
    assert not (tmp_path / "tok" / "meta_fp_version.json").exists()


# ---------------------------------------------------------------------------
# delta-form incremental groups + compacting corpus-dedup loop (VERDICT r14 #7)
# ---------------------------------------------------------------------------

def test_incremental_dedup_groups_delta_changed_rows_only(spark):
    # Multi-row old side with a STALE label and a replay duplicate: the
    # delta must contain exactly the new ids + old rows whose current
    # root moves — and must never emit a row keyed by a stale label
    # (stale labels are retired as roots under the min-label contract).
    from opensea_datapipeline_spark.operators.dedup import (
        incremental_dedup_groups_delta,
    )

    og_multi = spark.createDataFrame(
        [
            (0, 0),   # current root 0
            (1, 1),   # STALE: doc 1 later merged into 0...
            (1, 0),   # ...current row
            (2, 2),   # current root 2
            (2, 2),   # replay duplicate
        ],
        "id long, group_id long",
    )
    # new doc 10 bridges doc 1's component (root 0) and doc 2's (root 2)
    pairs = spark.createDataFrame(
        [(1, 10), (2, 10)], "id_a long, id_b long"
    )
    new_ids = spark.createDataFrame([(10,)], "id long")
    delta = {
        (r.id, r.group_id)
        for r in incremental_dedup_groups_delta(
            og_multi, pairs, new_ids
        ).collect()
    }
    # component roots 0 and 2 merge to min=0: changed = doc 2 (root
    # moved 2->0) and new doc 10; docs 0 and 1 already carry label 0
    assert delta == {(2, 0), (10, 0)}


def test_incremental_dedup_groups_delta_no_pairs_singletons(spark):
    from opensea_datapipeline_spark.operators.dedup import (
        incremental_dedup_groups_delta,
    )

    og = spark.createDataFrame([(0, 0)], "id long, group_id long")
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    new_ids = spark.createDataFrame([(7,), (8,)], "id long")
    delta = {
        (r.id, r.group_id)
        for r in incremental_dedup_groups_delta(og, pairs, new_ids).collect()
    }
    assert delta == {(7, 7), (8, 8)}


def test_corpus_dedup_loop_compacts_and_matches_closure(spark, tmp_path):
    # Drive the loop through enough batches that the delta store
    # crosses the compaction threshold at least twice; the final
    # assignment must still equal the one-shot closure, exactly one
    # committed base version must remain (orphans swept), and the
    # delta dir must have been retired at the last compaction.
    import os

    from pyspark.sql import functions as F

    from opensea_datapipeline_spark.operators.dedup import (
        connected_components,
        minhash_lsh_pairs,
    )
    from opensea_datapipeline_spark.streaming.corpus_dedup import (
        run_streaming_corpus_dedup,
    )

    texts = {
        0: "alpha beta gamma delta epsilon",
        1: "alpha beta gamma delta zeta",      # ~ doc 0
        2: "one two three four five six",
        3: "one two three four five seven",    # ~ doc 2
        4: "completely different words here entirely",
        5: "alpha beta gamma delta epsilon",   # = doc 0
        6: "alpha beta gamma delta one two three four five",  # bridge
        7: "unrelated content again completely fresh",
    }
    batches = [[0, 1], [2, 3], [4, 5], [6, 7]]
    src = str(tmp_path / "src")
    for ids in batches:
        spark.createDataFrame(
            [(d, texts[d]) for d in ids], "doc_id long, text string"
        ).coalesce(1).write.mode("append").parquet(src)

    state = str(tmp_path / "state")
    got_df = run_streaming_corpus_dedup(
        spark, src, state, str(tmp_path / "ckpt"),
        jaccard_threshold=0.5, compact_ratio=0.5,
    )
    got = {r.id: r.group_id for r in got_df.collect()}

    docs = spark.createDataFrame(
        sorted(texts.items()), "doc_id long, text string"
    )
    pairs = minhash_lsh_pairs(docs, "text", "doc_id", jaccard_threshold=0.5)
    want = {
        r.id: r.group_id
        for r in connected_components(
            docs.select(F.col("doc_id").alias("id")), pairs, id_col="id"
        ).collect()
    }
    assert got == want and len(got) == 8
    assert len(set(got.values())) < 8  # clustering actually happened

    base_dirs = [d for d in os.listdir(state) if d.startswith("groups_base_v")]
    assert len(base_dirs) == 1  # superseded versions swept
    # 2-doc batches against a growing base with ratio 0.5: the delta
    # store cannot have survived to the end un-compacted unless every
    # batch compacted (either way multiple versions were published)
    assert int(base_dirs[0].rsplit("_v", 1)[1]) >= 1


def test_corpus_dedup_loop_restart_after_meta_loss(spark, tmp_path):
    # Recovery from the committed artifacts alone: delete meta.json
    # after the run; a restart must rebuild the cursor from the base's
    # _base_meta.json + the delta store's batch_id column and replay
    # nothing (assignment unchanged).
    import os

    from opensea_datapipeline_spark.streaming.corpus_dedup import (
        run_streaming_corpus_dedup,
    )

    texts = {
        0: "alpha beta gamma delta epsilon",
        1: "alpha beta gamma delta zeta",
        2: "one two three four five six",
    }
    src = str(tmp_path / "src")
    for ids in [[0, 1], [2]]:
        spark.createDataFrame(
            [(d, texts[d]) for d in ids], "doc_id long, text string"
        ).coalesce(1).write.mode("append").parquet(src)
    state = str(tmp_path / "state")
    first = {
        r.id: r.group_id
        for r in run_streaming_corpus_dedup(
            spark, src, state, str(tmp_path / "ckpt"),
            jaccard_threshold=0.5,
        ).collect()
    }
    # remove every JSON meta file the loop keeps at the state root
    for name in os.listdir(state):
        if name.endswith(".json") and os.path.isfile(
            os.path.join(state, name)
        ):
            os.remove(os.path.join(state, name))
    again = {
        r.id: r.group_id
        for r in run_streaming_corpus_dedup(
            spark, src, state, str(tmp_path / "ckpt2"),
            jaccard_threshold=0.5,
        ).collect()
    }
    assert again == first


def test_delta_fold_chain_equals_full_recompute(spark):
    # Slicing-independence of the DELTA path (the r12 property covers
    # the full fold): fold a node universe in as three successive
    # batches through incremental_dedup_groups_delta, accumulating the
    # raw deltas in an append-only multiset WITHOUT resolving between
    # batches (exactly what the streaming loop's base+delta store
    # does, including the stale rows earlier batches leave behind).
    # min(group_id) per id over the accumulated rows must equal the
    # one-shot closure over all edges.
    from pyspark.sql import functions as F

    from opensea_datapipeline_spark.operators.dedup import (
        connected_components,
        incremental_dedup_groups_delta,
    )

    # chain merges across batches: batch2's doc 20 bridges the two
    # components batch0/batch1 built, forcing a relabel of rows whose
    # delta entries are already persisted (the stale-label case)
    batches = [
        ([0, 1, 2], [(0, 1), (1, 2)]),      # component rooted 0
        ([10, 11], [(10, 11)]),             # component rooted 10
        ([20], [(2, 20), (11, 20)]),        # bridges both -> root 0
    ]

    def df_pairs(pairs):
        return spark.createDataFrame(
            pairs or [(None, None)], "id_a long, id_b long"
        ).filter("id_a IS NOT NULL")

    store_rows = []  # the append-only base-less delta store
    all_ids, all_pairs = [], []
    for ids, pairs in batches:
        og_multi = spark.createDataFrame(
            store_rows or [(None, None)], "id long, group_id long"
        ).filter("id IS NOT NULL")
        delta = incremental_dedup_groups_delta(
            og_multi, df_pairs(pairs),
            spark.createDataFrame([(i,) for i in ids], "id long"),
        )
        store_rows.extend([(r.id, r.group_id) for r in delta.collect()])
        all_ids.extend(ids)
        all_pairs.extend(pairs)

    got = {}
    for i, g in store_rows:  # min-fold = the store's read semantics
        got[i] = min(g, got.get(i, g))
    want = {
        r.id: r.group_id
        for r in connected_components(
            spark.createDataFrame([(i,) for i in all_ids], "id long"),
            df_pairs(all_pairs), id_col="id",
        ).collect()
    }
    assert got == want
    # non-vacuous: everything merged under root 0, and the bridge
    # relabeled doc ids whose store rows predate batch 2
    assert set(got.values()) == {0}
    assert (10, 10) in store_rows and (10, 0) in store_rows  # stale + fix


def test_corpus_dedup_crash_window_published_base_without_meta(
    spark, tmp_path
):
    # Crash between the compaction's base publish and the meta write:
    # meta still references vN, an orphan vN+1 sits on disk, the delta
    # store is uncleared. A restart must treat vN+1 as debris (sweep
    # it), keep folding base vN + deltas, and still land on the
    # closure.
    import os
    import shutil

    from opensea_datapipeline_spark.streaming.corpus_dedup import (
        run_streaming_corpus_dedup,
    )

    texts = {
        0: "alpha beta gamma delta epsilon",
        1: "alpha beta gamma delta zeta",
        2: "one two three four five six",
        3: "alpha beta gamma delta epsilon",
    }
    src = str(tmp_path / "src")
    for ids in [[0, 1], [2]]:
        spark.createDataFrame(
            [(d, texts[d]) for d in ids], "doc_id long, text string"
        ).coalesce(1).write.mode("append").parquet(src)
    state = str(tmp_path / "state")
    run_streaming_corpus_dedup(
        spark, src, state, str(tmp_path / "ckpt"),
        jaccard_threshold=0.5,
    )
    # fabricate the crash window: copy the live base to an unreferenced
    # higher version (published-but-unreferenced), corrupt its meta so
    # a naive reader would diverge if it were ever picked up
    bases = sorted(
        d for d in os.listdir(state) if d.startswith("groups_base_v")
    )
    live = bases[-1]
    live_version = int(live.rsplit("_v", 1)[1])
    orphan = os.path.join(state, f"groups_base_v{live_version + 1}")
    shutil.copytree(os.path.join(state, live), orphan)

    # stream one more file through a fresh checkpoint
    spark.createDataFrame(
        [(3, texts[3])], "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(src)
    got = {
        r.id: r.group_id
        for r in run_streaming_corpus_dedup(
            spark, src, state, str(tmp_path / "ckpt2"),
            jaccard_threshold=0.5,
        ).collect()
    }
    assert got[3] == 0 and got[0] == 0 and got[1] == 0 and got[2] == 2
    # the orphan version was swept; exactly one base remains
    remaining = [
        d for d in os.listdir(state) if d.startswith("groups_base_v")
    ]
    assert len(remaining) == 1


def test_corpus_dedup_crash_window_uncleared_delta_after_compaction(
    spark, tmp_path
):
    # Crash between the compaction's meta write and the delta rmtree:
    # stale delta batch dirs hold rows already folded into the new
    # base. They must refold as no-ops under the min fold — assignment
    # unchanged, and the next batch proceeds normally.
    import os
    import shutil

    from opensea_datapipeline_spark.streaming.corpus_dedup import (
        _delta_batch_dirs,
        run_streaming_corpus_dedup,
    )

    texts = {
        0: "alpha beta gamma delta epsilon",
        1: "alpha beta gamma delta zeta",
        2: "one two three four five six",
        3: "one two three four five seven",
    }
    src = str(tmp_path / "src")
    for ids in [[0, 1], [2]]:
        spark.createDataFrame(
            [(d, texts[d]) for d in ids], "doc_id long, text string"
        ).coalesce(1).write.mode("append").parquet(src)
    state = str(tmp_path / "state")
    first = {
        r.id: r.group_id
        for r in run_streaming_corpus_dedup(
            spark, src, state, str(tmp_path / "ckpt"),
            jaccard_threshold=0.5,
        ).collect()
    }
    # fabricate the window: re-plant a stale delta dir carrying rows
    # the last compaction already folded (batch id BELOW the cursor so
    # replay-skip ignores it as a batch, but reads still union it)
    stale = os.path.join(state, "groups_delta", "batch_000000000000")
    os.makedirs(os.path.dirname(stale), exist_ok=True)
    spark.createDataFrame(
        [(0, 0), (1, 0)], "id long, group_id long"
    ).coalesce(1).write.mode("overwrite").parquet(stale)
    assert _delta_batch_dirs(state)

    spark.createDataFrame(
        [(3, texts[3])], "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(src)
    got = {
        r.id: r.group_id
        for r in run_streaming_corpus_dedup(
            spark, src, state, str(tmp_path / "ckpt2"),
            jaccard_threshold=0.5,
        ).collect()
    }
    assert {k: v for k, v in got.items() if k in first} == first
    assert got[3] == 2  # the new near-dup of doc 2 clustered


def test_corpus_dedup_rejects_null_doc_ids(spark, tmp_path):
    # r15 probe finding: null-id docs silently vanished — they never
    # equi-join, so the assignment's fold collapsed ALL null-id docs
    # into one (null, null) row (two docs in -> one row out, the
    # exact-dup among them never clustered). The loop must fail loud at
    # the ingest seam instead.
    from opensea_datapipeline_spark.streaming.corpus_dedup import (
        run_streaming_corpus_dedup,
    )

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(0, "alpha beta gamma delta"),
         (None, "alpha beta gamma delta")],
        "doc_id long, text string",
    ).coalesce(1).write.mode("append").parquet(src)
    try:
        run_streaming_corpus_dedup(
            spark, src, str(tmp_path / "state"), str(tmp_path / "ckpt"),
            jaccard_threshold=0.5,
        )
        raise AssertionError("null-id batch must fail loud")
    except Exception as exc:  # StreamingQueryException wraps the ValueError
        assert "NULL" in str(exc) and "doc_id" in str(exc)


@pytest.mark.parametrize("loop", ["tokenizer", "ann"])
def test_ingest_loops_reject_null_ids(spark, tmp_path, loop):
    # Same r15 probe finding in the other two loops: their doc/vec-id
    # anti-joins treat a null id as always-fresh (duplicate appends on
    # every replay) and encode output collapses null-keyed rows. All
    # three loops share lifecycle.require_non_null_ids.
    import math

    src = str(tmp_path / "src")
    if loop == "tokenizer":
        from opensea_datapipeline_spark.streaming.tokenizer_ingest import (
            run_streaming_tokenizer_ingest as run,
        )

        spark.createDataFrame(
            [(0, "alpha beta"), (None, "alpha beta")],
            "doc_id long, text string",
        ).coalesce(1).write.mode("append").parquet(src)
        kwargs = dict(n_merges=8, retrain_threshold=0.5)
    else:
        from opensea_datapipeline_spark.streaming.ann_ingest import (
            run_streaming_ann_ingest as run,
        )

        vecs = [(i, [math.sin(i + j) for j in range(8)])
                for i in range(20)] + [(None, [0.5] * 8)]
        spark.createDataFrame(
            vecs, "vec_id long, embedding array<double>"
        ).coalesce(1).write.mode("append").parquet(src)
        kwargs = dict(kind="ivf", n_lists=2, rebuild_threshold=5.0)
    try:
        run(spark, src, str(tmp_path / "state"), str(tmp_path / "ckpt"),
            **kwargs)
        raise AssertionError("null-id batch must fail loud")
    except Exception as exc:
        assert "NULL" in str(exc)


def test_corpus_dedup_rejects_in_batch_duplicate_ids(spark, tmp_path):
    # r15 probe: an in-batch duplicate id slips past the store
    # anti-join (which only checks ALREADY-persisted ids) and left two
    # different texts under one doc id in the corpus forever, with the
    # duplicate text never clustered. Fail loud instead.
    from opensea_datapipeline_spark.streaming.corpus_dedup import (
        run_streaming_corpus_dedup,
    )

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(0, "alpha beta gamma delta"),
         (5, "alpha beta gamma delta"),
         (5, "one two three four")],
        "doc_id long, text string",
    ).coalesce(1).write.mode("append").parquet(src)
    try:
        run_streaming_corpus_dedup(
            spark, src, str(tmp_path / "state"), str(tmp_path / "ckpt"),
            jaccard_threshold=0.5,
        )
        raise AssertionError("duplicate-id batch must fail loud")
    except Exception as exc:
        assert "duplicate" in str(exc) and "doc_id" in str(exc)


def test_ann_appends_reject_null_ids(spark, tmp_path):
    # r15 probe: a null-keyed vector slips the idempotent-re-append
    # anti-join on EVERY call (null never equi-joins), so the store and
    # append counters grow per replay and staleness fires premature
    # rebuilds. `append_index` runs the counted guard for every kind;
    # ivf exercised here as the representative.
    import math

    from opensea_datapipeline_spark.operators import ann_index as ai

    vecs = spark.createDataFrame(
        [(i, [math.sin(i + j) for j in range(8)]) for i in range(24)],
        "vec_id long, embedding array<double>",
    )
    path = str(tmp_path / "ivf")
    ai.write_index(
        ai.build_ivf_index(vecs, "vec_id", "embedding", n_lists=2), path
    )
    bad = spark.createDataFrame(
        [(None, [0.5] * 8)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="NULL id"):
        ai.append_index(spark, path, bad)
    # valid appends still work afterwards, and the failed attempt
    # neither stored rows nor bumped the counters
    ai.append_index(
        spark, path,
        spark.createDataFrame(
            [(100, [0.25] * 8)], "vec_id long, embedding array<double>"
        ),
    )
    s = ai.index_staleness(spark, path)
    assert s["n_appends"] == 1 and s["n_appended"] == 1


def test_corpus_dedup_rejects_lsh_param_drift(spark, tmp_path):
    # r15: the persisted band table is only probeable under the exact
    # LSH params that built it — a restart with different
    # num_hashes/band_size silently changes the band_key space
    # (new-batch bands stop matching old bands → invisible recall
    # loss). The loop pins the params in its meta and fails loud on a
    # mismatched restart; same params restart fine.
    from opensea_datapipeline_spark.streaming.corpus_dedup import (
        run_streaming_corpus_dedup,
    )

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(0, "alpha beta gamma delta"), (1, "one two three four")],
        "doc_id long, text string",
    ).coalesce(1).write.mode("append").parquet(src)
    state = str(tmp_path / "state")
    run_streaming_corpus_dedup(
        spark, src, state, str(tmp_path / "ckpt"),
        num_hashes=8, band_size=2, jaccard_threshold=0.5,
    )
    spark.createDataFrame(
        [(2, "five six seven eight")], "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(src)
    try:
        run_streaming_corpus_dedup(
            spark, src, state, str(tmp_path / "ckpt2"),
            num_hashes=16, band_size=4, jaccard_threshold=0.5,
        )
        raise AssertionError("param-drift restart must fail loud")
    except Exception as exc:
        assert "LSH params" in str(exc)
    # the original params still work
    out = run_streaming_corpus_dedup(
        spark, src, state, str(tmp_path / "ckpt3"),
        num_hashes=8, band_size=2, jaccard_threshold=0.5,
    )
    assert out.count() == 3


def test_tokenizer_ingest_rejects_oov_id_drift(spark, tmp_path):
    # r15: oov_id is baked into every persisted encoded row and parsed
    # back by the drift counters — a restarted loop with a different
    # oov_id would mix conventions in one id space and silently
    # undercount OOV drift. The loop pins it in its meta; same value
    # restarts fine.
    from opensea_datapipeline_spark.streaming.tokenizer_ingest import (
        run_streaming_tokenizer_ingest,
    )

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(0, "alpha beta"), (1, "gamma delta")],
        "doc_id long, text string",
    ).coalesce(1).write.mode("append").parquet(src)
    state = str(tmp_path / "state")
    run_streaming_tokenizer_ingest(
        spark, src, state, str(tmp_path / "ckpt"),
        n_merges=8, retrain_threshold=0.5,
    )
    spark.createDataFrame(
        [(2, "beta gamma")], "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(src)
    try:
        run_streaming_tokenizer_ingest(
            spark, src, state, str(tmp_path / "ckpt2"),
            n_merges=8, retrain_threshold=0.5, oov_id=-7,
        )
        raise AssertionError("oov_id drift must fail loud")
    except Exception as exc:
        assert "oov_id" in str(exc)
    meta2 = run_streaming_tokenizer_ingest(
        spark, src, state, str(tmp_path / "ckpt3"),
        n_merges=8, retrain_threshold=0.5,
    )
    assert meta2.get("oov_id") == -1

"""Round-13 regression tests: the four ADVICE r12 findings plus the
r13 consolidation seams (artifact integrity, applier router crossover,
incremental-groups job floor)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_dd_collapse_buckets_rejects_bad_max(spark):
    # ADVICE r12: max_buckets < 1 keeps NO ranked bucket, so every row
    # would collapse into a single null-keyed bucket and downstream
    # quantile decode would emit garbage -- fail loudly instead.
    from opensea_datapipeline_spark.operators.sketches import (
        dd_bucket_counts,
        dd_collapse_buckets,
    )

    state = dd_bucket_counts(
        spark.createDataFrame([(1.0,), (2.0,)], "value double"), "value"
    )
    for bad in (0, -1):
        with pytest.raises(ValueError):
            dd_collapse_buckets(state, bad)


def test_pack_with_eos_empty_id_stream(spark):
    # ADVICE r12: a doc with an EMPTY id stream (public-API input;
    # unreachable via bpe_encode) must pack as exactly one EOS id --
    # not concat('', ' <eos>') whose leading space split() explodes
    # into a bogus '' token that shifts every later doc's offset.
    from opensea_datapipeline_spark.operators.text import pack_token_ids

    enc = spark.createDataFrame(
        [(0, 0, ""), (1, 2, "4 5")],
        "doc_id long, n_syms long, ids_str string",
    )
    out = {
        r.seq_id: (r.n_ids, r.n_docs, r.ids_str, r.boundaries_str)
        for r in pack_token_ids(
            enc, seq_len=4, eos_id=9, with_boundaries=True
        ).collect()
    }
    # streams: doc0 [9], doc1 [4 5 9] -> one full sequence "9 4 5 9"
    assert out == {0: (4, 2, "9 4 5 9", "0 1")}


def test_streaming_corpus_dedup_keeps_null_text_singletons(
    spark, tmp_path
):
    # ADVICE r12: null-text docs must survive the streaming loop as
    # singleton rows in the final assignment (they produce no bands
    # and no pairs), matching the batch fold and the closure oracle --
    # not silently vanish from the state.
    from opensea_datapipeline_spark.streaming.corpus_dedup import (
        run_streaming_corpus_dedup,
    )

    rows_by_batch = [
        [(0, "alpha beta gamma delta"), (1, None)],
        [(2, "alpha beta gamma delta"), (3, None)],
    ]
    src = str(tmp_path / "src")
    for rows in rows_by_batch:
        spark.createDataFrame(
            rows, "doc_id long, text string"
        ).coalesce(1).write.mode("append").parquet(src)

    got_df = run_streaming_corpus_dedup(
        spark, src, str(tmp_path / "state"), str(tmp_path / "ckpt"),
        jaccard_threshold=0.5,
    )
    got = {r.id: r.group_id for r in got_df.collect()}
    assert got == {0: 0, 1: 1, 2: 0, 3: 3}


def test_tokenizer_artifact_integrity_roundtrip_and_tamper(
    spark, tmp_path
):
    # VERDICT r12 #5: the artifact meta carries merge count, alphabet
    # size and an order-free content hash; read verifies them. A
    # clean round-trip loads; an out-of-band edit of either table
    # raises; a legacy meta (marker only) loads unverified.
    from opensea_datapipeline_spark.operators import text as tx

    docs = spark.createDataFrame(
        [(0, "abab abab cdcd"), (1, "abab cdcd cdcd")],
        "doc_id long, text string",
    )
    merges = tx.bpe_train(docs, n_merges=3, min_count=2)
    alpha = tx.bpe_alphabet(docs)
    path = str(tmp_path / "tok")
    tx.bpe_write_tokenizer(merges, alpha, path)

    meta = spark.read.parquet(path + "/meta").collect()[0]
    assert meta.n_merges == merges.count()
    assert meta.alphabet_size == alpha.count()
    assert meta.content_hash is not None

    m2, a2, marker = tx.bpe_read_tokenizer(spark, path)  # verifies
    assert marker is None
    assert m2.count() == meta.n_merges

    # tamper: drop one merge row out-of-band -> read must refuse
    # (materialize before overwriting the path being read)
    kept = spark.read.parquet(path + "/merges").filter(
        F.col("merge_rank") > 1
    )
    tampered = spark.createDataFrame(kept.collect(), kept.schema)
    tampered.coalesce(1).write.mode("overwrite").parquet(
        path + "/merges"
    )
    with pytest.raises(ValueError, match="integrity"):
        tx.bpe_read_tokenizer(spark, path)
    # verify=False still loads (the escape hatch)
    m3, _, _ = tx.bpe_read_tokenizer(spark, path, verify=False)
    assert m3.count() == meta.n_merges - 1

    # tamper the COUNT column only (rows/keys intact): still caught --
    # the fingerprint hashes every column including n
    path_n = str(tmp_path / "tok_n")
    tx.bpe_write_tokenizer(merges, alpha, path_n)
    bumped = spark.createDataFrame(
        [
            (r.merge_rank, r.left_sym, r.right_sym, r.merged, r.n + 1)
            for r in spark.read.parquet(path_n + "/merges").collect()
        ],
        "merge_rank long, left_sym string, right_sym string,"
        " merged string, n long",
    )
    bumped.coalesce(1).write.mode("overwrite").parquet(path_n + "/merges")
    with pytest.raises(ValueError, match="integrity"):
        tx.bpe_read_tokenizer(spark, path_n)

    # legacy artifact: meta with only the marker column loads clean
    legacy = str(tmp_path / "legacy")
    tx.bpe_write_tokenizer(merges, alpha, legacy)
    spark.createDataFrame([(None,)], "marker string").coalesce(
        1
    ).write.mode("overwrite").parquet(legacy + "/meta")
    lm, la, lmk = tx.bpe_read_tokenizer(spark, legacy)
    assert lm.count() == merges.count() and lmk is None


def test_tokenizer_staleness_oov_retrain_trigger(spark):
    # VERDICT r12 #5: the retrain trigger is the OOV rate of a newly
    # encoded corpus. Self-encode -> rate 0, no retrain; encoding a
    # corpus with a character the training alphabet never saw ->
    # positive rate, retrain recommended.
    from opensea_datapipeline_spark.operators import text as tx

    train = spark.createDataFrame(
        [(0, "abab abab cdcd"), (1, "abab cdcd cdcd")],
        "doc_id long, text string",
    )
    merges = tx.bpe_train(train, n_merges=2, min_count=2)
    alpha = tx.bpe_alphabet(train)

    self_enc = tx.bpe_encode(train, merges, alphabet=alpha)
    rep = tx.tokenizer_staleness(self_enc)
    assert rep["n_oov"] == 0 and not rep["retrain_recommended"]
    assert rep["n_syms"] > 0

    drifted = spark.createDataFrame(
        [(10, "abab xyxy"), (11, "cdcd xy")],
        "doc_id long, text string",
    )
    enc = tx.bpe_encode(drifted, merges, alphabet=alpha)
    rep2 = tx.tokenizer_staleness(enc)
    assert rep2["n_oov"] > 0
    assert rep2["oov_rate"] == rep2["n_oov"] / rep2["n_syms"]
    assert rep2["retrain_recommended"]


def test_bpe_auto_router_picks_measured_applier(monkeypatch):
    # bpe_encode's segmenter is chosen by merge count alone: project up
    # to _BPE_PROJECT_MAX, the broadcast-array fold up to the measured
    # arrow crossover, arrow past it (SCALING §crossover).
    from opensea_datapipeline_spark.operators import text as tx

    picked = []
    monkeypatch.setattr(
        tx, "bpe_apply_merges",
        lambda w, m, marker=None: picked.append("project"),
    )
    monkeypatch.setattr(
        tx, "bpe_apply_merges_fold",
        lambda w, m, marker=None: picked.append("fold"),
    )
    monkeypatch.setattr(
        tx, "bpe_apply_merges_arrow",
        lambda w, m, marker=None: picked.append("arrow"),
    )
    for n in (
        tx._BPE_PROJECT_MAX,
        tx._BPE_PROJECT_MAX + 1,
        tx._BPE_ARROW_CROSSOVER,
        tx._BPE_ARROW_CROSSOVER + 1,
    ):
        tx._bpe_segment(None, [{}] * n, None)
    assert picked == ["project", "fold", "fold", "arrow"]
    assert 0 < tx._BPE_PROJECT_MAX < tx._BPE_ARROW_CROSSOVER


def test_incremental_groups_small_and_distributed_paths_agree(
    spark, monkeypatch
):
    # VERDICT r12 #1: the fold resolves shard-sized contracted graphs
    # by probe-gated driver union-find; above the gate the distributed
    # components loop is the fallback. Both must label identically
    # (group_id = min member id), including the bridge-merge case and
    # the empty-edge fast path.
    from opensea_datapipeline_spark.operators import dedup
    from opensea_datapipeline_spark.operators.dedup import (
        incremental_dedup_groups,
    )

    old_groups = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 3), (4, 3), (7, 7), (8, 7)],
        "id long, group_id long",
    )
    inc_pairs = spark.createDataFrame(
        # duplicate raw pairs on purpose: they must collapse into one
        # contracted edge before the gate counts
        [(2, 5), (2, 5), (5, 2), (3, 5)], "id_a long, id_b long"
    )
    new_ids = spark.createDataFrame([(5,), (6,)], "id long")
    want = {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 6, 7: 7, 8: 7}
    small = {
        r.id: r.group_id
        for r in incremental_dedup_groups(
            old_groups, inc_pairs, new_ids
        ).collect()
    }
    with monkeypatch.context() as m:
        m.setattr(dedup, "DRIVER_EDGE_GATE", 0)
        dist = {
            r.id: r.group_id
            for r in incremental_dedup_groups(
                old_groups, inc_pairs, new_ids
            ).collect()
        }
    assert small == want
    assert dist == want

    # empty-edge fast path: no pairs -> new ids singleton, old intact
    none = {
        r.id: r.group_id
        for r in incremental_dedup_groups(
            old_groups,
            inc_pairs.limit(0),
            new_ids,
        ).collect()
    }
    assert none == {1: 1, 2: 1, 3: 3, 4: 3, 7: 7, 8: 7, 5: 5, 6: 6}


def test_param_guards_fail_loud_not_garbage(spark):
    # r13 proactive hardening: parameters whose bad values previously
    # produced silently-wrong results (not errors) now raise.
    from opensea_datapipeline_spark.operators import dedup, sketches, text

    df = spark.createDataFrame([(1.0,), (2.0,)], "value double")
    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    enc = spark.createDataFrame(
        [(1, 1, "7")], "doc_id long, n_syms long, ids_str string"
    )

    # gamma <= 1: ln(gamma) <= 0 makes every bucket index garbage
    for bad_gamma in (1.0, 0.5, 0.0, -2.0):
        with pytest.raises(ValueError, match="gamma"):
            sketches.dd_bucket(F.col("value"), gamma=bad_gamma)
        with pytest.raises(ValueError, match="gamma"):
            sketches.dd_quantile_sketch(df, "value", [0.5], gamma=bad_gamma)

    # q outside [0,1]: q>1 silently vanished (rank beyond n), q<0
    # aliased the minimum bucket
    state = sketches.dd_bucket_counts(df, "value")
    for bad_qs in ([1.5], [-0.1], [0.5, 2.0], []):
        with pytest.raises(ValueError, match="q"):
            sketches.dd_quantiles_from_buckets(state, bad_qs)

    # k < 2: the KMV estimator (k-1)/(m_k/2^60) is identically zero
    for bad_k in (1, 0, -3):
        with pytest.raises(ValueError, match="k must be"):
            sketches.kmv_distinct(df, "value", k=bad_k)
        with pytest.raises(ValueError, match="k must be"):
            sketches.kmv_distinct_by_group(docs, "doc_id", "text", k=bad_k)

    # seq_len < 1: seq_id = floor(pos/seq_len) divides by zero or
    # scrambles the tiling
    for bad_len in (0, -8):
        with pytest.raises(ValueError, match="seq_len"):
            text.pack_token_ids(enc, seq_len=bad_len)
    with pytest.raises(ValueError, match="bucket_size"):
        text.pack_token_ids(enc, bucket_size=0)

    # band_size that does not tile num_hashes silently DROPPED the
    # trailing signatures (recall degraded invisibly)
    for nh, bs in ((8, 3), (8, 0), (8, -2), (8, 5)):
        with pytest.raises(ValueError, match="band_size"):
            dedup.minhash_band_table(
                docs, "text", "doc_id", num_hashes=nh, band_size=bs
            )
    with pytest.raises(ValueError, match="num_hashes"):
        dedup.minhash_signatures(docs, "text", "doc_id", num_hashes=0)

    # good values still construct (lazy -- no execution needed)
    sketches.dd_bucket(F.col("value"), gamma=1.01)
    text.pack_token_ids(enc, seq_len=1)
    dedup.minhash_band_table(
        docs, "text", "doc_id", num_hashes=8, band_size=4
    )


def test_pack_documents_param_guards(spark):
    from opensea_datapipeline_spark.operators.text import pack_documents

    df = spark.createDataFrame([(1, 10)], "doc_id long, n_tokens long")
    for bad in (0, -512):
        with pytest.raises(ValueError, match="target_tokens"):
            pack_documents(df, target_tokens=bad)
    with pytest.raises(ValueError, match="num_shards"):
        pack_documents(df, num_shards=0)
    pack_documents(df, target_tokens=1, num_shards=1)  # still constructs


def test_streaming_corpus_dedup_empty_batch_is_safe_noop(spark, tmp_path):
    # A zero-row micro-batch (empty source file -- routine in real file
    # streams) must flow through probe -> fold -> append -> swap as a
    # no-op: no pairs, no appended rows, assignment unchanged, and the
    # stream still lands on the full-corpus closure.
    from opensea_datapipeline_spark.operators.dedup import (
        connected_components,
        minhash_lsh_pairs,
    )
    from opensea_datapipeline_spark.streaming.corpus_dedup import (
        run_streaming_corpus_dedup,
    )

    texts = {
        0: "alpha beta gamma delta epsilon",
        1: "alpha beta gamma delta zeta",     # ~ doc 0
        2: "one two three four five six",
        3: "alpha beta gamma delta epsilon",  # = doc 0, lands post-empty
    }
    src = str(tmp_path / "src")
    batches = [[0, 1], [], [2, 3]]
    for ids in batches:
        spark.createDataFrame(
            [(d, texts[d]) for d in ids], "doc_id long, text string"
        ).coalesce(1).write.mode("append").parquet(src)

    walls = []
    got_df = run_streaming_corpus_dedup(
        spark, src, str(tmp_path / "state"), str(tmp_path / "ckpt"),
        jaccard_threshold=0.5,
        on_batch=lambda bid, w: walls.append(bid),
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
    assert got == want
    assert len(got) == 4
    assert len(set(got.values())) < 4  # the duplicate actually clustered
    assert len(walls) == 3  # the empty batch committed like any other


def test_bpe_train_driver_gate_paths_agree(spark, monkeypatch):
    # r13: bpe_train's probe-gated driver loop (the incremental-groups
    # fold pattern applied to BPE training) must return the IDENTICAL
    # merge table as the distributed loop -- including tie-breaks, the
    # min_count early stop, and the marker form. Rendering is
    # Spark-side in both paths, so this pins the loop semantics alone.
    from opensea_datapipeline_spark.operators import text
    from opensea_datapipeline_spark.operators.text import bpe_train

    texts = [
        "the cat sat on the mat",
        "the cats sat on the mats",
        "a aa aaa aaaa the thee",   # greedy-run territory
        "zz zz yy",                 # count ties -> (l, r) tie-break
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    for kw in (
        dict(n_merges=10, min_count=2),
        dict(n_merges=10, min_count=2, marker="\x11"),
        dict(n_merges=50, min_count=1),   # run past exhaustion
        dict(n_merges=3, min_count=100),  # early stop -> empty
    ):
        fast = [tuple(r) for r in bpe_train(docs, **kw).collect()]
        with monkeypatch.context() as m:
            m.setattr(text, "_BPE_DRIVER_WORDS", 0)
            dist = [tuple(r) for r in bpe_train(docs, **kw).collect()]
        assert fast == dist, kw
        fast.sort()
        assert fast == sorted(fast)  # rank-ordered


def test_components_gate_paths_agree(spark, monkeypatch):
    # r13: connected_components' probe-gated union-find must label
    # identically to the distributed min-label/star path on every graph
    # shape -- blob, long chain (the star-switch territory: 9 hops
    # outlast the 4-round min-label prefix), isolates, and string node
    # ids.
    from opensea_datapipeline_spark.operators import dedup
    from opensea_datapipeline_spark.operators.dedup import (
        connected_components,
    )

    # chain 0-1-...-9 + blob {20,21,22} + isolates 30, 31
    edges = [(i, i + 1) for i in range(9)]
    edges += [(20, 21), (21, 22), (20, 22), (21, 20)]  # dup + reversed
    nodes = list(range(10)) + [20, 21, 22, 30, 31]
    ndf = spark.createDataFrame([(n,) for n in nodes], "id long")
    edf = spark.createDataFrame(edges, "id_a long, id_b long")
    want = {n: (0 if n < 10 else 20 if n in (20, 21, 22) else n)
            for n in nodes}
    fast = {
        r.id: r.group_id
        for r in connected_components(ndf, edf).collect()
    }
    with monkeypatch.context() as m:
        m.setattr(dedup, "DRIVER_EDGE_GATE", 0)
        dist = {
            r.id: r.group_id
            for r in connected_components(ndf, edf).collect()
        }
    assert fast == want
    assert dist == want

    # string ids: min-root must use the same (binary) string order
    sn = spark.createDataFrame(
        [("a",), ("b",), ("z",), ("lone",)], "id string"
    )
    se = spark.createDataFrame(
        [("z", "b"), ("b", "a")], "id_a string, id_b string"
    )
    got = {r.id: r.group_id
           for r in connected_components(sn, se).collect()}
    assert got == {"a": "a", "b": "a", "z": "a", "lone": "lone"}


def test_label_propagation_gate_paths_agree(spark, monkeypatch):
    # r13: the driver LPA loop (unweighted gate) must label identically
    # to the distributed counted-table argmax for every iters count --
    # incl. duplicate edges counting in votes, directed keep-label
    # nodes, and string ids.
    from opensea_datapipeline_spark.operators import dedup
    from opensea_datapipeline_spark.operators.graph import (
        label_propagation,
    )

    def both_paths(*args, **kw):
        fast = {
            r.node: r.community
            for r in label_propagation(*args, **kw).collect()
        }
        with monkeypatch.context() as m:
            m.setattr(dedup, "DRIVER_EDGE_GATE", 0)
            dist = {
                r.node: r.community
                for r in label_propagation(*args, **kw).collect()
            }
        return fast, dist

    # two cliques bridged by one edge + a duplicate edge that biases a
    # vote + a pendant
    edges = (
        [(a, b) for a in (0, 1, 2) for b in (0, 1, 2) if a < b]
        + [(a, b) for a in (10, 11, 12) for b in (10, 11, 12) if a < b]
        + [(2, 10), (2, 10), (12, 20)]
    )
    edf = spark.createDataFrame(edges, "id_a long, id_b long")
    for iters in (1, 2, 3, 5):
        fast, dist = both_paths(edf, "id_a", "id_b", iters=iters)
        assert fast == dist, iters

    # directed: source-only node keeps its own label each round
    ddf = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "b")], "s string, d string"
    )
    for iters in (1, 2, 4):
        fast, dist = both_paths(
            ddf, "s", "d", iters=iters, undirected=False
        )
        assert fast == dist, iters
        assert fast["a"] == "a"  # no in-edges: label kept


def test_ansi_division_guards_on_degenerate_data(spark):
    # r13 totality-sweep class: routine degenerate data (zero-valued
    # day, constant series, zero vector, empty doc) must yield nulls /
    # no-flags, never an ANSI DIVIDE_BY_ZERO job abort.
    from opensea_datapipeline_spark.functions.vector import (
        cosine_similarity,
        l2_normalize,
    )
    from opensea_datapipeline_spark.operators.aggregates import (
        zscore_anomalies,
    )
    from opensea_datapipeline_spark.operators.similarity import (
        knn_topk_exact,
    )
    from opensea_datapipeline_spark.operators.windows import pct_change

    # pct_change over a zero-valued period -> null, not a throw
    df = spark.createDataFrame(
        [(1, 4.0), (2, 0.0), (3, 5.0)], "t long, v double"
    )
    out = {r.t: r.pct_change
           for r in pct_change(df, "t", "v", global_ok=True).collect()}
    assert out[1] is None and out[3] is None  # first row + zero prev
    assert abs(out[2] - (0.0 / 4.0 - 1)) < 1e-12

    # constant series has NO anomalies (sigma=0), not a throw
    const = spark.createDataFrame(
        [(i, 5.0) for i in range(4)], "t long, v double"
    )
    assert zscore_anomalies(const, "t", "v").count() == 0

    # zero vector: normalizes to itself, cosine null, never wins top-k
    vecs = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [1.0, 0.1])],
        "vec_id long, embedding array<double>",
    )
    n0 = vecs.filter("vec_id = 0").select(
        l2_normalize("embedding").alias("n")
    ).first().n
    assert list(n0) == [0.0, 0.0]
    pair = vecs.filter("vec_id = 0").crossJoin(
        vecs.filter("vec_id = 1").select(F.col("embedding").alias("b"))
    ).select(cosine_similarity("embedding", "b").alias("c")).first()
    assert pair.c is None
    knn = knn_topk_exact(vecs, k=1)
    top = {r.query_id: r.neighbor_id for r in knn.collect()}
    assert top[1] == 2 and top[2] == 1  # zero vector never the winner


def test_aggregate_battery_total_on_degenerate_events(spark):
    # Totality: the aggregate/window battery must RUN on degenerate
    # event frames -- empty, single-row, all-null values, constant
    # values, zero values -- the inputs that expose ANSI
    # division/cast aborts (the pct_change/zscore class).
    import datetime

    from opensea_datapipeline_spark.operators import aggregates as ag
    from opensea_datapipeline_spark.operators import windows as wd

    t0 = datetime.datetime(2024, 1, 1)
    frames = {
        "empty": [],
        "single": [(1, 1, "a", t0, 5.0)],
        "all_null_values": [
            (1, 1, "a", t0, None),
            (2, 2, "b", t0 + datetime.timedelta(days=1), None),
        ],
        "constant": [
            (i, 1, "a", t0 + datetime.timedelta(days=i), 7.0)
            for i in range(4)
        ],
        "zeros": [
            (i, 1, "a", t0 + datetime.timedelta(days=i), 0.0)
            for i in range(4)
        ],
    }
    schema = (
        "event_id long, user_id long, event_type string,"
        " ts timestamp, value double"
    )
    for tag, rows in frames.items():
        df = spark.createDataFrame(rows, schema)
        daily = df.groupBy(F.to_date("ts").alias("d")).agg(
            F.sum("value").alias("v")
        )
        for out in (
            ag.daily_stats(
                df.withColumn("d", F.to_date("ts")), ["d"],
                user_col="user_id", price_col="value",
                event_types=["a", "b"],
            ),
            ag.entity_stats(
                df, ["user_id"], price_col="value", ts_col="ts",
                distinct_col="event_type",
            ),
            ag.summary_quantiles(df, ["event_type"], "value"),
            ag.zscore_anomalies(daily, "d", "v"),
            wd.pct_change(daily, "d", "v", global_ok=True),
            wd.rolling_mean(daily, "d", "v", 3, global_ok=True)
            if hasattr(wd, "rolling_mean")
            else daily,
        ):
            assert out.collect() is not None, (tag,)


def test_cast_guards_on_garbage_strings(spark):
    # r13 cast-abort sweep: stringly numeric columns carrying garbage
    # must take defaults/null -- a plain ANSI cast throws
    # CAST_INVALID_INPUT on the first malformed row and aborts the job.
    from opensea_datapipeline_spark.operators.clean import (
        clean_nft_events,
        normalize_types,
    )

    df = spark.createDataFrame(
        [("12.5",), ("garbage",), (None,), ("",)], "value string"
    )
    got = {
        r.value for r in normalize_types(df, [], {"value": 0.0}).collect()
    }
    assert got == {12.5, 0.0}

    raw = spark.createDataFrame(
        [
            # quantity + price_total + price_each ALL garbage strings
            ("0xt1", "7", "sale", "not-a-date", 1700000000,
             "s", "b", "f", "t", "0xc", "N/A", "junk", "??", "eth",
             "ETH", "col1"),
        ],
        "tx string, token_id string, event_type string,"
        " time_utc string, timestamp long, seller string, buyer string,"
        " from_address string, to_address string, contract string,"
        " quantity string, price_total string, price_each string,"
        " chain string, currency_symbol string, collection string",
    )
    rows = clean_nft_events(raw).collect()
    assert len(rows) == 1  # timestamp fell back to unix seconds
    r = rows[0]
    assert r.quantity == 1          # garbage -> default
    assert r.price_total_eth == 0.0  # garbage -> default
    assert r.price_each_eth == 0.0   # garbage -> total/qty -> 0.0

    # malformed JSON props: variant + string JSON paths read null,
    # never abort
    e = spark.createDataFrame(
        [(1, '{"k": 5}'), (2, "{not json"), (3, '{"k": "abc"}')],
        "event_id long, props string",
    )
    ks = e.select(
        F.get_json_object("props", "$.k").try_cast("long").alias("k1"),
        F.try_variant_get(
            F.try_parse_json("props"), "$.k", "int"
        ).alias("k2"),
    ).collect()
    assert [r.k1 for r in ks] == [5, None, None]
    assert [r.k2 for r in ks] == [5, None, None]


def _ann_vec(i, dim=8):
    # deterministic distinct unit-ish vectors
    import math

    return [math.sin(0.7 * i + j) for j in range(dim)]


def test_streaming_ann_ingest_matches_batch_lifecycle(spark, tmp_path):
    # The composed embedding-ingest loop: first batch trains + publishes
    # index_v0; later batches append under the frozen quantizer. KMeans
    # centroids depend on input partitioning, so the invariants are the
    # partition-INDEPENDENT ones: every vector stored exactly once and
    # assigned to its numpy-nearest centroid; a full-width probe equals
    # exact brute-force top-k; a replayed stream is a no-op.
    import numpy as np

    from opensea_datapipeline_spark.operators.ann_index import (
        ivf_probe,
        read_index,
    )
    from opensea_datapipeline_spark.operators.similarity import (
        knn_topk_exact,
    )
    from opensea_datapipeline_spark.streaming.ann_ingest import (
        run_streaming_ann_ingest,
    )

    batches = [range(0, 8), range(8, 12), range(12, 16)]
    src = str(tmp_path / "src")
    for ids in batches:
        spark.createDataFrame(
            [(i, _ann_vec(i)) for i in ids],
            "vec_id long, embedding array<double>",
        ).coalesce(1).write.mode("append").parquet(src)

    walls = []
    meta = run_streaming_ann_ingest(
        spark, src, str(tmp_path / "state"), str(tmp_path / "ckpt"),
        n_lists=2, rebuild_threshold=5.0,  # never rebuild in this test
        on_batch=lambda b, w, r: walls.append((b, r)),
    )
    assert meta["rebuilds"] == 0 and meta["version"] == 0
    assert len(walls) == 3 and not any(r for _, r in walls[1:])

    # (a) store: every id exactly once, assigned to its nearest centroid
    assigns = spark.read.parquet(
        meta["index_dir"] + "/assignments"
    ).collect()
    assert sorted(r.id for r in assigns) == list(range(16))
    cents = {
        r.list_id: np.array(r.centroid, dtype=float)
        for r in spark.read.parquet(
            meta["index_dir"] + "/centroids"
        ).collect()
    }
    for r in assigns:
        v = np.array(_ann_vec(r.id))
        best = min(
            cents, key=lambda lid: float(np.sum((v - cents[lid]) ** 2))
        )
        d_best = float(np.sum((v - cents[best]) ** 2))
        d_got = float(np.sum((v - cents[r.list_id]) ** 2))
        assert d_got <= d_best + 1e-9, (r.id, r.list_id, best)

    # (b) full-width probe == exact brute-force top-k
    all_vecs = spark.createDataFrame(
        [(i, _ann_vec(i)) for i in range(16)],
        "vec_id long, embedding array<double>",
    )
    idx = read_index(spark, meta["index_dir"])
    got_p = {
        (r.query_id, r.rank): r.neighbor_id
        for r in ivf_probe(idx, all_vecs, k=3, n_probe=2).collect()
    }
    want_p = {
        (r.query_id, r.rank): r.neighbor_id
        for r in knn_topk_exact(all_vecs, k=3).collect()
    }
    assert got_p == want_p and got_p

    # (c) replay: a restart with no new files changes nothing
    again = run_streaming_ann_ingest(
        spark, src, str(tmp_path / "state"), str(tmp_path / "ckpt"),
        n_lists=2, rebuild_threshold=5.0,
    )
    assert again["version"] == 0 and again["last_batch_id"] == meta[
        "last_batch_id"
    ]
    assert spark.read.parquet(
        again["index_dir"] + "/assignments"
    ).count() == 16


def test_streaming_ann_ingest_staleness_rebuild_fires(spark, tmp_path):
    # With a low threshold the appended fraction crosses it and the
    # loop REBUILDS: version advances, the old dir is gone, counters
    # reset (delta_fraction 0 right after), and the store still holds
    # every vector exactly once.
    import os

    from opensea_datapipeline_spark.operators.ann_index import (
        index_staleness,
    )
    from opensea_datapipeline_spark.streaming.ann_ingest import (
        run_streaming_ann_ingest,
    )

    batches = [range(0, 6), range(6, 12), range(12, 14)]
    src = str(tmp_path / "src")
    for ids in batches:
        spark.createDataFrame(
            [(i, _ann_vec(i)) for i in ids],
            "vec_id long, embedding array<double>",
        ).coalesce(1).write.mode("append").parquet(src)

    state = str(tmp_path / "state")
    meta = run_streaming_ann_ingest(
        spark, src, state, str(tmp_path / "ckpt"),
        n_lists=2, rebuild_threshold=0.4,
    )
    # batch 2 doubles the corpus (6 appended / 12 total = 0.5 > 0.4)
    assert meta["rebuilds"] >= 1
    assert meta["version"] == meta["rebuilds"]
    assert not os.path.isdir(os.path.join(state, "index_v0"))
    rows = spark.read.parquet(meta["index_dir"] + "/assignments")
    assert rows.count() == 14
    assert rows.select("id").distinct().count() == 14
    stale = index_staleness(spark, meta["index_dir"])
    # the LAST batch may have appended after the rebuild; the appended
    # fraction must reflect only post-rebuild mass
    assert stale["n_base"] >= 12


def test_streaming_ann_ingest_crash_window_replay_is_noop(
    spark, tmp_path
):
    # Crash window: the append lands BEFORE the meta batch-id bump. A
    # crash between them replays the batch against a store that already
    # holds its rows -- the anti-join must make the re-append a no-op,
    # never a duplicate.
    import json
    import os

    from opensea_datapipeline_spark.streaming.ann_ingest import (
        run_streaming_ann_ingest,
    )

    batches = [range(0, 6), range(6, 10)]
    src = str(tmp_path / "src")
    for ids in batches:
        spark.createDataFrame(
            [(i, _ann_vec(i)) for i in ids],
            "vec_id long, embedding array<double>",
        ).coalesce(1).write.mode("append").parquet(src)
    state = str(tmp_path / "state")
    meta = run_streaming_ann_ingest(
        spark, src, state, str(tmp_path / "ckpt"),
        n_lists=2, rebuild_threshold=5.0,
    )
    n0 = spark.read.parquet(meta["index_dir"] + "/assignments").count()
    assert n0 == 10

    # simulate the crash: rewind the committed batch id so the last
    # batch replays, and run the stream from a FRESH checkpoint (the
    # replayed batch arrives again)
    mpath = os.path.join(state, "_gold_meta.json")
    m = json.load(open(mpath))
    m["last_batch_id"] = -1  # replay everything
    json.dump(m, open(mpath, "w"))
    again = run_streaming_ann_ingest(
        spark, src, state, str(tmp_path / "ckpt2"),
        n_lists=2, rebuild_threshold=5.0,
    )
    rows = spark.read.parquet(again["index_dir"] + "/assignments")
    assert rows.count() == 10  # no duplicates from the re-appends
    assert rows.select("id").distinct().count() == 10
    assert again["version"] == meta["version"]


def test_streaming_ann_ingest_lsh_kind_never_rebuilds(spark, tmp_path):
    # kind="lsh": appends are bit-identical to a rebuild (pure per-row
    # signatures under frozen hyperplanes), so version stays 0 forever
    # even with a threshold that would force an IVF rebuild -- and the
    # probe over the streamed store equals probing a one-shot build of
    # the same corpus (signature determinism).
    from opensea_datapipeline_spark.operators.ann_index import (
        build_lsh_index,
        lsh_probe,
        read_index,
    )
    from opensea_datapipeline_spark.streaming.ann_ingest import (
        run_streaming_ann_ingest,
    )

    batches = [range(0, 5), range(5, 10), range(10, 12)]
    src = str(tmp_path / "src")
    for ids in batches:
        spark.createDataFrame(
            [(i, _ann_vec(i)) for i in ids],
            "vec_id long, embedding array<double>",
        ).coalesce(1).write.mode("append").parquet(src)

    meta = run_streaming_ann_ingest(
        spark, src, str(tmp_path / "state"), str(tmp_path / "ckpt"),
        kind="lsh", n_planes=3, n_tables=4, dim=8,
        rebuild_threshold=0.01,  # would force IVF to rebuild
    )
    assert meta["rebuilds"] == 0 and meta["version"] == 0

    qdf = spark.createDataFrame(
        [(100, _ann_vec(4))], "vec_id long, embedding array<double>"
    )
    got = {
        (r.query_id, r.rank): r.neighbor_id
        for r in lsh_probe(
            read_index(spark, meta["index_dir"]), qdf, k=3
        ).collect()
    }
    oneshot = build_lsh_index(
        spark.createDataFrame(
            [(i, _ann_vec(i)) for i in range(12)],
            "vec_id long, embedding array<double>",
        ),
        n_planes=3, n_tables=4, dim=8,
    )
    want = {
        (r.query_id, r.rank): r.neighbor_id
        for r in lsh_probe(oneshot, qdf, k=3).collect()
    }
    assert got == want and got

"""Unit tests for clean/mlstats/multimodal/streaming on tiny literal
frames — the semantic corners the oracle diff can't isolate."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from opensea_datapipeline_spark.operators import clean as cl
from opensea_datapipeline_spark.operators import mlstats as ms
from opensea_datapipeline_spark.operators import multimodal as mm


def test_dedup_keep_first_is_deterministic(spark):
    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0)],
        "event_id long, k string, v double",
    )
    out = cl.dedup_keep_first(df, ["k"], ["event_id"]).collect()
    kept = {r.k: r.event_id for r in out}
    assert kept == {"a": 1, "b": 3}  # earliest event_id survives, always


def test_normalize_types_defaults(spark):
    df = spark.createDataFrame(
        [("  Click ", None), ("VIEW", 2.5)], "t string, v double"
    )
    out = cl.normalize_types(df, ["t"], {"v": 0.0}).collect()
    assert [r.t for r in out] == ["click", "view"]
    assert [r.v for r in out] == [0.0, 2.5]


def test_canonicalize_mapping(spark):
    df = spark.createDataFrame([("Tap",), ("view",)], "event_type string")
    out = cl.canonicalize_event_type(
        df, mapping={"tap": "click"}, valid_types=["click", "view"]
    ).collect()
    assert [(r.event_type, r.is_valid_type) for r in out] == [
        ("click", True), ("view", True)
    ]


def test_group_ols_known_line(spark):
    # y = 2x + 1 exactly → slope 2, intercept 1, r2 1
    rows = [("g", float(x), 2.0 * x + 1.0) for x in range(10)]
    df = spark.createDataFrame(rows, "g string, x double, y double")
    out = ms.group_ols(df, ["g"], "x", "y").collect()[0]
    assert out.slope == pytest.approx(2.0)
    assert out.intercept == pytest.approx(1.0)
    assert out.r2 == pytest.approx(1.0)
    assert out.n_obs == 10


def test_group_ols_degenerate_group(spark):
    df = spark.createDataFrame([("g", 1.0, 5.0)], "g string, x double, y double")
    out = ms.group_ols(df, ["g"], "x", "y").collect()[0]
    assert out.slope is None and out.n_obs == 1


def test_anova_separated_classes(spark):
    # Two classes with disjoint values → huge F, eta² near 1
    rows = [("n", "a", v) for v in (1.0, 1.1, 0.9)] + [
        ("n", "b", v) for v in (10.0, 10.1, 9.9)
    ]
    df = spark.createDataFrame(rows, "g string, c string, v double")
    out = ms.anova_oneway(df, "g", "c", "v").collect()[0]
    assert out.k_classes == 2 and out.n_total == 6
    assert out.f_stat > 100
    assert out.eta_squared > 0.99


def test_spearman_perfect_monotone(spark):
    df = spark.createDataFrame(
        [(1.0, 10.0), (2.0, 100.0), (3.0, 1000.0)], "x double, y double"
    )
    assert ms.spearman_corr(df, "x", "y").collect()[0].spearman == pytest.approx(1.0)


def test_byte_histogram_matches_numpy(spark):
    import numpy as np

    text = "abcABC123"
    df = spark.createDataFrame([(1, text)], "asset_id long, text string")
    out = mm.byte_histogram_features(
        mm.attach_binary_payload(df, "text"), "media", "asset_id"
    ).collect()[0]
    arr = np.frombuffer(text.encode(), dtype=np.uint8)
    expected = np.bincount(arr // 32, minlength=8) / len(arr)
    assert out.feature == pytest.approx(expected.tolist())


def test_frame_sample_covers_payload(spark):
    df = spark.createDataFrame([(1, "x" * 200)], "asset_id long, text string")
    out = mm.frame_sample(
        mm.attach_binary_payload(df, "text"), "media", "asset_id",
        frame_bytes=64, stride=2,
    ).collect()
    # 200 bytes → frames 0..3, stride 2 keeps 0 and 2
    assert [(r.frame_idx, r.frame_len) for r in out] == [(0, 64), (2, 64)]


def test_parse_image_header_known_bytes():
    import struct

    png = (
        b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\x0dIHDR"
        + struct.pack(">II", 320, 200) + b"\x08\x06"
    )
    assert mm.parse_image_header(png) == (320, 200, "RGBA")
    gif = b"GIF89a" + struct.pack("<HH", 64, 48) + b"\x00" * 16
    assert mm.parse_image_header(gif) == (64, 48, "P")
    # top-down BMP stores a negative height; parser must return abs()
    bmp = (
        b"BM" + b"\x00" * 12 + struct.pack("<I", 40)
        + struct.pack("<ii", 100, -80) + b"\x01\x00" + struct.pack("<H", 8)
    )
    assert mm.parse_image_header(bmp) == (100, 80, "P")
    # JPEG: the parser must WALK markers (JFIF APP0 before the SOF), read
    # height-then-width big-endian, and handle progressive (SOF2) frames
    app0 = bytes.fromhex("ffe000104a46494600010100000100010000")
    sof0 = b"\xff\xc0\x00\x11\x08" + struct.pack(">HH", 200, 320) \
        + bytes.fromhex("03011100021101031101")
    assert mm.parse_image_header(b"\xff\xd8" + app0 + sof0) == (320, 200, "RGB")
    sof2_gray = b"\xff\xc2\x00\x0b\x08" + struct.pack(">HH", 100, 50) \
        + bytes.fromhex("01011100")
    assert mm.parse_image_header(b"\xff\xd8" + app0 + sof2_gray) == (50, 100, "L")
    # a DHT (C4) segment before the SOF must be skipped, not parsed as SOF
    dht = b"\xff\xc4\x00\x04\x00\x00"
    assert mm.parse_image_header(b"\xff\xd8" + app0 + dht + sof0) == (320, 200, "RGB")
    # WebP: lossy VP8 (sync-code gated), lossless VP8L (14-bit packed
    # minus-one dims), extended VP8X (24-bit LE minus-one dims + alpha bit)
    vp8 = (b"RIFF" + struct.pack("<I", 22) + b"WEBPVP8 "
           + struct.pack("<I", 10) + b"\x00\x00\x00\x9d\x01\x2a"
           + struct.pack("<HH", 640, 360))
    assert mm.parse_image_header(vp8) == (640, 360, "RGB")
    bits = (320 - 1) | ((200 - 1) << 14)
    vp8l = (b"RIFF" + struct.pack("<I", 17) + b"WEBPVP8L"
            + struct.pack("<I", 5) + b"\x2f" + struct.pack("<I", bits))
    assert mm.parse_image_header(vp8l) == (320, 200, "RGBA")
    vp8x = (b"RIFF" + struct.pack("<I", 18) + b"WEBPVP8X"
            + struct.pack("<I", 10) + bytes([0x10, 0, 0, 0])
            + (320 - 1).to_bytes(3, "little") + (200 - 1).to_bytes(3, "little"))
    assert mm.parse_image_header(vp8x) == (320, 200, "RGBA")
    assert mm.parse_image_header(None) is None
    assert mm.parse_image_header(b"short") is None
    assert mm.parse_image_header(b"\x00" * 64) is None
    # truncated / corrupt structured payloads degrade to None, never raise
    assert mm.parse_image_header(b"\xff\xd8" + b"\x00" * 40) is None
    assert mm.parse_image_header(b"RIFF" + b"\x00" * 4 + b"WEBP" + b"\x00" * 20) is None


def test_jpeg_webp_decode_without_pil():
    # This sandbox has no PIL (the import-try falls back to the pure
    # parser), so this asserts the dominant real-corpus formats decode on
    # the fallback path — the exact gap VERDICT r7 flagged.
    import importlib.util
    import struct

    assert importlib.util.find_spec("PIL") is None, (
        "PIL appeared in the env; this test now exercises the wrong path"
    )
    app0 = bytes.fromhex("ffe000104a46494600010100000100010000")
    sof0 = b"\xff\xc0\x00\x11\x08" + struct.pack(">HH", 16, 32) \
        + bytes.fromhex("03011100021101031101")
    assert mm.parse_image_header(b"\xff\xd8" + app0 + sof0) == (32, 16, "RGB")
    vp8 = (b"RIFF" + struct.pack("<I", 22) + b"WEBPVP8 "
           + struct.pack("<I", 10) + b"\x00\x00\x00\x9d\x01\x2a"
           + struct.pack("<HH", 32, 16))
    assert mm.parse_image_header(vp8) == (32, 16, "RGB")


def test_decode_media_permissive_on_garbage(spark):
    # Unparseable payloads yield NULL dims, never a batch failure.
    df = mm.attach_binary_payload(
        spark.createDataFrame([(1, "not an image")], "asset_id long, text string"),
        "text",
    )
    row = mm.decode_media(df, "media", "asset_id").first()
    assert (row.width, row.height, row.mode) == (None, None, None)


def test_streaming_matches_batch(spark, sf_dir):
    from opensea_datapipeline_spark.sources.readers import load_table
    from opensea_datapipeline_spark.streaming.agg import run_streaming_daily_stats

    streamed = run_streaming_daily_stats(
        spark, f"{sf_dir}/events.parquet", table_name="t_stream_test"
    )
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_format("ts", "yyyy-MM-dd").alias("event_date"))
        .agg(F.count(F.lit(1)).alias("total_transactions"))
    )
    got = {r.event_date: r.total_transactions for r in streamed.collect()}
    want = {r.event_date: r.total_transactions for r in batch.collect()}
    assert got == want


def test_salted_join_matches_plain_join(spark, sf_dir):
    from opensea_datapipeline_spark.operators.joins import salted_join
    from opensea_datapipeline_spark.sources.readers import load_table

    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").withColumnRenamed(
        "n_nationkey", "c_nationkey"
    )
    plain = c.join(n, "c_nationkey").groupBy("n_name").count()
    salted = salted_join(c, n, "c_nationkey", n_salts=4).groupBy("n_name").count()
    assert {(r.n_name, r["count"]) for r in plain.collect()} == {
        (r.n_name, r["count"]) for r in salted.collect()
    }


def test_session_window_parity_with_sessionize(spark):
    # Built-in session_window (batch) and the gap-cumsum sessionize must
    # produce identical session boundaries on unambiguous data.
    from opensea_datapipeline_spark.operators.windows import sessionize

    rows = [
        (1, 1, "2024-01-01 10:00:00"),
        (2, 1, "2024-01-01 10:10:00"),   # same session (10 min gap)
        (3, 1, "2024-01-01 11:30:00"),   # new session (80 min gap)
        (4, 2, "2024-01-01 09:00:00"),
        (5, 2, "2024-01-01 09:29:00"),   # same session (29 min gap)
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, s string").select(
        "event_id", "user_id", F.to_timestamp("s").alias("ts")
    )
    built_in = (
        df.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.min("ts").alias("start"))
        .select("user_id", "start", "n")
    )
    ours = (
        sessionize(df, "user_id", "ts", 1800, "event_id")
        .groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).alias("n"), F.min("ts").alias("start"))
        .select("user_id", "start", "n")
    )
    assert {tuple(r) for r in built_in.collect()} == {
        tuple(r) for r in ours.collect()
    }


def test_streaming_sessions_emit_finalized_prefix(spark, sf_dir, tmp_path):
    # Feed the backlog as multiple files (one per micro-batch); sessions
    # finalized by the advancing watermark must exactly match the batch
    # session_window computation for the same keys/starts.
    from opensea_datapipeline_spark.sources.readers import load_table
    from opensea_datapipeline_spark.streaming.session import run_streaming_sessions

    events = load_table(spark, sf_dir, "events").select("ts", "user_id", "value")
    src = str(tmp_path / "stream_src")
    # split by time so micro-batches arrive roughly in order
    events.withColumn(
        "half", (F.col("ts") > F.lit("2024-01-15 00:00:00").cast("timestamp")).cast("int")
    ).repartitionByRange(2, "half").write.parquet(src)

    emitted = run_streaming_sessions(
        spark, src, gap="30 minutes", table_name="t_sessions_test"
    ).collect()
    assert emitted, "no sessions emitted — watermark never advanced"

    batch = (
        events.groupBy(F.session_window("ts", "30 minutes").alias("win"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("win.start").alias("session_start"), "n_events")
    )
    batch_map = {(r.user_id, r.session_start): r.n_events for r in batch.collect()}
    for r in emitted:
        key = (r.user_id, r.session_start)
        assert key in batch_map, f"emitted session not in batch result: {key}"
        assert r.n_events == batch_map[key], key


def test_train_test_split_is_stable_and_partition_invariant(spark, sf_dir):
    from opensea_datapipeline_spark.operators.text import train_test_split
    from opensea_datapipeline_spark.sources.readers import load_table

    d = load_table(spark, sf_dir, "documents")
    s1 = {r.doc_id: r.split for r in train_test_split(d, "doc_id").collect()}
    s2 = {
        r.doc_id: r.split
        for r in train_test_split(d.repartition(7), "doc_id").collect()
    }
    assert s1 == s2  # assignment survives re-partitioning
    frac = sum(1 for v in s1.values() if v == "test") / len(s1)
    assert 0.03 < frac < 0.25  # ~10% with small-N variance


def test_stratified_sample_respects_fractions(spark, sf_dir):
    from opensea_datapipeline_spark.operators.text import stratified_sample
    from opensea_datapipeline_spark.sources.readers import load_table

    d = load_table(spark, sf_dir, "documents")
    out = stratified_sample(d, "lang", {"en": 0.5, "de": 1.0}, seed=42)
    base = {r.lang: r.n for r in d.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    got = {r.lang: r.n for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert got.get("de", 0) == base.get("de", 0)      # fraction 1.0 keeps all
    assert "fr" not in got                             # unlisted strata drop
    if base.get("en", 0) >= 20:
        assert 0.2 * base["en"] < got.get("en", 0) < 0.8 * base["en"]
    # determinism
    again = {r.doc_id for r in stratified_sample(d, "lang", {"en": 0.5, "de": 1.0}, seed=42).collect()}
    assert again == {r.doc_id for r in out.collect()}


def test_daily_stats_empty_input(spark):
    from opensea_datapipeline_spark.operators.aggregates import daily_stats

    empty = spark.createDataFrame(
        [], "event_date string, user_id long, event_type string, value double"
    )
    out = daily_stats(
        empty, ["event_date"], "user_id", "value", event_types=["click"]
    )
    assert out.count() == 0
    assert "click_count" in out.columns


def test_approx_distinct_within_tolerance(spark, sf_dir):
    # The documented 100 TB swap-in: approx_count_distinct must stay
    # within its advertised error for our data shapes.
    from opensea_datapipeline_spark.sources.readers import load_table

    e = load_table(spark, sf_dir, "events")
    exact, approx = e.agg(
        F.countDistinct("user_id"), F.approx_count_distinct("user_id", 0.02)
    ).first()
    assert abs(approx - exact) <= max(1, 0.06 * exact), (exact, approx)


def test_scalar_function_helpers(spark):
    from opensea_datapipeline_spark.functions.datetime import (
        days_between,
        iso_weekday,
        year_month,
    )
    from opensea_datapipeline_spark.functions.text import (
        is_eth_address,
        normalize_whitespace,
        shorten_address,
    )

    df = spark.createDataFrame(
        [("2024-01-01 12:00:00", "2024-01-08 00:00:00",
          "0x" + "a" * 40, "  Hello   World  ")],
        "a string, b string, addr string, txt string",
    ).select(
        F.to_timestamp("a").alias("a"), F.to_timestamp("b").alias("b"),
        "addr", "txt",
    )
    row = df.select(
        iso_weekday("a").alias("wd"),          # 2024-01-01 is a Monday
        year_month("a").alias("ym"),
        days_between("b", "a").alias("days"),
        is_eth_address("addr").alias("ok"),
        is_eth_address(F.lit("0xZZ")).alias("bad"),
        shorten_address("addr").alias("short"),
        normalize_whitespace("txt").alias("norm"),
    ).first()
    assert row.wd == 1
    assert row.ym == "2024-01"
    assert row.days == pytest.approx(6.5)
    assert row.ok is True and row.bad is False
    assert row.short == "0xaaaa...aaaa"
    assert row.norm == "hello world"


def test_streaming_parquet_sink_checkpointed(spark, sf_dir, tmp_path):
    # Append-mode file sink: finalized daily windows land in parquet
    # exactly once; a restart with the same checkpoint adds nothing.
    from opensea_datapipeline_spark.sources.readers import load_table
    from opensea_datapipeline_spark.streaming.agg import run_streaming_to_parquet

    events = load_table(spark, sf_dir, "events").select("ts", "user_id", "value")
    src = str(tmp_path / "src")
    events.withColumn(
        "half",
        (F.col("ts") > F.lit("2024-01-15 00:00:00").cast("timestamp")).cast("int"),
    ).repartitionByRange(2, "half").write.parquet(src)

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    first = run_streaming_to_parquet(spark, src, out, ckpt)
    n_first = first.count()
    assert n_first > 0
    batch_days = events.select(F.to_date("ts")).distinct().count()
    assert n_first <= batch_days
    # emitted rows must agree with the batch aggregate for those days
    batch = {
        r.event_date: r.total_transactions
        for r in events.groupBy(
            F.date_format("ts", "yyyy-MM-dd").alias("event_date")
        ).agg(F.count(F.lit(1)).alias("total_transactions")).collect()
    }
    for r in first.collect():
        assert batch[r.event_date] == r.total_transactions, r.event_date
    # idempotent restart: same checkpoint, no new input -> no new rows
    again = run_streaming_to_parquet(spark, src, out, ckpt)
    assert again.count() == n_first


def test_redact_pii_literals(spark):
    from opensea_datapipeline_spark.operators.text import redact_pii

    df = spark.createDataFrame(
        [(1, "mail a@b.com or call +1 (555) 123-4567 from 10.0.0.1 ok")],
        "doc_id long, text string",
    )
    r = redact_pii(df).first()
    assert r.n_email == 1 and r.n_phone == 1 and r.n_ipv4 == 1
    assert "<EMAIL>" in r.redacted_text and "<PHONE>" in r.redacted_text
    assert "<IPV4>" in r.redacted_text
    assert "a@b.com" not in r.redacted_text


def test_repetition_flags_boilerplate(spark):
    from opensea_datapipeline_spark.operators.text import repetition_scores

    df = spark.createDataFrame(
        [(1, "buy now " * 30), (2, "the quick brown fox jumps over a lazy dog")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r.top_gram_ratio for r in repetition_scores(df).collect()}
    assert rows[1] > 0.3      # "buy now buy" trigram dominates
    assert rows[2] < 0.2      # natural text has no dominant trigram


def test_knn_normalized_fast_path_same_ranks(spark, sf_dir):
    # assume_normalized=True (dot == cosine on unit vectors) must produce
    # the same neighbor ranking as the full cosine path.
    from opensea_datapipeline_spark.functions.vector import l2_normalize
    from opensea_datapipeline_spark.operators.similarity import knn_topk_exact
    from opensea_datapipeline_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 60)
    unit = emb.select("vec_id", l2_normalize("embedding").alias("embedding"))
    full = {(r.query_id, r.rank): r.neighbor_id
            for r in knn_topk_exact(emb, k=5).collect()}
    fast = {(r.query_id, r.rank): r.neighbor_id
            for r in knn_topk_exact(unit, k=5, assume_normalized=True).collect()}
    assert full == fast


def test_clean_nft_events_reference_semantics(spark):
    # The reference-schema cleaner: every semantic corner from
    # SURVEY.md §7.3 on literal rows.
    from opensea_datapipeline_spark.operators.clean import clean_nft_events
    from opensea_datapipeline_spark.schemas import NULL_ADDRESS

    rows = [
        # mint: from NULL_ADDRESS, tz-offset timestamp, price from total/qty
        ("ethereum", "c1", "1", "Mint", "2024-01-01T10:00:00+02:00", 1704100000,
         "0xAA", "", "0xBB", NULL_ADDRESS.upper(), "0xCC", 2, 10.0, None,
         None, "0xCon", "42", None),
        # listing variant → canonical 'list'; bad time string → epoch fallback
        ("ethereum", "c1", "2", "listing", "garbage", 1704100500,
         "0xDD", "0xEE", "0xFF", "0x11", "0x22", 1, 5.0, "5.0",
         "ETH", "0xCon", "43", None),
        # duplicate of row 2 key (same tx/token/type/ts) → deduped
        ("ethereum", "c1", "2", "listing", "garbage", 1704100500,
         "0xDD", "0xEE", "0xFF", "0x11", "0x22", 1, 7.0, "7.0",
         "ETH", "0xCon", "43", None),
        # negative price → dropped
        ("ethereum", "c1", "3", "sale", None, 1704100600,
         "0x99", "0x1", "0x2", "0x3", "0x4", 1, -1.0, None,
         "ETH", "0xCon", "44", None),
    ]
    cols = ("chain collection identifier event_type time_utc timestamp tx "
            "seller buyer from_address to_address quantity price_total "
            "price_each currency_symbol contract token_id rarity_rank").split()
    df = spark.createDataFrame(
        [dict(zip(cols, r)) for r in rows],
        "chain string, collection string, identifier string, event_type string, "
        "time_utc string, timestamp long, tx string, seller string, buyer string, "
        "from_address string, to_address string, quantity long, price_total double, "
        "price_each string, currency_symbol string, contract string, "
        "token_id string, rarity_rank long",
    )
    out = {r.event_id: r for r in clean_nft_events(df).collect()}
    assert set(out) == {"0xaa_42", "0xdd_43"}  # dedup kept one, negative dropped
    mint = out["0xaa_42"]
    assert mint.is_mint is True
    assert mint.event_type == "mint"
    assert mint.price_each_eth == 5.0            # 10.0 / qty 2
    # tz-offset string parsed: 10:00+02:00 == 08:00 UTC
    assert mint.unix_timestamp == 1704096000
    listing = out["0xdd_43"]
    assert listing.event_type == "list"          # canonicalized variant
    assert listing.unix_timestamp == 1704100500  # epoch fallback used
    assert listing.price_total_eth == 5.0        # keep-first → first row wins


def test_kmeans_recovers_separated_blobs(spark):
    # F6 quality check (VERDICT r1 #6): on k well-separated blobs the
    # fixed-seed spark.ml KMeans must recover the generating partition
    # exactly (purity 1.0) and its inertia must be the within-blob scatter,
    # far below the between-blob scale — asserting cluster QUALITY, not
    # just row count (reference config: k, seed=42,
    # prepare_visual_market_data.py:297-304).
    from opensea_datapipeline_spark.operators.similarity import kmeans_clusters

    k, per_blob, sep, jit = 4, 25, 100.0, 0.5
    rows = []
    for b in range(k):
        for i in range(per_blob):
            # deterministic jitter in [-jit, jit], blob centers sep apart
            d1 = ((i * 7919) % 101 / 100.0 - 0.5) * 2 * jit
            d2 = ((i * 104729) % 103 / 102.0 - 0.5) * 2 * jit
            rows.append((b * per_blob + i, b, [b * sep + d1, (b % 2) * sep + d2]))
    df = spark.createDataFrame(rows, "vec_id long, blob int, embedding array<double>")

    out = kmeans_clusters(df, "vec_id", "embedding", k=k, seed=42)
    joined = out.join(df, "vec_id").select("blob", "cluster_id").collect()

    by_blob = {}
    for r in joined:
        by_blob.setdefault(r.blob, set()).add(r.cluster_id)
    # purity 1.0: each blob lands in exactly one cluster, all distinct
    assert all(len(c) == 1 for c in by_blob.values()), by_blob
    assert len({next(iter(c)) for c in by_blob.values()}) == k

    # inertia bound: per-point squared distance to its center is at most
    # the blob's own diameter^2, nowhere near the blob separation
    centers = {}
    pts = {r[0]: (r[2], None) for r in rows}
    assign = {r2.vec_id: r2.cluster_id for r2 in out.collect()}
    sums = {}
    for r in rows:
        c = assign[r[0]]
        s = sums.setdefault(c, [0.0, 0.0, 0])
        s[0] += r[2][0]; s[1] += r[2][1]; s[2] += 1
    for c, (sx, sy, n) in sums.items():
        centers[c] = (sx / n, sy / n)
    inertia = sum(
        (r[2][0] - centers[assign[r[0]]][0]) ** 2
        + (r[2][1] - centers[assign[r[0]]][1]) ** 2
        for r in rows
    )
    n_pts = k * per_blob
    assert inertia <= n_pts * (2 * jit) ** 2, inertia  # within-blob scatter only


def test_incremental_gold_foreachbatch_matches_batch(spark, sf_dir, tmp_path):
    # Streaming -> incremental loop (VERDICT r1 #10): foreachBatch merges
    # each micro-batch's combinable summary into a versioned gold table.
    # Over the full backlog the gold table must equal the one-shot batch
    # aggregate exactly (monoid columns) / within HLL error (distincts),
    # and a restart on the same checkpoint must change nothing.
    from opensea_datapipeline_spark.sources.readers import load_table
    from opensea_datapipeline_spark.streaming.gold import (
        run_incremental_gold_daily,
    )

    events = load_table(spark, sf_dir, "events").select("ts", "user_id", "value")
    src = str(tmp_path / "src")
    events.repartition(4).write.parquet(src)

    gold_dir, ckpt = str(tmp_path / "gold"), str(tmp_path / "ckpt")
    gold = run_incremental_gold_daily(spark, src, gold_dir, ckpt,
                                      max_files_per_trigger=1)
    got = {r.event_date: r for r in gold.collect()}

    import os
    versions = [d for d in os.listdir(gold_dir) if d.startswith("batch_")]
    assert len(versions) >= 2, "expected multiple micro-batch merges"

    batch = {
        r.event_date: r
        for r in events.groupBy(
            F.date_format("ts", "yyyy-MM-dd").alias("event_date")
        )
        .agg(
            F.count(F.lit(1)).alias("total_transactions"),
            F.sum("value").alias("volume_total"),
            F.min("value").alias("value_min"),
            F.max("value").alias("value_max"),
            F.countDistinct("user_id").alias("exact_users"),
        )
        .collect()
    }
    assert got.keys() == batch.keys()
    for d, b in batch.items():
        g = got[d]
        assert g.total_transactions == b.total_transactions, d
        assert abs(g.volume_total - b.volume_total) < 1e-6 * max(
            1.0, abs(b.volume_total)
        ), d
        assert (g.value_min, g.value_max) == (b.value_min, b.value_max), d
        # HLL ~2% standard error at default lgK; allow 5%
        assert abs(g.approx_unique_users - b.exact_users) <= max(
            2, 0.05 * b.exact_users
        ), d

    # restart with the same checkpoint and no new data: no-op
    before = sorted(versions)
    again = run_incremental_gold_daily(spark, src, gold_dir, ckpt,
                                       max_files_per_trigger=1)
    assert sorted(
        d for d in os.listdir(gold_dir) if d.startswith("batch_")
    ) == before
    assert {r.event_date: r.total_transactions for r in again.collect()} == {
        d: b.total_transactions for d, b in batch.items()
    }


def test_connected_components_chain_and_singletons(spark, monkeypatch):
    from opensea_datapipeline_spark.operators import dedup
    from opensea_datapipeline_spark.operators.dedup import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(10)], "id long")
    # chain 0-1-2-3, triangle 5-6-7 (+ redundant edge), 4/8/9 singletons
    edges = spark.createDataFrame(
        [(1, 0), (1, 2), (3, 2), (5, 6), (6, 7), (5, 7)],
        "id_a long, id_b long",
    )
    got = {r.id: r.group_id for r in
           connected_components(nodes, edges).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 5, 6: 5, 7: 5, 8: 8, 9: 9}

    # a 26-node chain outlasts the min-label prefix on the distributed
    # path (driver gate off): contract + star must still label it whole
    monkeypatch.setattr(dedup, "DRIVER_EDGE_GATE", 0)
    n2 = spark.createDataFrame([(i,) for i in range(26)], "id long")
    e2 = spark.createDataFrame([(i, i + 1) for i in range(25)],
                               "id_a long, id_b long")
    got2 = {r.id: r.group_id for r in
            connected_components(n2, e2).collect()}
    assert got2 == {i: 0 for i in range(26)}


def test_streaming_dedup_matches_batch_across_batches(spark, sf_dir, tmp_path):
    # Stateful streaming dedup: duplicates split across micro-batches must
    # be suppressed by state, landing on exactly the batch distinct-key
    # answer (one surviving row per key).
    from opensea_datapipeline_spark.sources.readers import load_table
    from opensea_datapipeline_spark.streaming.dedup import run_streaming_dedup

    events = load_table(spark, sf_dir, "events").select(
        "ts", "user_id", "event_type", "value"
    )
    src = str(tmp_path / "src")
    # 4 files, hash-scattered: a key's duplicates land in different files
    events.repartition(4).write.parquet(src)

    keys = ["user_id", "event_type"]
    out = run_streaming_dedup(spark, src, keys, "sdedup_t1")
    n_keys = events.select(*keys).distinct().count()
    assert out.count() == n_keys
    # every key appears exactly once
    assert out.groupBy("dedup_key").count().filter("count > 1").count() == 0
    # and the surviving key set is the batch key set
    got = {(r.user_id, r.event_type) for r in out.select(*keys).collect()}
    want = {(r.user_id, r.event_type)
            for r in events.select(*keys).distinct().collect()}
    assert got == want


def test_media_knn_pipeline_deterministic_structure(spark, sf_dir):
    # binary -> featurizer -> exact ANN must be run-to-run deterministic
    # (the rows-only driver check sees row counts only; this pins values).
    from opensea_datapipeline_spark.queries import QUERIES

    a = sorted(map(tuple, QUERIES["media_knn_pipeline"](spark, sf_dir).collect()))
    b = sorted(map(tuple, QUERIES["media_knn_pipeline"](spark, sf_dir).collect()))
    assert a == b
    per_q = {}
    for qid, nid, rank in a:
        assert qid != nid
        per_q.setdefault(qid, []).append(rank)
    assert all(sorted(v) == [1, 2, 3] for v in per_q.values())


def test_custom_stateful_running_totals_match_batch(spark, sf_dir, tmp_path):
    # transformWithStateInPandas custom state machine: running per-user
    # totals across micro-batches must end exactly at the batch aggregate
    # (micro-unit long state makes the sum independent of batch slicing).
    from opensea_datapipeline_spark.sources.readers import load_table
    from opensea_datapipeline_spark.streaming.custom_state import (
        run_running_user_stats,
    )

    events = load_table(spark, sf_dir, "events").select("ts", "user_id", "value")
    src = str(tmp_path / "src")
    events.repartition(3).write.parquet(src)

    out = run_running_user_stats(spark, src, str(tmp_path / "ckpt"),
                                 "tws_user_stats")
    got = {r.user_id: (r.n_events, round(r.total_value, 6)) for r in out.collect()}
    want = {
        r.user_id: (r.n, round(r.t, 6))
        for r in events.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value"), 6)).alias("t"),
        )
        .collect()
    }
    assert got.keys() == want.keys()
    for u, (n, t) in want.items():
        gn, gt = got[u]
        assert gn == n, u
        assert abs(gt - t) < 1e-6, (u, gt, t)


def test_edit_distance_pairs_all_edit_kinds(spark):
    # One case per edit kind (substitution / deletion / insertion), an
    # exact duplicate at distance 0, and an isolate — the deletion-variant
    # blocking must surface all of them and nothing else.
    from opensea_datapipeline_spark.operators import dedup as dd

    df = spark.createDataFrame(
        [(1, "kitten"), (2, "sitten"), (3, "kittn"), (4, "kittens"),
         (5, "mitten"), (6, "banana"), (7, "kitten")],
        "id long, name string",
    )
    got = {
        (r.id_a, r.id_b, r.edit_dist)
        for r in dd.edit_distance_pairs(df, "name", "id").collect()
    }
    assert got == {
        (1, 2, 1), (1, 3, 1), (1, 4, 1), (1, 5, 1), (1, 7, 0),
        (2, 5, 1), (2, 7, 1), (3, 7, 1), (4, 7, 1), (5, 7, 1),
    }


def test_edit_distance_pairs_rejects_deeper_distance(spark):
    import pytest

    from opensea_datapipeline_spark.operators import dedup as dd

    df = spark.createDataFrame([(1, "a")], "id long, name string")
    with pytest.raises(ValueError, match="max_dist=1"):
        dd.edit_distance_pairs(df, "name", "id", max_dist=2)


def test_edit_distance_pairs_empty_and_null_strings(spark):
    # Edge inputs: empty<->1-char at distance 1 (share the "" deletion
    # variant), two empties at distance 0, null rows silently dropped.
    from opensea_datapipeline_spark.operators import dedup as dd

    df = spark.createDataFrame(
        [(1, ""), (2, "a"), (3, ""), (4, None)], "id long, name string"
    )
    got = {
        (r.id_a, r.id_b, r.edit_dist)
        for r in dd.edit_distance_pairs(df, "name", "id").collect()
    }
    assert got == {(1, 2, 1), (1, 3, 0), (2, 3, 1)}


def test_streaming_funnel_stages_cross_batch(spark, tmp_path):
    # A funnel completing ACROSS micro-batches: view in batch 1, click in
    # batch 2 (inside 12h), purchase in batch 3 (inside 48h) -> stage 3;
    # a user whose click lands OUTSIDE 12h stalls at stage 1; a click
    # with no prior view never advances past stage 0.
    import datetime as dt

    from opensea_datapipeline_spark.streaming.funnel import run_streaming_funnel

    t0 = dt.datetime(2024, 1, 1)
    h = dt.timedelta(hours=1)
    batches = [
        [(t0, 1, "view"), (t0, 2, "view"), (t0, 3, "click")],
        [(t0 + 2 * h, 1, "click"), (t0 + 20 * h, 2, "click")],
        [(t0 + 30 * h, 1, "purchase"), (t0 + 30 * h, 3, "purchase")],
    ]
    src = str(tmp_path / "src")
    for rows in batches:
        spark.createDataFrame(
            rows, "ts timestamp, user_id long, event_type string"
        ).coalesce(1).write.mode("append").parquet(src)
    out = run_streaming_funnel(
        spark, src, str(tmp_path / "ckpt"), table_name="t_funnel_cb"
    )
    got = {r.user_id: r.stage for r in out.collect()}
    assert got == {1: 3, 2: 1, 3: 0}


# ---------------------------------------------------------------------------
# heavy_hitters (bounded-state Misra-Gries composition) + dup_ngram_fraction
# ---------------------------------------------------------------------------


def test_heavy_hitters_planted_skew_exact(spark):
    from opensea_datapipeline_spark.operators.aggregates import heavy_hitters

    # 2 hot keys (30% / 20%) over a 5,000-distinct uniform tail. k=4
    # forces cap=32 << 5,000 distinct per partition, so the Misra-Gries
    # batch decrement MUST fire — and both hot keys (freq > N/4 is false
    # for the 20% one... freq > N/5 needed, use k=8) must survive it.
    rows = [(0,)] * 3000 + [(1,)] * 2000 + [(i,) for i in range(2, 5002)]
    df = spark.createDataFrame(rows, "key long").repartition(4)
    got = heavy_hitters(df, "key", k=8, top=2).collect()
    assert [(r.key, r.n_rows) for r in got] == [(0, 3000), (1, 2000)]


def test_heavy_hitters_candidate_pass_bounds_state(spark):
    from opensea_datapipeline_spark.operators.aggregates import heavy_hitters

    # All-uniform input with k sized BELOW the uniform frequency: the
    # candidate pass may emit everything (uniform = everyone clears the
    # local bar), but the result must still equal the exact top-k with
    # the (count desc, key asc) tiebreak.
    rows = [(i % 50,) for i in range(5000)]
    df = spark.createDataFrame(rows, "key long").repartition(8)
    got = heavy_hitters(df, "key", k=100, top=5).collect()
    assert [(r.key, r.n_rows) for r in got] == [(i, 100) for i in range(5)]


def test_heavy_hitters_null_and_empty_partitions(spark):
    from opensea_datapipeline_spark.operators.aggregates import heavy_hitters

    rows = [(None,)] * 10 + [(7,)] * 5 + [(8,)] * 3
    df = spark.createDataFrame(rows, "key long").repartition(16)
    got = heavy_hitters(df, "key", k=4, top=2).collect()
    # nulls are not candidates; empty partitions yield nothing
    assert [(r.key, r.n_rows) for r in got] == [(7, 5), (8, 3)]


def test_heavy_hitters_low_skew_exact_fallback(spark):
    from opensea_datapipeline_spark.operators.aggregates import heavy_hitters

    # ADVICE r8 (high): flat distribution where NO key clears total/k —
    # the old frequency-bar filter emptied the candidate set and returned
    # 0 rows. The certified design must return the exact top-5 anyway
    # (either via exhaustive retained entries or the exact fallback).
    rows = [(i,) for i in range(4000) for _ in range(1 + (i < 5))]
    df = spark.createDataFrame(rows, "key long").repartition(8)
    got = heavy_hitters(df, "key", k=250, top=5).collect()
    assert [(r.key, r.n_rows) for r in got] == [(i, 2) for i in range(5)]


def test_heavy_hitters_overflowed_uncertifiable_falls_back(spark):
    from opensea_datapipeline_spark.operators.aggregates import heavy_hitters

    # k small enough that cap=16 << 3,000 distinct per partition forces
    # Misra-Gries decrements (B > 0) on a flat input where no verified
    # count can clear B — the certification must reject the sketch and
    # the exact-groupBy fallback must still produce the true top-3.
    rows = [(i,) for i in range(3000)] + [(0,), (1,)]
    df = spark.createDataFrame(rows, "key long").repartition(4)
    got = heavy_hitters(df, "key", k=2, top=3).collect()
    assert [(r.key, r.n_rows) for r in got] == [(0, 2), (1, 2), (2, 1)]


def test_dup_ngram_fraction_planted_copy(spark):
    from opensea_datapipeline_spark.operators.text import dup_ngram_fraction

    words = lambda s: " ".join(s)  # noqa: E731
    unique_a = words(f"a{i}" for i in range(12))
    unique_b = words(f"b{i}" for i in range(12))
    docs = spark.createDataFrame(
        [
            (1, unique_a),
            (2, unique_a),        # exact copy of 1 -> dup_frac 1.0
            (3, unique_b),        # fully unique -> dup_frac 0.0
            (4, "too short"),     # < n tokens -> dropped
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dup_ngram_fraction(docs, n=8).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1].dup_frac == 1.0 and out[2].dup_frac == 1.0
    assert out[3].dup_frac == 0.0
    assert out[1].n_grams == 5  # 12 tokens -> 5 distinct 8-grams


def test_session_window_closed_boundary(spark):
    # Native session_window merges on a CLOSED boundary: events exactly
    # one gap apart share a session (measured — this pins the oracle's
    # `> 1800` island break, same convention as manual sessionization),
    # while one microsecond past the gap splits.
    import datetime as dt

    from pyspark.sql import functions as F

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def n_sessions(delta_us):
        df = spark.createDataFrame(
            [(1, t0), (1, t0 + dt.timedelta(microseconds=delta_us))],
            "user_id long, ts timestamp",
        )
        return (
            df.groupBy("user_id", F.session_window("ts", "30 minutes"))
            .count()
            .count()
        )

    assert n_sessions(1800 * 1_000_000) == 1
    assert n_sessions(1800 * 1_000_000 + 1) == 2


def test_chisq_independence_known_2x2(spark):
    # Hand-checked 2x2: rows (10, 20 / 20, 10). N=60, all expected=15,
    # chi2 = 4 * (5^2/15) = 6.666667, dof = 1.
    from opensea_datapipeline_spark.operators.mlstats import (
        chisq_independence,
    )

    rows = (
        [("x", "p")] * 10 + [("x", "q")] * 20
        + [("y", "p")] * 20 + [("y", "q")] * 10
    )
    df = spark.createDataFrame(rows, "a string, b string")
    got = chisq_independence(df, "a", "b").collect()[0]
    assert got.dof == 1 and got.n_obs == 60
    assert abs(got.chi2 - 6.666667) < 1e-6


def test_ewma_matches_pandas_adjust_true(spark, sf_dir):
    # The ratio-of-running-sums closed form must equal pandas
    # ewm(alpha=0.3, adjust=True) on the same per-type daily means —
    # including across a gap day (decay is in DAYS via datediff, so a
    # missing day still decays; pandas gets the same via reindexing).
    import pandas as pd

    from opensea_datapipeline_spark.queries import QUERIES

    out = QUERIES["ewma_daily"](spark, sf_dir).toPandas()
    for etype, grp in out.groupby("event_type"):
        g = grp.sort_values("day").set_index(pd.to_datetime(grp["day"].sort_values().values))
        # reindex to a full daily range so day-gaps decay in pandas too
        full = g["mean_value"].reindex(
            pd.date_range(g.index.min(), g.index.max(), freq="D")
        )
        want = full.ewm(alpha=0.3, adjust=True, ignore_na=True).mean()
        got = g["ewma"]
        for day, v in got.items():
            assert abs(v - want.loc[day]) < 1e-5, (etype, day, v, want.loc[day])


def test_mann_whitney_tie_handling(spark, tmp_path, monkeypatch):
    # Hand-computed with ties: A=[1,2,2], B=[2,3,4]. The three 2s share
    # average rank (2+3+4)/3 = 3, so R1 = 1+3+3 = 7 and U1 = 7-6 = 1.
    import datetime as dt

    from opensea_datapipeline_spark.queries import QUERIES

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0, 1, "purchase", 1.0, None),
        (2, t0, 1, "purchase", 2.0, None),
        (3, t0, 1, "purchase", 2.0, None),
        (4, t0, 1, "click", 2.0, None),
        (5, t0, 1, "click", 3.0, None),
        (6, t0, 1, "click", 4.0, None),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    d = tmp_path / "mini"
    df.write.parquet(str(d / "events.parquet"))
    got = QUERIES["mann_whitney_value"](spark, str(d)).collect()[0]
    assert (got.n1, got.n2) == (3, 3)
    assert got.u1 == 1.0


def test_ewma_long_horizon_no_overflow(spark, tmp_path):
    # VERDICT r8 #2: the unsegmented r^-t closed form overflows double at
    # t ~ 2,046 days (0.7^-2046 = Inf -> Inf/Inf = NaN). The segmented
    # form must match pandas ewm(alpha=0.3, adjust=True) to 6dp over a
    # 10-year daily series with day gaps, with zero NaN/Inf.
    import datetime as dt
    import math

    import pandas as pd

    from opensea_datapipeline_spark.queries import QUERIES

    t0 = dt.datetime(2015, 1, 1)
    rows = []
    eid = 0
    for t in range(3650):
        if t % 97 == 13:
            continue  # day gaps: decay must still advance in days
        eid += 1
        # deterministic pseudo-random value, no Date.now/random needed
        v = 50.0 + 40.0 * math.sin(t * 0.7) + (t * 7919 % 101) / 10.0
        rows.append((eid, t0 + dt.timedelta(days=t), 1, "purchase", v, None))
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    d = tmp_path / "long"
    df.write.parquet(str(d / "events.parquet"))
    out = (
        QUERIES["ewma_daily"](spark, str(d))
        .toPandas()
        .sort_values("day")
        .reset_index(drop=True)
    )
    assert len(out) == len(rows)
    assert not out["ewma"].isna().any()
    assert all(abs(v) != math.inf for v in out["ewma"])
    s = out.set_index(pd.to_datetime(out["day"]))["mean_value"]
    full = s.reindex(pd.date_range(s.index.min(), s.index.max(), freq="D"))
    # ignore_na=False: weights use ABSOLUTE positions, so a reindexed
    # NaN gap-day still decays — the day-based r^(t-ti) semantics
    want = full.ewm(alpha=0.3, adjust=True, ignore_na=False).mean()
    for day, got in out.set_index(pd.to_datetime(out["day"]))["ewma"].items():
        assert abs(got - want.loc[day]) < 1e-6, (day, got, want.loc[day])


def test_hashed_gram_variants_match(spark, sf_dir):
    # The xxhash64-keyed scale variants must produce IDENTICAL rounded
    # results to the string-keyed graded forms on a collision-free
    # corpus (sf0.001 vocab is ~thousands of words; 64-bit collision
    # odds ~1e-12): counts, smoothing, and averages are invariant under
    # any injective recoding of the gram/word key. This is the
    # structural grade for the hashed paths (VERDICT r8 #6 / r9 #4);
    # the shuffle-byte measurement lives in SCALING.md §r10.
    from opensea_datapipeline_spark.operators.text import (
        bigram_logprob_scores,
        dup_ngram_fraction,
    )
    from opensea_datapipeline_spark.sources.readers import load_table

    d = load_table(spark, sf_dir, "documents")

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    assert rows(dup_ngram_fraction(d, n=8, hashed=True)) == rows(
        dup_ngram_fraction(d, n=8, hashed=False)
    )
    assert rows(bigram_logprob_scores(d, hashed=True)) == rows(
        bigram_logprob_scores(d, hashed=False)
    )


def test_nb_classifier_separates_planted_vocab(spark):
    # On a separable corpus (disjoint class vocabularies) the in-plan
    # naive-Bayes classifier must recover every label with the correct
    # score sign — the structural grade that the log-odds model and the
    # NB decision rule are wired right (the registered query's corpus
    # is deliberately non-separable, so its grade only pins exactness).
    from opensea_datapipeline_spark.operators.text import (
        nb_token_classifier_scores,
    )

    rows = [
        (i, "good clean prose text flows well here", True) for i in range(8)
    ] + [
        (i + 8, "spam junk noise garbage spam junk noise", False)
        for i in range(6)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, y boolean")
    out = {r.doc_id: (r.pred, r.score) for r in
           nb_token_classifier_scores(df, "y").collect()}
    assert len(out) == 14
    for i in range(8):
        assert out[i][0] is True and out[i][1] > 0, out[i]
    for i in range(8, 14):
        assert out[i][0] is False and out[i][1] < 0, out[i]


def test_wav_parser_chunk_walk_and_rejects():
    # Pure-Python RIFF parse: LIST chunk between fmt and data must be
    # walked over (word-aligned), non-PCM and malformed payloads
    # rejected, odd-sized chunks padded.
    import struct

    from opensea_datapipeline_spark.operators.multimodal import (
        parse_wav_header,
    )

    def wav(ch=2, rate=16000, bits=16, n=101, chunks=b"", fmt_code=1):
        ba = ch * bits // 8
        fmt = struct.pack("<HHIIHH", fmt_code, ch, rate, rate * ba, ba, bits)
        body = b"WAVE" + b"fmt \x10\x00\x00\x00" + fmt + chunks
        body += b"data" + struct.pack("<I", n * ba)
        return b"RIFF" + struct.pack("<I", len(body)) + body

    assert parse_wav_header(wav()) == (2, 16000, 16, 101)
    lst = b"LIST\x04\x00\x00\x00INFO"
    assert parse_wav_header(wav(chunks=lst)) == (2, 16000, 16, 101)
    odd = b"junk\x03\x00\x00\x00abc\x00"  # odd size -> pad byte
    assert parse_wav_header(wav(chunks=odd)) == (2, 16000, 16, 101)
    assert parse_wav_header(wav(fmt_code=3)) is None  # IEEE-float, not PCM
    assert parse_wav_header(b"RIFFxxxxWAVE") is None  # no chunks
    assert parse_wav_header(b"OggS" + b"\x00" * 40) is None
    assert parse_wav_header(None) is None
    assert parse_wav_header(b"") is None


def test_audio_metadata_exact_halfway_duration(spark):
    # The duration seam that forced integer microseconds: odd sample
    # counts at 16 kHz are EXACT 6-decimal halfway points (n*0.0000625),
    # where a Python round() (banker's) and SQL round (half-up) diverge
    # structurally. duration_us must be the exact floor for both parity
    # and the planted case here: doc_id=101 -> rate 16000, n=201,
    # 201/16000 s = 12562.5 us -> floor 12562.
    from opensea_datapipeline_spark.operators.multimodal import (
        decode_audio,
        synthesize_audio_payloads,
    )

    df = spark.createDataFrame([(101,)], "doc_id long")
    out = decode_audio(
        synthesize_audio_payloads(df, "doc_id"), "media", "asset_id"
    ).collect()[0]
    assert (out.channels, out.sample_rate, out.bits_per_sample) == (2, 16000, 16)
    assert out.n_samples == 201
    assert out.duration_us == 12562


def test_mp4_parser_box_walk_and_rejects():
    # Pure-Python MP4 box walk: free/udta boxes skipped at both nesting
    # levels, width/height decoded from 16.16 fixed point, v1 boxes
    # refused (None, never a silent 64-bit misparse), malformed sizes
    # stop the walk.
    import struct

    from opensea_datapipeline_spark.operators.multimodal import (
        parse_mp4_header,
    )

    def box(btype, payload):
        return struct.pack(">I", len(payload) + 8) + btype + payload

    def mvhd(tsc=90000, dur=4500, version=0):
        return box(
            b"mvhd",
            bytes([version, 0, 0, 0]) + b"\x00" * 8
            + struct.pack(">II", tsc, dur) + b"\x00" * 80,
        )

    def tkhd(w=640, h=480, version=0):
        return box(
            b"tkhd",
            bytes([version, 0, 0, 7]) + b"\x00" * 8
            + struct.pack(">I", 1) + b"\x00" * 4 + struct.pack(">I", 4500)
            + b"\x00" * 52 + struct.pack(">II", w << 16, h << 16),
        )

    ftyp = box(b"ftyp", b"isom\x00\x00\x02\x00mp41")
    plain = ftyp + box(b"moov", mvhd() + box(b"trak", tkhd()))
    assert parse_mp4_header(plain) == (90000, 4500, 640, 480)
    cluttered = (
        ftyp
        + box(b"free", b"\x00" * 4)
        + box(b"moov", mvhd() + box(b"udta", b"\x00" * 4) + box(b"trak", tkhd()))
    )
    assert parse_mp4_header(cluttered) == (90000, 4500, 640, 480)
    v1 = ftyp + box(b"moov", mvhd(version=1) + box(b"trak", tkhd()))
    assert parse_mp4_header(v1) is None
    assert parse_mp4_header(ftyp) is None           # no moov
    assert parse_mp4_header(b"RIFF\x00\x00\x00\x00WAVEdataxxxx") is None
    assert parse_mp4_header(None) is None
    truncated = plain[: len(plain) - 30]  # moov size overruns buffer
    assert parse_mp4_header(truncated) is None


# ---------------------------------------------------------------------------
# streaming heavy hitters (Misra-Gries state table, streaming/topk.py)
# ---------------------------------------------------------------------------


def test_streaming_topk_bounded_state_and_mg_bounds(spark, tmp_path):
    # cap << distinct keys: every committed state version must hold
    # <= cap rows (bounded state is the operator's contract), eps > 0,
    # the planted hot keys must survive every merge, and the classic
    # Misra-Gries bounds must hold: stored <= true <= stored + eps for
    # retained keys, true <= eps for evicted ones.
    import glob as _g

    from pyspark.sql import functions as F

    from opensea_datapipeline_spark.streaming.topk import run_streaming_topk

    rows = (
        [(0, float(i)) for i in range(4000)]       # hot key 0: 4000 rows
        + [(1, float(i)) for i in range(2500)]     # hot key 1: 2500 rows
        + [(2 + i % 3000, 1.0) for i in range(6000)]  # 3000 cold keys, 2 each
    )
    src = str(tmp_path / "src")
    (
        spark.createDataFrame(rows, "user_id long, value double")
        .withColumn("ts", F.timestamp_seconds(F.lit(1700000000) + F.col("user_id")))
        .repartition(4)  # 4 files -> 4 micro-batches
        .write.mode("overwrite")
        .parquet(src)
    )
    state_dir = str(tmp_path / "state")
    out = run_streaming_topk(
        spark, src, state_dir, str(tmp_path / "ckpt"),
        key_col="user_id", cap=500,
    )
    rows_out = out.collect()
    eps = rows_out[0]["eps"]
    assert eps > 0  # the cap was actually exceeded
    stored = {r["key"]: r["cnt"] for r in rows_out}
    assert len(stored) <= 500
    for vdir in _g.glob(state_dir + "/batch_*"):
        assert spark.read.parquet(vdir).count() <= 500, vdir
    true = {0: 4000, 1: 2500}
    true.update({k: 2 for k in range(2, 3002)})
    for k, c in stored.items():
        assert c <= true[k] <= c + eps, (k, c, eps)
    for k, t in true.items():
        if k not in stored:
            assert t <= eps, (k, t, eps)
    # the certified-by-margin hitters are retained and ranked first
    top2 = sorted(stored, key=lambda k: -stored[k])[:2]
    assert top2 == [0, 1]


def test_streaming_topk_replayed_batch_is_noop(spark, tmp_path):
    # foreachBatch is at-least-once: re-running the whole stream with
    # the SAME state dir but a fresh checkpoint replays every batch id
    # from 0 — all must be skipped (last_batch_id guard), leaving the
    # state byte-identical instead of double-counted.
    from pyspark.sql import functions as F

    from opensea_datapipeline_spark.streaming.topk import run_streaming_topk

    rows = [(i % 50, 1.0) for i in range(5000)]
    src = str(tmp_path / "src")
    (
        spark.createDataFrame(rows, "user_id long, value double")
        .withColumn("ts", F.timestamp_seconds(F.lit(1700000000)))
        .repartition(3)
        .write.mode("overwrite")
        .parquet(src)
    )
    state_dir = str(tmp_path / "state")
    first = run_streaming_topk(
        spark, src, state_dir, str(tmp_path / "ckpt1"),
        key_col="user_id", cap=1000,
    ).collect()
    replay = run_streaming_topk(
        spark, src, state_dir, str(tmp_path / "ckpt2"),
        key_col="user_id", cap=1000,
    ).collect()
    assert sorted((r.key, r.cnt, r.eps) for r in first) == sorted(
        (r.key, r.cnt, r.eps) for r in replay
    )
    assert {r.cnt for r in first} == {100}  # 50 keys x 100 rows, exact


def test_streaming_topk_lost_meta_recovers_history(spark, tmp_path):
    # The gold-table r4 hole, closed here from day one: delete the meta
    # file between runs — the next run must recover base, batch id AND
    # eps from the newest committed version (each version dir carries an
    # _eps.json sidecar), not rebase on empty state. The replayed
    # batches are then skipped and the final state equals the
    # uninterrupted run's.
    import os

    from pyspark.sql import functions as F

    from opensea_datapipeline_spark.streaming.topk import run_streaming_topk

    rows = [(i % 40, 1.0) for i in range(4000)]
    src = str(tmp_path / "src")
    (
        spark.createDataFrame(rows, "user_id long, value double")
        .withColumn("ts", F.timestamp_seconds(F.lit(1700000000)))
        .repartition(3)
        .write.mode("overwrite")
        .parquet(src)
    )
    state_dir = str(tmp_path / "state")
    first = run_streaming_topk(
        spark, src, state_dir, str(tmp_path / "ckpt1"),
        key_col="user_id", cap=1000,
    ).collect()
    os.remove(os.path.join(state_dir, "_gold_meta.json"))
    replay = run_streaming_topk(
        spark, src, state_dir, str(tmp_path / "ckpt2"),
        key_col="user_id", cap=1000,
    ).collect()
    assert sorted((r.key, r.cnt, r.eps) for r in first) == sorted(
        (r.key, r.cnt, r.eps) for r in replay
    )
    assert {r.cnt for r in first} == {100}  # 40 keys x 100, not doubled


def test_streaming_topk_lost_meta_and_eps_sidecar_refuses(spark, tmp_path):
    # Meta lost AND the newest version's _eps.json gone: the error bound
    # cannot be rebuilt from the rows, so recovery must refuse loudly
    # rather than report the state as exact (eps=0).
    import os

    from pyspark.sql import functions as F

    from opensea_datapipeline_spark.streaming.topk import run_streaming_topk

    src = str(tmp_path / "src")
    (
        spark.createDataFrame(
            [(i % 40, 1.0) for i in range(400)], "user_id long, value double"
        )
        .withColumn("ts", F.timestamp_seconds(F.lit(1700000000)))
        .repartition(2)
        .write.mode("overwrite")
        .parquet(src)
    )
    state_dir, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")
    run_streaming_topk(spark, src, state_dir, ckpt, cap=1000).collect()
    newest = max(d for d in os.listdir(state_dir) if d.startswith("batch_"))
    os.remove(os.path.join(state_dir, "_gold_meta.json"))
    os.remove(os.path.join(state_dir, newest, "_eps.json"))
    with pytest.raises(ValueError, match="error bound.*unrecoverable"):
        run_streaming_topk(spark, src, state_dir, ckpt, cap=1000)


def test_nb_model_serving_with_oov(spark, tmp_path):
    # Persisted-model serving path: train on a labeled corpus, write the
    # model to parquet, score a HELD-OUT corpus containing tokens the
    # model never saw — class-vocab docs classify correctly, and an
    # all-OOV doc scores exactly n*oov + b (the add-1 unseen odds).
    from opensea_datapipeline_spark.operators.text import (
        score_nb_token_model,
        train_nb_token_model,
    )

    train = spark.createDataFrame(
        [(i, "good clean prose text", True) for i in range(6)]
        + [(i + 6, "spam junk noise garbage", False) for i in range(6)],
        "doc_id long, text string, y boolean",
    )
    model, params = train_nb_token_model(train, "y")
    path = str(tmp_path / "nb_model")
    model.write.mode("overwrite").parquet(path)
    persisted = spark.read.parquet(path)

    held_out = spark.createDataFrame(
        [
            (100, "clean prose flows"),        # good vocab + 1 OOV token
            (101, "junk noise everywhere"),    # spam vocab + 1 OOV token
            (102, "zz yy xx"),                 # all OOV
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in score_nb_token_model(held_out, persisted, params).collect()
    }
    assert out[100].pred is True and out[100].score > 0
    assert out[101].pred is False and out[101].score < 0
    # balanced classes: b = ln(1) = 0 and oov = ln(Nneg+V / Npos+V)
    assert abs(out[102].score - round(3 * params["oov"] + params["b"], 6)) < 1e-6
    # self-scoring through the split API still matches the one-shot form
    from opensea_datapipeline_spark.operators.text import (
        nb_token_classifier_scores,
    )

    one_shot = sorted(
        tuple(r) for r in nb_token_classifier_scores(train, "y").collect()
    )
    split = sorted(
        tuple(r) for r in score_nb_token_model(train, model, params).collect()
    )
    assert one_shot == split


def test_pagerank_matches_pure_python_power_iteration(spark):
    # Undirected path a-b-c plus isolated pair d-e: ranks must equal a
    # pure-Python synchronous power iteration exactly (round 6), total
    # mass must stay 1 (symmetrized graph has no dangling nodes), and
    # the path's center must outrank its leaves.
    from collections import defaultdict

    from opensea_datapipeline_spark.operators.graph import pagerank

    raw = [(0, 1), (1, 2), (3, 4)]
    edges = spark.createDataFrame(raw, "src long, dst long")
    got = {
        r.node: r.rank
        for r in pagerank(edges, iters=10, damping=0.85, undirected=True).collect()
    }

    adj = defaultdict(list)
    for a, b in raw:
        adj[a].append(b)
        adj[b].append(a)
    nodes = sorted(adj)
    n = len(nodes)
    rank = {v: 1.0 / n for v in nodes}
    base = (1.0 - 0.85) / float(n)
    for _ in range(10):
        nxt = {v: base for v in nodes}
        for u in nodes:
            share = rank[u] / len(adj[u])
            for v in adj[u]:
                nxt[v] += 0.85 * share
        rank = nxt
    want = {v: round(r, 6) for v, r in rank.items()}
    assert got == want
    assert abs(sum(got.values()) - 1.0) < 1e-5
    assert got[1] > got[0] == got[2]
    assert got[3] == got[4]


def test_duplicate_spans_hashed_matches(spark, sf_dir):
    # The xxhash64-gram scale variant must produce IDENTICAL spans to
    # the string-keyed graded form on a collision-free corpus — span
    # geometry is invariant under any injective recoding of grams
    # (same structural grade as test_hashed_gram_variants_match).
    from opensea_datapipeline_spark.operators.text import (
        duplicate_token_spans,
    )
    from opensea_datapipeline_spark.sources.readers import load_table

    d = load_table(spark, sf_dir, "documents")

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    assert rows(duplicate_token_spans(d, n=8, hashed=True)) == rows(
        duplicate_token_spans(d, n=8, hashed=False)
    )


def test_duplicate_spans_island_merge(spark):
    # Hand-built corpus with a KNOWN span layout: two docs share two
    # overlapping 3-grams (one merged 4-token span) plus one isolated
    # 3-gram far away (its own span); a third doc shares nothing and
    # must not appear. Verifies merge-on-overlap, merge-on-adjacency
    # boundaries, and the exact span arithmetic.
    from opensea_datapipeline_spark.operators.text import (
        duplicate_token_spans,
    )

    shared_head = "a b c d"          # grams "a b c" + "b c d" -> span len 4
    shared_tail = "x y z"            # isolated gram -> span len 3
    doc0 = f"{shared_head} e0 f0 g0 h0 {shared_tail}"
    doc1 = f"{shared_head} e1 f1 g1 h1 {shared_tail}"
    doc2 = "p q r s t u v w"
    df = spark.createDataFrame(
        [(0, doc0), (1, doc1), (2, doc2)], ["doc_id", "text"]
    )
    out = {
        r["doc_id"]: r
        for r in duplicate_token_spans(df, n=3).collect()
    }
    assert set(out) == {0, 1}
    for i in (0, 1):
        assert out[i]["n_spans"] == 2
        assert out[i]["dup_tokens"] == 7  # 4 + 3
        assert out[i]["longest_span"] == 4
        assert abs(out[i]["dup_token_frac"] - round(7 / 11, 6)) < 1e-9


def test_triangle_stats_known_graph(spark):
    # K4 plus one pendant: every clique corner sits in exactly 3
    # triangles; the corner carrying the pendant has degree 4 so its
    # coefficient halves; the pendant has no wedge at all. Exercises
    # orientation ties (equal degrees inside the clique) and the
    # left-join zero-fill.
    from opensea_datapipeline_spark.operators.graph import triangle_stats

    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (1, 5)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    out = {r["node"]: r for r in triangle_stats(df).collect()}
    assert {v: out[v]["n_triangles"] for v in sorted(out)} == {
        1: 3, 2: 3, 3: 3, 4: 3, 5: 0,
    }
    assert out[1]["degree"] == 4 and out[5]["degree"] == 1
    assert abs(out[1]["clustering_coeff"] - 0.5) < 1e-9
    assert out[2]["clustering_coeff"] == 1.0
    assert out[5]["clustering_coeff"] == 0.0


def test_span_cut_consistent_with_span_report(spark, sf_dir):
    # The cut corpus and the span report must agree doc-by-doc:
    # n_tokens_removed == the report's dup_tokens for every flagged doc,
    # zero removals (verbatim text) for every unflagged doc, and no doc
    # gained or lost. Cross-operator structural grade on real testdata.
    from opensea_datapipeline_spark.operators.text import (
        duplicate_token_spans,
        span_cut_corpus,
    )
    from opensea_datapipeline_spark.sources.readers import load_table

    d = load_table(spark, sf_dir, "documents")
    spans = {
        r["doc_id"]: r["dup_tokens"]
        for r in duplicate_token_spans(d, n=8).collect()
    }
    cut = {r["doc_id"]: r for r in span_cut_corpus(d, n=8).collect()}
    raw = {r["doc_id"]: r["text"] for r in d.select("doc_id", "text").collect()}
    assert set(cut) == {k for k, v in raw.items() if v is not None}
    for doc, row in cut.items():
        assert row["n_tokens_removed"] == spans.get(doc, 0), doc
        if doc not in spans:
            assert row["text"] == raw[doc], doc


def test_count_min_never_underestimates(spark):
    # CM's one-sided guarantee: est >= exact for EVERY probed key, and
    # exact equality on a sketch wide enough that the planted keys
    # cannot collide-saturate (200 distinct keys into 4x1024 counters).
    from opensea_datapipeline_spark.operators.sketches import (
        count_min_estimates,
    )
    from pyspark.sql import functions as F

    rows = [(f"k{i % 200}",) for i in range(4000)]
    df = spark.createDataFrame(rows, ["key"])
    exact = df.groupBy("key").agg(F.count(F.lit(1)).alias("n"))
    est = count_min_estimates(df, "key", exact.select("key"))
    joined = exact.join(est, "key").collect()
    assert len(joined) == 200
    assert all(r["est"] >= r["n"] for r in joined)


def test_kmv_small_cardinality_is_exact(spark):
    # Fewer distinct values than k: the bottom-k set IS the distinct
    # set, and the operator must report the exact count, not an
    # extrapolation.
    from opensea_datapipeline_spark.operators.sketches import kmv_distinct

    df = spark.createDataFrame(
        [(f"u{i % 10}",) for i in range(500)], ["u"]
    )
    row = kmv_distinct(df, "u", k=64).collect()[0]
    assert row["estimate"] == 10.0


def test_kmv_estimate_within_error_band(spark):
    # 5,000 planted distinct keys, k=256: rel error ~ 1/sqrt(254) ≈ 6%;
    # assert a generous 4-sigma band so the test never flakes (the
    # estimate is DETERMINISTIC — this pins the md5 pipeline end to
    # end, not randomness).
    from opensea_datapipeline_spark.operators.sketches import kmv_distinct

    df = spark.createDataFrame([(f"v{i}",) for i in range(5000)], ["u"])
    row = kmv_distinct(df, "u", k=256).collect()[0]
    assert abs(row["estimate"] - 5000) / 5000 < 0.25


def test_streaming_kmv_merge_equals_batch_and_replay_noop(spark, tmp_path):
    # Bottom-k summaries merge losslessly: the streaming state after 4
    # micro-batches must yield the IDENTICAL (m_k, estimate) to the
    # one-shot batch sketch over the same rows; every committed version
    # holds <= k rows (bounded state); replaying the whole stream with
    # the same state dir but a fresh checkpoint is a byte-level no-op.
    import glob as _g

    from pyspark.sql import functions as F

    from opensea_datapipeline_spark.operators.sketches import kmv_distinct
    from opensea_datapipeline_spark.streaming.sketch import run_streaming_kmv

    rows = [(i % 777, 1.0) for i in range(6000)]
    src = str(tmp_path / "src")
    df = (
        spark.createDataFrame(rows, "user_id long, value double")
        .withColumn(
            "ts", F.timestamp_seconds(F.lit(1700000000) + F.col("user_id"))
        )
    )
    df.repartition(4).write.mode("overwrite").parquet(src)
    state_dir = str(tmp_path / "state")
    stream_row = run_streaming_kmv(
        spark, src, state_dir, str(tmp_path / "ckpt1"),
        key_col="user_id", k=64,
    ).collect()[0]
    batch_row = kmv_distinct(
        spark.read.parquet(src), "user_id", k=64
    ).collect()[0]
    assert stream_row["m_k"] == batch_row["m_k"]
    assert stream_row["estimate"] == batch_row["estimate"]
    for vdir in _g.glob(state_dir + "/batch_*"):
        assert spark.read.parquet(vdir).count() <= 64, vdir
    replay = run_streaming_kmv(
        spark, src, state_dir, str(tmp_path / "ckpt2"),
        key_col="user_id", k=64,
    ).collect()[0]
    assert (replay["m_k"], replay["estimate"]) == (
        stream_row["m_k"], stream_row["estimate"],
    )


def test_triangle_stats_symmetrized_and_self_loop_input(spark):
    # Input hygiene (r10 review): the SYMMETRIZED edge form (both
    # directions present — what pagerank consumes) and self-loops must
    # count identically to the canonical one-row-per-pair form; without
    # canonicalization a symmetrized triangle octuples.
    from opensea_datapipeline_spark.operators.graph import triangle_stats

    canon = [(1, 2), (1, 3), (2, 3)]
    messy = (
        canon
        + [(b, a) for a, b in canon]   # symmetrized duplicates
        + [(1, 1), (3, 3)]             # self-loops
    )
    want = {
        r["node"]: tuple(r)
        for r in triangle_stats(
            spark.createDataFrame(canon, ["src", "dst"])
        ).collect()
    }
    got = {
        r["node"]: tuple(r)
        for r in triangle_stats(
            spark.createDataFrame(messy, ["src", "dst"])
        ).collect()
    }
    assert got == want
    assert all(r[2] == 1 for r in want.values())  # one triangle each


def test_streaming_kmv_lost_meta_recovers_history(spark, tmp_path):
    # Delete the meta file between runs: the next run must recover the
    # base and batch id from the newest committed version (gold-table
    # _recover_meta — the bottom-k state is self-contained, no sidecar),
    # skip the replayed batches, and land on the identical state.
    import os

    from pyspark.sql import functions as F

    from opensea_datapipeline_spark.streaming.sketch import run_streaming_kmv

    rows = [(i % 300, 1.0) for i in range(3000)]
    src = str(tmp_path / "src")
    (
        spark.createDataFrame(rows, "user_id long, value double")
        .withColumn("ts", F.timestamp_seconds(F.lit(1700000000)))
        .repartition(3)
        .write.mode("overwrite")
        .parquet(src)
    )
    state_dir = str(tmp_path / "state")
    first = run_streaming_kmv(
        spark, src, state_dir, str(tmp_path / "ckpt1"),
        key_col="user_id", k=64,
    ).collect()[0]
    # ckpt1: the same checkpoint with no new input runs no batch, so
    # only the final read can recover; ckpt2: every batch replays
    for ckpt in ("ckpt1", "ckpt2"):
        os.remove(os.path.join(state_dir, "_gold_meta.json"))
        again = run_streaming_kmv(
            spark, src, state_dir, str(tmp_path / ckpt),
            key_col="user_id", k=64,
        ).collect()[0]
        assert (again["m_k"], again["estimate"]) == (
            first["m_k"], first["estimate"],
        ), ckpt


def test_dup_hits_strategies_match(spark, sf_dir):
    # The "join" skew path (groupBy-collapsed dup-gram set + filtered
    # join) must produce IDENTICAL spans and cut corpora to the graded
    # "window" form, hashed or not.
    from opensea_datapipeline_spark.operators.text import (
        duplicate_token_spans,
        span_cut_corpus,
    )
    from opensea_datapipeline_spark.sources.readers import load_table

    d = load_table(spark, sf_dir, "documents")

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    for hashed in (False, True):
        assert rows(
            duplicate_token_spans(d, n=8, hashed=hashed, strategy="join")
        ) == rows(duplicate_token_spans(d, n=8, hashed=hashed))
    assert rows(span_cut_corpus(d, n=8, strategy="join")) == rows(
        span_cut_corpus(d, n=8)
    )


def test_bloom_zero_false_negatives_and_fp_band(spark):
    # Bloom's one-sided guarantee (the pruned-join contract): EVERY
    # member probes True — zero false negatives — while non-members
    # false-positive at ~(1-e^{-kn/m})^k. 300 members into m=4096,
    # k=4 predicts ~0.5% FP; assert a generous 5x band so the test
    # never flakes (the sketch is md5-DETERMINISTIC, this pins the
    # hash pipeline, not randomness).
    from pyspark.sql import functions as F

    from opensea_datapipeline_spark.operators import sketches as sk

    members = spark.range(300).select(
        F.concat(F.lit("m"), F.col("id").cast("string")).alias("k")
    )
    bits = sk.bloom_bits(members, "k", m_bits=4096, k_hashes=4)
    n_bits = bits.count()
    assert n_bits <= 4 * 300  # at most k bits per inserted key
    mask = sk.bloom_mask_literal(bits, m_bits=4096)

    probe_members = members.select(
        sk.bloom_might_contain(
            mask, F.col("k"), m_bits=4096, k_hashes=4
        ).alias("hit")
    )
    assert probe_members.filter(~F.col("hit")).count() == 0

    others = spark.range(3000).select(
        F.concat(F.lit("x"), F.col("id").cast("string")).alias("k")
    )
    fp = (
        others.select(
            sk.bloom_might_contain(
                mask, F.col("k"), m_bits=4096, k_hashes=4
            ).alias("hit")
        )
        .filter(F.col("hit"))
        .count()
    )
    assert fp / 3000 < 0.025  # ~5x the ~0.5% analytic rate


def test_bloom_mask_signed_long_roundtrip(spark):
    # Bits 63, 64 and 127 exercise the word boundary and the signed
    # two's-complement fold (bit 63 sets the long's sign bit): the
    # packed literal must read back exactly the bits that were set,
    # and nothing else.
    from pyspark.sql import functions as F

    from opensea_datapipeline_spark.operators import sketches as sk

    bits = spark.createDataFrame(
        [(0,), (63,), (64,), (127,)], ["bit"]
    )
    mask = sk.bloom_mask_literal(bits, m_bits=128)
    # probe every position directly (bypass the hash: read the words)
    rows = spark.range(1).select(mask.alias("m")).collect()[0]["m"]
    words = [int(w) & ((1 << 64) - 1) for w in rows]
    got = {
        i for i in range(128) if (words[i >> 6] >> (i & 63)) & 1
    }
    assert got == {0, 63, 64, 127}


def test_bloom_xxhash_variant_zero_false_negatives(spark):
    # The JVM-native double-hash probe path (hash_fn="xxhash64") keeps
    # the one-sided guarantee: build and probe share the hash, so every
    # member still probes True; FP band as the md5 form.
    from pyspark.sql import functions as F

    from opensea_datapipeline_spark.operators import sketches as sk

    members = spark.range(300).select(
        F.concat(F.lit("m"), F.col("id").cast("string")).alias("k")
    )
    kw = dict(m_bits=4096, k_hashes=4, hash_fn="xxhash64")
    mask = sk.bloom_mask_literal(
        sk.bloom_bits(members, "k", **kw), m_bits=4096
    )
    assert (
        members.select(
            sk.bloom_might_contain(mask, F.col("k"), **kw).alias("hit")
        )
        .filter(~F.col("hit"))
        .count()
        == 0
    )
    others = spark.range(3000).select(
        F.concat(F.lit("x"), F.col("id").cast("string")).alias("k")
    )
    fp = (
        others.select(
            sk.bloom_might_contain(mask, F.col("k"), **kw).alias("hit")
        )
        .filter(F.col("hit"))
        .count()
    )
    assert fp / 3000 < 0.025


def test_covariance_matrix_matches_numpy(spark):
    # The distributed sufficient-statistic path must agree with
    # numpy's population covariance to float precision, across
    # multiple partitions (partial merge correctness), and drop
    # NULL / wrong-length vectors by contract.
    import numpy as np

    from opensea_datapipeline_spark.operators.decompose import (
        covariance_matrix,
    )

    rng = np.random.default_rng(7)
    x = rng.normal(size=(400, 6))
    rows = [(i, [float(v) for v in x[i]]) for i in range(400)]
    rows += [(1000, None), (1001, [1.0, 2.0])]  # dropped
    df = spark.createDataFrame(rows, ["vec_id", "embedding"]).repartition(7)
    got = {
        (r["i"], r["j"]): r["cov"]
        for r in covariance_matrix(df, "embedding", 6).collect()
    }
    want = np.cov(x, rowvar=False, bias=True)
    assert len(got) == 36
    for (i, j), v in got.items():
        assert abs(v - want[i, j]) < 1e-9, (i, j)


def test_pca_projection_diagonalizes_and_whitens(spark):
    # End-to-end invariants of the basis + projection: projecting onto
    # the top-k eigenbasis diagonalizes the covariance with the
    # eigenvalues on the diagonal; whitening scales it to identity.
    # Data is rank-heavy on purpose (2 strong directions + noise).
    import numpy as np

    from opensea_datapipeline_spark.operators.decompose import (
        covariance_matrix,
        pca_basis,
        pca_project,
    )

    rng = np.random.default_rng(11)
    latent = rng.normal(size=(500, 2)) * np.array([5.0, 2.0])
    mix = rng.normal(size=(2, 8))
    x = latent @ mix + rng.normal(size=(500, 8)) * 0.05 + 3.0
    df = spark.createDataFrame(
        [(i, [float(v) for v in x[i]]) for i in range(500)],
        ["vec_id", "embedding"],
    ).repartition(5)

    vals, comps, mean = pca_basis(df, "embedding", 8, k=3)
    assert vals[0] > vals[1] > vals[2] >= 0
    assert abs(np.array(mean).mean() - 3.0) < 0.5

    proj = pca_project(df, "embedding", comps, mean)
    pcov = {
        (r["i"], r["j"]): r["cov"]
        for r in covariance_matrix(proj, "pc", 3).collect()
    }
    for c in range(3):
        assert abs(pcov[(c, c)] - vals[c]) < 1e-6 * max(1.0, vals[c])
    for i in range(3):
        for j in range(3):
            if i != j:
                assert abs(pcov[(i, j)]) < 1e-6

    white = pca_project(
        df, "embedding", comps, mean, eigenvalues=vals, out_col="w"
    )
    wcov = {
        (r["i"], r["j"]): r["cov"]
        for r in covariance_matrix(white, "w", 3).collect()
    }
    for c in range(3):
        assert abs(wcov[(c, c)] - 1.0) < 1e-6


def test_label_propagation_splits_bridged_cliques(spark):
    # Two 6-cliques joined by ONE bridge edge: connected components
    # sees a single component; LPA must resolve TWO communities (the
    # dense sides out-vote the bridge) — the reason the operator exists
    # next to connected_components. Also pins determinism across
    # partitionings: same labels at 2 and 7 shuffle partitions.
    from opensea_datapipeline_spark.operators.dedup import (
        connected_components,
    )
    from opensea_datapipeline_spark.operators.graph import (
        label_propagation,
    )

    edges = []
    for base in (0, 10):
        ids = [base + i for i in range(6)]
        edges += [(a, b) for a in ids for b in ids if a < b]
    edges.append((5, 10))  # bridge
    e = spark.createDataFrame(edges, ["src", "dst"])

    lp = {
        r["node"]: r["community"]
        for r in label_propagation(e, iters=5).collect()
    }
    comms = {}
    for node, c in lp.items():
        comms.setdefault(c, set()).add(node)
    assert len(comms) == 2
    sides = sorted(tuple(sorted(v)) for v in comms.values())
    assert sides == [tuple(range(6)), tuple(range(10, 16))]

    nodes = e.selectExpr("src AS id").union(e.selectExpr("dst AS id")).distinct()
    cc = connected_components(
        nodes, e, id_col="id", src_col="src", dst_col="dst"
    )
    assert cc.select("group_id").distinct().count() == 1  # one component

    e7 = e.repartition(7)
    lp7 = {
        r["node"]: r["community"]
        for r in label_propagation(e7, iters=5).collect()
    }
    assert lp7 == lp


def test_encode_token_ids_order_and_oov(spark):
    # Encoding invariants: ids come back in TOKEN ORDER across a
    # multi-partition shuffle, OOV maps to -1, vocabulary ranks by
    # count desc then token asc (deterministic ties), and the vocab
    # join is broadcast (no fact-side exchange for the mapping).
    from opensea_datapipeline_spark.operators.text import (
        build_vocab,
        encode_token_ids,
    )

    rows = [
        (1, "b a b c b a"),
        (2, "a zzz a b"),
        (3, "c c a"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"]).repartition(3)
    # counts: a=5, b=4, c=3, zzz=1 -> ids a:0 b:1 c:2
    vocab = build_vocab(df, "text", top_v=3)
    assert {(r["tok"], r["id"]) for r in vocab.collect()} == {
        ("a", 0), ("b", 1), ("c", 2)
    }
    enc = encode_token_ids(df, "doc_id", "text", vocab)
    got = {r["doc_id"]: (r["n_tokens"], r["n_oov"], list(r["ids"])) for r in enc.collect()}
    assert got[1] == (6, 0, [1, 0, 1, 2, 1, 0])
    assert got[2] == (4, 1, [0, -1, 0, 1])
    assert got[3] == (3, 0, [2, 2, 0])
    plan = enc._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_pca_reduced_knn_recall(spark):
    # PCA as a similarity scale path: when the corpus is effectively
    # LOW-RANK (true signal in 8 latent dims, embedded in 32 with small
    # isotropic noise — the regime real embedding matrices live in),
    # exact KNN in the top-8 principal space must recover the
    # full-space top-10 with high recall at 4x fewer flops per pair.
    # The scoped claim matters: PCA preserves neighbor structure the
    # retained variance CARRIES — it cannot preserve ordering driven by
    # isotropic noise (a 6-far-cluster corpus where within-cluster rank
    # IS noise measures 0.44 recall; that is correct behavior, not a
    # bug, and is why this test plants a genuinely low-rank corpus).
    import numpy as np

    from opensea_datapipeline_spark.operators.decompose import (
        pca_basis,
        pca_project,
    )
    from opensea_datapipeline_spark.operators.similarity import (
        knn_topk_exact,
    )

    rng = np.random.default_rng(3)
    latent = rng.normal(size=(300, 8))
    mix = rng.normal(size=(8, 32))
    x = latent @ mix + rng.normal(size=(300, 32)) * 0.05
    df = spark.createDataFrame(
        [(i, [float(v) for v in x[i]]) for i in range(len(x))],
        ["vec_id", "embedding"],
    ).repartition(4)

    def topk(frame, col):
        out = knn_topk_exact(frame, "vec_id", col, k=10)
        nbrs = {}
        for r in out.collect():
            nbrs.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return nbrs

    full = topk(df, "embedding")
    vals, comps, mean = pca_basis(df, "embedding", 32, k=8)
    red = pca_project(df, "embedding", comps, mean)
    reduced = topk(red, "pc")
    hits = sum(len(full[q] & reduced[q]) for q in full)
    total = sum(len(full[q]) for q in full)
    assert hits / total > 0.9, hits / total


def test_jl_projection_distance_preservation(spark):
    # The JL guarantee the operator is used for: pairwise squared
    # distances in the k=24 projected space concentrate around the
    # original distances (1/sqrt(k) scaling) — check median relative
    # distortion over 100 random 64-dim vectors is small and the
    # projection is deterministic across partitionings.
    import numpy as np

    from opensea_datapipeline_spark.operators.decompose import (
        random_sign_projection,
    )

    rng = np.random.default_rng(5)
    x = rng.normal(size=(100, 64))
    df = spark.createDataFrame(
        [(i, [float(v) for v in x[i]]) for i in range(100)],
        ["vec_id", "embedding"],
    )
    out = random_sign_projection(df, "embedding", 64, 24)
    proj = np.zeros((100, 24))
    for r in out.collect():
        proj[r["vec_id"], r["comp"]] = r["val"]
    # rebuild must be identical on a different partitioning
    out7 = random_sign_projection(df.repartition(7), "embedding", 64, 24)
    proj7 = np.zeros((100, 24))
    for r in out7.collect():
        proj7[r["vec_id"], r["comp"]] = r["val"]
    assert np.array_equal(proj, proj7)

    idx = rng.integers(0, 100, size=(200, 2))
    dist = []
    for a, b in idx:
        if a == b:
            continue
        d0 = np.sum((x[a] - x[b]) ** 2)
        d1 = np.sum((proj[a] - proj[b]) ** 2)  # 1/sqrt(k) already applied
        dist.append(abs(d1 - d0) / d0)
    assert np.median(dist) < 0.25, np.median(dist)


def test_pca_basis_empty_input_raises_cleanly(spark):
    # All-NULL / wrong-width vectors must raise the contract error, not
    # a bare TypeError from float(None) on the mean row (the z-order
    # empty-input lesson applied to decompose).
    import pytest

    from opensea_datapipeline_spark.operators.decompose import pca_basis

    df = spark.createDataFrame(
        [(1, None), (2, [1.0, 2.0])], ["vec_id", "embedding"]
    )
    with pytest.raises(ValueError, match="no non-null 8-wide"):
        pca_basis(df, "embedding", 8, k=2)


def test_label_propagation_directed_keeps_source_only_nodes(spark):
    # Directed chain 1->2->3: node 1 has no in-edges and must KEEP its
    # own label every round (not vanish from the output); propagation
    # flows along in-edges so 2 takes 1's label, 3 takes 2's updated
    # label by round 2. Pins the coalesce path the undirected form
    # never exercises.
    from opensea_datapipeline_spark.operators.graph import (
        label_propagation,
    )

    e = spark.createDataFrame([(1, 2), (2, 3)], ["src", "dst"])
    got = {
        r["node"]: r["community"]
        for r in label_propagation(e, iters=2, undirected=False).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1}


def test_pca_project_contracts(spark):
    # Family drop contract + whitening guard: NULL / wrong-width
    # vectors are DROPPED (not silently projected to NULL arrays), and
    # whitening with a non-positive eigenvalue (rank-deficient eigh
    # tail) raises the contract error instead of producing a complex
    # literal or dividing by zero.
    import pytest

    from opensea_datapipeline_spark.operators.decompose import pca_project

    df = spark.createDataFrame(
        [
            (1, [1.0, 2.0, 3.0, 4.0]),
            (2, None),
            (3, [1.0, 2.0]),
        ],
        ["vec_id", "embedding"],
    )
    comps = [[0.5, 0.5, 0.5, 0.5]]
    mean = [0.0, 0.0, 0.0, 0.0]
    out = pca_project(df, "embedding", comps, mean).collect()
    assert [r["vec_id"] for r in out] == [1]
    assert out[0]["pc"][0] == 5.0

    with pytest.raises(ValueError, match="strictly positive"):
        pca_project(
            df, "embedding", comps, mean, eigenvalues=[-1e-17]
        )


def test_community_modularity_bridged_cliques(spark):
    # Ground-truth check on the planted two-clique-one-bridge graph:
    # LPA's two communities score high modularity (each clique's 15
    # internal edges vs 1 bridge; Q = 2*(15/31 - (31/62)^2) ≈ 0.4677),
    # and a single-community assignment scores ~0 (chance wiring) —
    # the metric separates a real split from no split.
    from pyspark.sql import functions as F

    from opensea_datapipeline_spark.operators.graph import (
        community_modularity,
        label_propagation,
    )

    edges = []
    for base in (0, 10):
        ids = [base + i for i in range(6)]
        edges += [(a, b) for a in ids for b in ids if a < b]
    edges.append((5, 10))
    e = spark.createDataFrame(edges, ["src", "dst"])

    lp = label_propagation(e, iters=5)
    rows = community_modularity(e, lp).collect()
    q = sum(r["q_part"] for r in rows)
    assert abs(q - (2 * (15 / 31 - 0.25))) < 1e-5

    one = lp.select("node", F.lit(0).alias("community"))
    rows1 = community_modularity(e, one).collect()
    assert abs(sum(r["q_part"] for r in rows1)) < 1e-9


def test_community_modularity_zero_degree_community(spark):
    # A community whose only node has no canonical edges (self-loop
    # dropped by edge hygiene) must still be scored — (n_nodes=1,
    # e_in=0, deg_sum=0, q_part=0.0) — not vanish from the output; and
    # an entirely edge-free graph (m=0) must not divide by zero.
    from opensea_datapipeline_spark.operators.graph import (
        community_modularity,
    )

    e = spark.createDataFrame([(1, 1), (2, 3)], ["src", "dst"])
    comm = spark.createDataFrame(
        [(1, 1), (2, 2), (3, 2)], ["node", "community"]
    )
    rows = {r["community"]: r for r in community_modularity(e, comm).collect()}
    assert rows[1]["n_nodes"] == 1
    assert rows[1]["e_in"] == 0 and rows[1]["deg_sum"] == 0
    assert rows[1]["q_part"] == 0.0
    assert rows[2]["e_in"] == 1

    only_loops = spark.createDataFrame([(1, 1)], ["src", "dst"])
    out = community_modularity(
        only_loops, spark.createDataFrame([(1, 1)], ["node", "community"])
    ).collect()
    assert len(out) == 1 and out[0]["q_part"] == 0.0


def test_label_propagation_weighted_directed(spark):
    # The untested interaction: weighted votes through the directed
    # keep-label path. Node 3 hears label 1 (via 2, weight 5.0) and
    # label 4 (weight 0.5) — the heavier vote wins even though the
    # count is tied; node 1 and 4 (no in-edges) keep their own labels.
    from opensea_datapipeline_spark.operators.graph import (
        label_propagation,
    )

    e = spark.createDataFrame(
        [(1, 2, 5.0), (2, 3, 5.0), (4, 3, 0.5)], ["src", "dst", "w"]
    )
    got = {
        r["node"]: r["community"]
        for r in label_propagation(
            e, iters=2, undirected=False, weight_col="w"
        ).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 4}


def test_bloom_gated_streaming_dedup_multibatch(spark, sf_dir, tmp_path):
    # The cross-batch gate path: events split into 4 files (one per
    # trigger). Batch 1 sees an empty mask (everything definitely-new,
    # no anti-join); later batches re-encounter earlier keys, which the
    # mask can NEVER miss (zero false negatives) — so every repeat key
    # lands in maybe_seen and the exact anti-join removes it. Final
    # accumulated set == batch distinct, and the telemetry proves the
    # gate actually pruned (definitely_new > 0 AND maybe_seen > 0).
    from pyspark.sql import functions as F

    from opensea_datapipeline_spark.sources.readers import load_table
    from opensea_datapipeline_spark.streaming.bloom_gate import (
        run_bloom_gated_dedup,
    )

    e = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    src = str(tmp_path / "src")
    # order by ts so every user/type recurs across the 4 slices
    e.orderBy("ts").coalesce(1).limit(100000).repartitionByRange(
        4, "ts"
    ).write.parquet(src)
    out = run_bloom_gated_dedup(
        spark,
        src,
        ["user_id", "event_type"],
        seen_dir=str(tmp_path / "seen"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    got = {r["dedup_key"] for r in out["seen"].collect()}
    want = {
        r[0]
        for r in e.select(
            F.md5(
                F.concat_ws(
                    "\x1f",
                    F.col("user_id").cast("string"),
                    F.col("event_type").cast("string"),
                )
            )
        ).distinct().collect()
    }
    assert got == want
    st = out["stats"]
    assert st["batches"] == 4
    assert st["definitely_new"] > 0 and st["maybe_seen"] > 0
    # exactness implies no key was double-appended
    assert out["seen"].count() == len(want)


def test_bloom_gate_restart_reseeds_mask(spark, sf_dir, tmp_path):
    # Restart invariant: a second run against an EXISTING seen store
    # must re-seed the mask from it — otherwise previously-seen keys
    # probe definitely-new, skip the anti-join, and double-append
    # (breaking the exact contract). Run 1 ingests half the corpus;
    # run 2 (fresh source dir, fresh checkpoint, SAME seen_dir) ingests
    # the full corpus: every run-1 key must be maybe-seen in run 2 and
    # the final store must equal the batch distinct with no dup rows.
    from pyspark.sql import functions as F

    from opensea_datapipeline_spark.sources.readers import load_table
    from opensea_datapipeline_spark.streaming.bloom_gate import (
        run_bloom_gated_dedup,
    )

    e = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    half = e.filter(F.col("event_id") % 2 == 0)
    src1, src2 = str(tmp_path / "s1"), str(tmp_path / "s2")
    half.coalesce(2).write.parquet(src1)
    e.coalesce(2).write.parquet(src2)
    seen = str(tmp_path / "seen")
    run_bloom_gated_dedup(
        spark, src1, ["user_id", "event_type"], seen_dir=seen,
        checkpoint_dir=str(tmp_path / "c1"),
    )
    out = run_bloom_gated_dedup(
        spark, src2, ["user_id", "event_type"], seen_dir=seen,
        checkpoint_dir=str(tmp_path / "c2"),
    )
    want = e.select(
        F.md5(
            F.concat_ws(
                "\x1f",
                F.col("user_id").cast("string"),
                F.col("event_type").cast("string"),
            )
        ).alias("k")
    ).distinct().count()
    assert out["seen"].count() == want  # no double-appends
    assert out["seen"].distinct().count() == want


def test_pagerank_directed_keeps_source_and_sink_nodes(spark):
    # Directed star 1->2<-3: without the pinned-node re-join, the
    # per-iteration groupBy(dst) drops the source-only nodes 1 and 3
    # after round 1 (they lose their (1-d)/N base) and the sink-only
    # node 2 is excluded from N (r10 ADVICE). With the fix: N=3, all
    # three nodes present every iteration, values equal a pure-Python
    # power iteration (sink 2's own mass leaks — documented dangling
    # behavior — so total mass < 1 is EXPECTED here).
    from opensea_datapipeline_spark.operators.graph import pagerank

    edges = spark.createDataFrame([(1, 2), (3, 2)], "src long, dst long")
    got = {
        r.node: r.rank
        for r in pagerank(
            edges, iters=5, damping=0.85, undirected=False
        ).collect()
    }
    nodes = [1, 2, 3]
    n = 3
    base = (1.0 - 0.85) / n
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(5):
        nxt = {v: base for v in nodes}
        nxt[2] += 0.85 * (rank[1] / 1 + rank[3] / 1)  # sink leaks its own
        rank = nxt
    want = {v: round(r, 6) for v, r in rank.items()}
    assert got == want
    assert set(got) == {1, 2, 3}
    assert got[1] == got[3] == round(base, 6)
    assert got[2] > got[1]


def test_pagerank_undirected_unchanged_by_directed_fix(spark):
    # The directed-path fix must be a no-op on the undirected path: the
    # symmetrized graph's per-iteration in-mass already covers every
    # node, so results match the directed form run on the symmetrized
    # edge list with the re-join.
    from opensea_datapipeline_spark.operators.graph import pagerank

    raw = [(0, 1), (1, 2), (3, 4)]
    e = spark.createDataFrame(raw, "src long, dst long")
    sym = e.unionByName(e.selectExpr("dst as src", "src as dst"))
    und = {
        r.node: r.rank
        for r in pagerank(e, iters=6, undirected=True).collect()
    }
    dir_on_sym = {
        r.node: r.rank
        for r in pagerank(sym, iters=6, undirected=False).collect()
    }
    assert und == dir_on_sym


def test_community_modularity_string_node_ids(spark):
    # label_propagation emits node ids as labels; string node ids must
    # flow through community_modularity without the long cast throwing
    # under ANSI (r10 ADVICE). Triangle abc + isolated edge de:
    # Q_abc = 3/4 - (6/8)^2, Q_de = 1/4 - (2/8)^2.
    from opensea_datapipeline_spark.operators.graph import (
        community_modularity,
    )

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"), ("d", "e")],
        "src string, dst string",
    )
    comm = spark.createDataFrame(
        [("a", "a"), ("b", "a"), ("c", "a"), ("d", "d"), ("e", "d")],
        "node string, community string",
    )
    out = {r.community: r for r in community_modularity(edges, comm).collect()}
    assert dict(out["a"].asDict()) == {
        "community": "a", "n_nodes": 3, "e_in": 3, "deg_sum": 6,
        "q_part": round(3 / 4 - (6 / 8) ** 2, 6),
    }
    assert dict(out["d"].asDict()) == {
        "community": "d", "n_nodes": 2, "e_in": 1, "deg_sum": 2,
        "q_part": round(1 / 4 - (2 / 8) ** 2, 6),
    }
    # type preserved: string labels stay strings
    sdf = community_modularity(edges, comm)
    assert dict(sdf.dtypes)["community"] == "string"


def test_lit_double_array_non_finite(spark):
    # repr(inf)/repr(nan) are not Spark-castable ('inf' -> NULL under
    # the string->double cast); the literal builder must map them to
    # 'Infinity'/'NaN' so non-finite elements survive (r10 ADVICE).
    import math

    from pyspark.sql import functions as F

    from opensea_datapipeline_spark.functions.literals import (
        lit_double_array,
    )

    vals = [1.5, float("inf"), float("-inf"), float("nan"), -0.25]
    row = spark.range(1).select(
        lit_double_array(vals).alias("arr")
    ).head()
    got = row["arr"]
    assert got[0] == 1.5 and got[4] == -0.25
    assert got[1] == float("inf") and got[2] == float("-inf")
    assert math.isnan(got[3])
    assert None not in got


def test_bloom_gate_skips_replayed_batches(spark, sf_dir, tmp_path):
    # Replay skip (r10 ADVICE): a batch id at or below the checkpoint
    # lineage's recorded last_batch_id must be skipped entirely — no
    # stats double-count, no re-append. Simulated by planting a meta
    # claiming every batch was already processed into a FRESH
    # checkpoint dir: the run must process nothing and leave the seen
    # store untouched. (Dedup exactness never depended on the skip —
    # the mask re-seed routes replayed keys to the exact anti-join —
    # so this guards the TELEMETRY contract.)
    from pyspark.sql import functions as F

    from opensea_datapipeline_spark.sources.readers import load_table
    from opensea_datapipeline_spark.streaming.bloom_gate import (
        _META,
        run_bloom_gated_dedup,
    )
    from opensea_datapipeline_spark.streaming.lifecycle import VersionedState

    e = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    ).limit(2000)
    src = str(tmp_path / "src")
    e.coalesce(2).write.parquet(src)
    seen = str(tmp_path / "seen")
    first = run_bloom_gated_dedup(
        spark, src, ["user_id"], seen_dir=seen,
        checkpoint_dir=str(tmp_path / "c1"),
    )
    n_seen = first["seen"].count()
    assert first["stats"]["batches"] > 0
    # meta recorded the last processed batch of lineage c1
    assert VersionedState(str(tmp_path / "c1"), _META).read_meta()[
        "last_batch_id"
    ] >= 0
    # fresh lineage, planted "already processed" meta -> all skipped
    c2 = str(tmp_path / "c2")
    VersionedState(c2, _META).write_meta({"last_batch_id": 10**9})
    replay = run_bloom_gated_dedup(
        spark, src, ["user_id"], seen_dir=seen, checkpoint_dir=c2,
    )
    assert replay["stats"] == {
        "batches": 0, "definitely_new": 0, "maybe_seen": 0,
    }
    assert replay["seen"].count() == n_seen


def test_bloom_gate_refuses_second_writer_on_seen_dir(spark, tmp_path):
    # Two loops on one seen_dir interleave anti-joins and appends and
    # double-append keys: a live writer latch on seen_dir must make the
    # gate refuse to start.
    from opensea_datapipeline_spark.streaming.bloom_gate import (
        run_bloom_gated_dedup,
    )
    from opensea_datapipeline_spark.streaming.lifecycle import writer_lock

    src = str(tmp_path / "src")
    spark.range(100).selectExpr("id AS user_id").write.parquet(src)
    seen = str(tmp_path / "seen")
    with writer_lock(seen, "other gate"):
        with pytest.raises(RuntimeError, match="live writer"):
            run_bloom_gated_dedup(
                spark, src, ["user_id"], seen_dir=seen,
                checkpoint_dir=str(tmp_path / "ckpt"),
            )


def _py_bpe_train(word_freq, n_merges, min_count=2):
    # pure-Python reference: Sennrich-style training over a word-freq
    # dict, greedy left-to-right merge application
    words = {w: [c for c in w] for w in word_freq}
    merges = []
    for k in range(1, n_merges + 1):
        counts = {}
        for w, syms in words.items():
            c = word_freq[w]
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + c
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        (l, r), n = best
        if n < min_count:
            break
        merges.append((k, l, r, l + r, n))
        for w, syms in words.items():
            out, i = [], 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == l
                    and syms[i + 1] == r
                ):
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            words[w] = out
    return merges, words


def test_bpe_train_matches_pure_python(spark):
    # The full iterative loop (not just one candidate round) must equal
    # a pure-Python Sennrich trainer: same merges in the same order,
    # including a run-of-identical-chars word where greedy
    # left-to-right non-overlapping application matters ('aaaa' -> two
    # 'aa', never three overlapping).
    from opensea_datapipeline_spark.operators.text import bpe_train

    texts = [
        "low low low low low",
        "lower lower newest newest newest",
        "newest newest newest widest widest",
        "aaaa aaaa aa",
    ]
    docs = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                                 "doc_id long, text string")
    got = [
        (r.merge_rank, r.left_sym, r.right_sym, r.merged, r.n)
        for r in bpe_train(docs, n_merges=8, min_count=2).orderBy(
            "merge_rank"
        ).collect()
    ]
    wf = {}
    for t in texts:
        for w in t.split(" "):
            wf[w] = wf.get(w, 0) + 1
    want, _ = _py_bpe_train(wf, 8)
    assert got == want


def test_bpe_train_min_count_stops_early(spark):
    # A corpus whose pairs all occur once must produce ZERO merges at
    # min_count=2 (a merge seen once generalizes to nothing), and the
    # same corpus at min_count=1 must keep merging.
    from opensea_datapipeline_spark.operators.text import bpe_train

    docs = spark.createDataFrame(
        [(0, "ab cd ef")], "doc_id long, text string"
    )
    assert bpe_train(docs, n_merges=4, min_count=2).count() == 0
    assert bpe_train(docs, n_merges=2, min_count=1).count() == 2


def test_bpe_encode_matches_pure_python(spark):
    # End-to-end train -> encode: per-word segmentation must equal the
    # reference trainer's final word states, ids must follow the
    # alphabet-then-merges numbering, and a character unseen at train
    # time must map to oov_id.
    from opensea_datapipeline_spark.operators.text import (
        bpe_encode,
        bpe_train,
    )

    train_texts = [
        "low low low low low",
        "lower lower newest newest newest",
        "newest newest newest widest widest",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(train_texts)],
        "doc_id long, text string",
    )
    merges = bpe_train(docs, n_merges=6, min_count=2)
    got = {
        r.doc_id: (r.n_tokens, r.n_syms, r.ids_str)
        for r in bpe_encode(docs, merges).collect()
    }
    wf = {}
    for t in train_texts:
        for w in t.split(" "):
            wf[w] = wf.get(w, 0) + 1
    py_merges, py_words = _py_bpe_train(wf, 6)
    alpha = sorted({c for w in wf for c in w})
    ids = {c: i for i, c in enumerate(alpha)}
    for k, l, r, m, n in py_merges:
        ids[m] = len(alpha) + k - 1
    for i, t in enumerate(train_texts):
        toks = t.split(" ")
        flat = [ids[s] for w in toks for s in py_words[w]]
        assert got[i] == (
            len(toks), len(flat), " ".join(str(x) for x in flat)
        ), f"doc {i}"
    # unseen char -> oov
    from opensea_datapipeline_spark.operators.text import bpe_alphabet

    probe = spark.createDataFrame(
        [(99, "low zzz?")], "doc_id long, text string"
    )
    enc = {
        r.doc_id: r
        for r in bpe_encode(
            probe, merges, alphabet=bpe_alphabet(docs)
        ).collect()
    }
    row = enc[99]
    assert row.n_tokens == 2
    # 'zzz?' has no trained chars 'z'/'?' -> every symbol oov (-1)
    assert set(row.ids_str.split(" ")[-4:]) == {"-1"}


def test_bpe_marker_roundtrip_losslessly_decodes(spark):
    # SentencePiece-style boundary marker: train+encode+decode must
    # recover the NORMALIZED text of every document exactly (lowercase,
    # collapsed whitespace — the _words contract), with zero unknown
    # ids on the self-encoded corpus. Also pins that marker-prefixed
    # merges actually fire (the learned table must contain at least one
    # merge whose left symbol starts with the marker — word-start
    # units, the thing the marker exists to learn).
    from opensea_datapipeline_spark.operators.text import (
        bpe_alphabet,
        bpe_decode,
        bpe_encode,
        bpe_train,
    )

    M = "\x11"
    texts = [
        "the cat sat on the mat",
        "The  CAT\tsat",
        "a aa aaa the thee",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    merges = bpe_train(docs, n_merges=10, min_count=2, marker=M)
    assert any(
        r.left_sym.startswith(M) for r in merges.collect()
    ), "no word-start merge learned"
    alpha = bpe_alphabet(docs, marker=M)
    enc = bpe_encode(docs, merges, marker=M, alphabet=alpha)
    dec = {
        r.doc_id: (r.text, r.n_unknown)
        for r in bpe_decode(enc, merges, alpha, marker=M).collect()
    }
    import re

    for i, t in enumerate(texts):
        want = re.sub(r"\s+", " ", t.lower()).strip()
        assert dec[i] == (want, 0), f"doc {i}"


def test_bpe_decode_counts_unknown_ids(spark):
    # Corrupted / OOV ids must decode to nothing and be COUNTED, not
    # guessed: decode a hand-built id stream containing an id far
    # outside the vocab.
    from opensea_datapipeline_spark.operators.text import (
        bpe_alphabet,
        bpe_decode,
        bpe_encode,
        bpe_train,
    )

    M = "\x11"
    docs = spark.createDataFrame(
        [(0, "ab ab ab")], "doc_id long, text string"
    )
    merges = bpe_train(docs, n_merges=2, min_count=2, marker=M)
    alpha = bpe_alphabet(docs, marker=M)
    enc = bpe_encode(docs, merges, marker=M, alphabet=alpha)
    good = enc.head().ids_str
    bad = spark.createDataFrame(
        [(0, good + " 9999")], "doc_id long, ids_str string"
    )
    row = bpe_decode(bad, merges, alpha, marker=M).head()
    assert row.n_unknown == 1
    assert row.text == "ab ab ab"


def _py_k_core(edge_list, k):
    # pure-Python peeling reference
    edges = {tuple(sorted(e)) for e in edge_list if e[0] != e[1]}
    while True:
        deg = {}
        for a, b in edges:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        drop = {n for n, d in deg.items() if d < k}
        if not drop:
            return deg
        edges = {
            (a, b) for a, b in edges if a not in drop and b not in drop
        }


def test_k_core_matches_pure_python_peeling(spark):
    # Triangle + pendant chain + square with a tail: the 2-core must
    # peel the chain AND the tail (cascading: removing the tail tip
    # drops its neighbor under 2), keeping triangle + square. Fixpoint
    # mode and a fixed-rounds run past convergence must agree.
    from opensea_datapipeline_spark.operators.graph import k_core

    raw = [
        (1, 2), (2, 3), (1, 3),          # triangle
        (3, 4), (4, 5),                   # pendant chain off the triangle
        (10, 11), (11, 12), (12, 13), (13, 10),  # square
        (13, 14), (14, 15),               # tail off the square
        (2, 1),                           # reverse dup (canonicalized)
        (7, 7),                           # self-loop (dropped)
    ]
    edges = spark.createDataFrame(raw, "src long, dst long")
    want = _py_k_core(raw, 2)
    got_fix = {
        r.node: r.degree
        for r in k_core(edges, 2, rounds=None).collect()
    }
    got_fixed_rounds = {
        r.node: r.degree for r in k_core(edges, 2, rounds=6).collect()
    }
    assert got_fix == want
    assert got_fixed_rounds == want
    assert set(want) == {1, 2, 3, 10, 11, 12, 13}


def test_k_core_empty_result(spark):
    # A bare chain has an empty 2-core.
    from opensea_datapipeline_spark.operators.graph import k_core

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "src long, dst long"
    )
    assert k_core(edges, 2, rounds=None).count() == 0


def test_dd_quantile_sketch_error_bound_and_merge(spark):
    # DDSketch guarantee: every estimate within (g-1)/(g+1) relative
    # error of the exact rank-q value; and the sketch must be
    # MERGEABLE — the sketch of A∪B equals the sketch built from the
    # two halves' union (bucket counts are plain sums, so this is the
    # whole point of the structure).
    import math

    from opensea_datapipeline_spark.operators.sketches import (
        dd_quantile_sketch,
    )

    vals = [math.exp(i / 37.0) * 3.7 for i in range(1, 2001)]
    df = spark.createDataFrame([(v,) for v in vals], "value double")
    g = 1.02
    qs = [0.5, 0.9, 0.99]
    out = {
        r.q: r.estimate
        for r in dd_quantile_sketch(df, "value", qs, gamma=g).collect()
    }
    svals = sorted(vals)
    bound = (g - 1) / (g + 1)
    for q in qs:
        exact = svals[int(math.floor(q * (len(vals) - 1)))]
        rel = abs(out[q] - exact) / exact
        assert rel <= bound + 1e-9, (q, out[q], exact, rel)
    # merge = union: same result from two shuffled halves
    half1 = spark.createDataFrame(
        [(v,) for v in vals[::2]], "value double"
    )
    half2 = spark.createDataFrame(
        [(v,) for v in vals[1::2]], "value double"
    )
    merged = {
        r.q: r.estimate
        for r in dd_quantile_sketch(
            half1.unionAll(half2), "value", qs, gamma=g
        ).collect()
    }
    assert merged == out


def test_dd_quantile_sketch_grouped(spark):
    # Per-group quantiles from one bucket pass: two groups with
    # disjoint ranges must get estimates near their own medians, and
    # nonpositive/null values are out of contract (filtered).
    from opensea_datapipeline_spark.operators.sketches import (
        dd_quantile_sketch,
    )

    rows = [("a", float(i)) for i in range(1, 101)] + [
        ("b", float(i) * 1000.0) for i in range(1, 101)
    ] + [("a", -5.0), ("a", None)]
    df = spark.createDataFrame(rows, "grp string, value double")
    out = {
        (r.grp, r.q): r
        for r in dd_quantile_sketch(
            df, "value", [0.5], group_cols=["grp"]
        ).collect()
    }
    a, b = out[("a", 0.5)], out[("b", 0.5)]
    assert a.n == 100 and b.n == 100  # filtered rows not counted
    assert abs(a.estimate - 50.0) / 50.0 < 0.02
    assert abs(b.estimate - 50000.0) / 50000.0 < 0.02


def test_streaming_ddsketch_merge_equals_batch_and_replay_noop(
    spark, tmp_path
):
    # Bucket counts are plain sums, so the streaming state after the
    # micro-batches must yield IDENTICAL (bucket, estimate, n) rows to
    # the one-shot batch sketch over the same rows; state stays bounded
    # by the value range (every committed version <= #distinct buckets);
    # replaying with the same state dir but a fresh checkpoint is a
    # no-op.
    import glob as _g

    from pyspark.sql import functions as F

    from opensea_datapipeline_spark.operators.sketches import (
        dd_quantile_sketch,
    )
    from opensea_datapipeline_spark.streaming.sketch import (
        run_streaming_ddsketch,
    )

    rows = [(i, float((i % 997) + 1) * 1.37) for i in range(6000)]
    src = str(tmp_path / "src")
    df = spark.createDataFrame(rows, "user_id long, value double").withColumn(
        "ts", F.timestamp_seconds(F.lit(1700000000) + F.col("user_id"))
    )
    df.repartition(4).write.mode("overwrite").parquet(src)
    state_dir = str(tmp_path / "state")
    qs = [0.5, 0.9, 0.99]
    stream_rows = {
        r.q: (r.bucket, r.estimate, r.n)
        for r in run_streaming_ddsketch(
            spark, src, state_dir, str(tmp_path / "c1"), value_col="value",
            qs=qs,
        ).collect()
    }
    batch_rows = {
        r.q: (r.bucket, r.estimate, r.n)
        for r in dd_quantile_sketch(
            spark.read.parquet(src), "value", qs
        ).collect()
    }
    assert stream_rows == batch_rows
    n_buckets = len(
        {b for b, _, _ in batch_rows.values()}
    )  # sanity floor only
    for vdir in _g.glob(state_dir + "/batch_*"):
        cnt = spark.read.parquet(vdir).count()
        assert cnt <= 997 and cnt >= n_buckets, vdir
    replay = {
        r.q: (r.bucket, r.estimate, r.n)
        for r in run_streaming_ddsketch(
            spark, src, state_dir, str(tmp_path / "c2"), value_col="value",
            qs=qs,
        ).collect()
    }
    assert replay == stream_rows
    # meta lost, then a rerun on the same checkpoint with no new input:
    # no batch runs, so the final read must recover the committed state
    import os

    os.remove(os.path.join(state_dir, "_gold_meta.json"))
    rerun = {
        r.q: (r.bucket, r.estimate, r.n)
        for r in run_streaming_ddsketch(
            spark, src, state_dir, str(tmp_path / "c1"), value_col="value",
            qs=qs,
        ).collect()
    }
    assert rerun == stream_rows


def test_minhash_lsh_incremental_equals_full_minus_old_block(
    spark, sf_dir
):
    # The incremental contract: pairs(old ∪ new) restricted to pairs
    # touching a NEW doc — exactly the full-corpus LSH output minus the
    # old×old block, row for row including jaccard values. Also pins
    # the persisted-artifact path: probing a band table written to and
    # read back from parquet gives the same pairs as deriving it.
    from pyspark.sql import functions as F

    from opensea_datapipeline_spark.operators.dedup import (
        minhash_band_table,
        minhash_lsh_pairs,
        minhash_lsh_pairs_incremental,
    )
    from opensea_datapipeline_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 200
    )
    split = 100
    old = docs.filter(F.col("doc_id") < split)
    new = docs.filter(F.col("doc_id") >= split)
    kw = dict(num_hashes=8, band_size=2, jaccard_threshold=0.7)
    full = {
        (r.id_a, r.id_b): round(r.jaccard, 9)
        for r in minhash_lsh_pairs(docs, "text", "doc_id", **kw).collect()
    }
    want = {
        p: j
        for p, j in full.items()
        if not (p[0] < split and p[1] < split)
    }
    got = {
        (r.id_a, r.id_b): round(r.jaccard, 9)
        for r in minhash_lsh_pairs_incremental(
            old, new, "text", "doc_id", **kw
        ).collect()
    }
    assert got == want
    assert len(want) > 0 and len(want) < len(full)  # both sides real
    # persisted-artifact path
    import tempfile

    band_path = tempfile.mkdtemp(prefix="bands_")
    minhash_band_table(
        old, "text", "doc_id", num_hashes=8, band_size=2
    ).write.mode("overwrite").parquet(band_path)
    got2 = {
        (r.id_a, r.id_b): round(r.jaccard, 9)
        for r in minhash_lsh_pairs_incremental(
            old, new, "text", "doc_id",
            old_band_table=spark.read.parquet(band_path), **kw
        ).collect()
    }
    assert got2 == want


def test_pack_token_ids_gpt_style_split(spark):
    # Concatenate-all then split every L: sequences must tile the flat
    # id stream exactly (full except last), docs span boundaries, and
    # the bucketed two-phase prefix sum must agree with a single
    # pure-Python cumsum regardless of bucket boundaries (bucket_size
    # smaller than the doc count forces multi-bucket offsets).
    from opensea_datapipeline_spark.operators.text import pack_token_ids

    docs = [(i, 3 + (i % 4)) for i in range(10)]  # doc -> n ids
    rows = []
    flat = []
    for d, n in docs:
        ids = [d * 100 + j for j in range(n)]
        flat.extend(ids)
        rows.append((d, n, " ".join(map(str, ids))))
    enc = spark.createDataFrame(
        rows, "doc_id long, n_syms long, ids_str string"
    )
    L = 7
    out = {
        r.seq_id: r
        for r in pack_token_ids(
            enc, seq_len=L, bucket_size=3
        ).collect()
    }
    want_seqs = [flat[i : i + L] for i in range(0, len(flat), L)]
    assert len(out) == len(want_seqs)
    for s, ids in enumerate(want_seqs):
        got = out[s]
        assert got.n_ids == len(ids)
        assert got.ids_str == " ".join(map(str, ids)), s
    # a doc of 3-6 ids inside L=7 sequences must span boundaries
    assert any(out[s].n_docs >= 2 for s in out)


def test_pagerank_dangling_redistribution_conserves_mass(spark):
    # Directed star 1->2<-3 with sink 2: with redistribute_dangling the
    # sink's mass is shared uniformly each iteration, so total mass
    # stays exactly 1 and values equal a pure-Python power iteration
    # with the same redistribution.
    from opensea_datapipeline_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(1, 2), (3, 2)], "src long, dst long"
    )
    got = {
        r.node: r.rank
        for r in pagerank(
            edges, iters=6, damping=0.85, undirected=False,
            redistribute_dangling=True,
        ).collect()
    }
    nodes, n, d = [1, 2, 3], 3, 0.85
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(6):
        dang = rank[2]  # only node 2 has no out-edges
        nxt = {v: (1 - d) / n + d * (dang / n) for v in nodes}
        nxt[2] += d * (rank[1] + rank[3])
        rank = nxt
    want = {v: round(r, 6) for v, r in rank.items()}
    assert got == want
    assert abs(sum(got.values()) - 1.0) < 1e-5


# ---------------------------------------------------------------------------
# r12: production-vocab BPE appliers + tokenizer artifact
# ---------------------------------------------------------------------------


def _applier_case_grid_table(spark):
    # the grid table exercises the pair and triple tiers
    from opensea_datapipeline_spark.operators.text import (
        bpe_grid_merge_table,
    )

    docs = spark.createDataFrame(
        [(0, "abab banana cabbage"), (1, "baa abba cab abc")],
        "doc_id long, text string",
    )
    mt = bpe_grid_merge_table(docs, max_merges=40)
    rows = [r.asDict() for r in mt.orderBy("merge_rank").collect()]
    assert 0 < len(rows) <= 40
    words = ["abab", "banana", "cabbage", "baa", "abba", "cab", "abc", "x"]
    return words, rows, None


def _applier_case_marker(spark):
    # the SentencePiece-style boundary marker becomes each word's
    # leading base symbol before the replace chain runs
    from opensea_datapipeline_spark.operators.text import bpe_train

    marker = "\x11"
    docs = spark.createDataFrame(
        [(0, "low low low lower"), (1, "newest newest widest")],
        "doc_id long, text string",
    )
    rows = [
        r.asDict()
        for r in bpe_train(
            docs, n_merges=6, min_count=2, marker=marker
        ).orderBy("merge_rank").collect()
    ]
    assert rows
    return ["low", "lower", "newest", "widest", "unseen"], rows, marker


def _applier_case_unicode_line_separators(spark):
    # ADVICE r12: Java regex '.' skips ALL line terminators (LF CR
    # U+0085 U+2028 U+2029), Python re's '.' only LF. Words carrying
    # Unicode line separators -- which the Java \\s+ normalization
    # does NOT strip -- must render every char on every applier.
    words = ["a\u2028b", "x\u0085y", "p\u2029q", "a\rb", "ab", "plain",
             "\u2028"]
    rows = [
        {"left_sym": "a", "right_sym": "b", "merged": "ab"},
        {"left_sym": "p", "right_sym": "q", "merged": "pq"},
    ]
    return words, rows, None


_APPLIER_CASES = {
    "grid_table": _applier_case_grid_table,
    "marker": _applier_case_marker,
    "unicode_line_separators": _applier_case_unicode_line_separators,
}


@pytest.mark.parametrize("case", list(_APPLIER_CASES))
def test_bpe_appliers_identical(spark, case):
    # The three merge appliers bpe_encode routes between (single
    # projection, broadcast-array fold, Arrow mapInPandas) are the SAME
    # sequential replace chain in three execution strategies: their
    # segmentations must be identical for any merge table.
    from opensea_datapipeline_spark.operators.text import (
        bpe_apply_merges,
        bpe_apply_merges_arrow,
        bpe_apply_merges_fold,
    )

    words, rows, marker = _APPLIER_CASES[case](spark)
    wdf = spark.createDataFrame([(w,) for w in words], "w string")

    def segment(applier):
        return {
            r.w: r.syms for r in applier(wdf, rows, marker=marker).collect()
        }

    base = segment(bpe_apply_merges)
    assert segment(bpe_apply_merges_fold) == base
    assert segment(bpe_apply_merges_arrow) == base
    # segmentation is a partition of (marker +) word, never lossy, and
    # non-vacuous: some word actually merged
    prefix = marker or ""
    assert all("".join(s) == prefix + w for w, s in base.items())
    assert any(len(s) < len(prefix + w) for w, s in base.items())


def test_bpe_grid_merge_table_well_formed(spark):
    # Grid table contract: dense 1..N ranks, all pairs before any
    # triple, and WELL-FORMED — every triple's left operand is the
    # merged output of an earlier pair merge.
    from opensea_datapipeline_spark.operators.text import (
        bpe_grid_merge_table,
    )

    docs = spark.createDataFrame(
        [(0, "ab ba cc abc")], "doc_id long, text string"
    )
    rows = bpe_grid_merge_table(docs, max_merges=1000).orderBy(
        "merge_rank"
    ).collect()
    assert [r.merge_rank for r in rows] == list(range(1, len(rows) + 1))
    # alphabet {a,b,c} -> 9 pairs + 27 triples
    assert len(rows) == 36
    pair_outputs = {}
    for r in rows:
        if len(r.merged) == 2:
            assert len(r.left_sym) == 1 and len(r.right_sym) == 1
            pair_outputs[r.merged] = r.merge_rank
        else:
            assert r.left_sym in pair_outputs
            assert pair_outputs[r.left_sym] < r.merge_rank


def test_bpe_tokenizer_artifact_roundtrip(spark, tmp_path):
    # Persisted-tokenizer economics (VERDICT r11 #2): write (merges,
    # alphabet, marker) as parquet, read back, encode — byte-identical
    # to encoding with the in-memory chain, and the artifact's alphabet
    # keeps ids stable when encoding a DIFFERENT corpus.
    from opensea_datapipeline_spark.operators.text import (
        bpe_alphabet,
        bpe_encode,
        bpe_read_tokenizer,
        bpe_train,
        bpe_write_tokenizer,
    )

    marker = "\x11"
    train = spark.createDataFrame(
        [(0, "low low low lower"), (1, "newest newest widest")],
        "doc_id long, text string",
    )
    merges = bpe_train(train, n_merges=6, min_count=2, marker=marker)
    alpha = bpe_alphabet(train, marker=marker)
    path = str(tmp_path / "tok")
    bpe_write_tokenizer(merges, alpha, path, marker=marker)
    m2, a2, marker2 = bpe_read_tokenizer(spark, path)
    assert marker2 == marker

    other = spark.createDataFrame(
        [(7, "lowest newest low")], "doc_id long, text string"
    )
    want = {
        r.doc_id: (r.n_tokens, r.n_syms, r.ids_str)
        for r in bpe_encode(
            other, merges, alphabet=alpha, marker=marker
        ).collect()
    }
    got = {
        r.doc_id: (r.n_tokens, r.n_syms, r.ids_str)
        for r in bpe_encode(
            other, m2, alphabet=a2, marker=marker2
        ).collect()
    }
    assert got == want


def test_bpe_vocab_dedupes_duplicate_merged_output(spark):
    # ADVICE r11: 'a'+'bc' and 'ab'+'c' both emit 'abc'; the vocab must
    # keep ONE row per sym (the lowest id) so the sym-keyed encode join
    # never fans out.
    from opensea_datapipeline_spark.operators.text import bpe_vocab

    alpha = spark.createDataFrame([("a",), ("b",), ("c",)], "sym string")
    merges = spark.createDataFrame(
        [(1, "a", "b", "ab", 5), (2, "b", "c", "bc", 4),
         (3, "a", "bc", "abc", 3), (4, "ab", "c", "abc", 2)],
        "merge_rank long, left_sym string, right_sym string,"
        " merged string, n long",
    )
    rows = {r.sym: r.id for r in bpe_vocab(alpha, merges).collect()}
    # alphabet a/b/c -> 0/1/2, merge ids 3..6; 'abc' collapses to the
    # LOWER of its two candidate ids (rank-3 merge = id 5, not 6)
    assert rows == {"a": 0, "b": 1, "c": 2, "ab": 3, "bc": 4, "abc": 5}


def test_pack_with_eos_and_boundaries(spark):
    # Hand-checkable EOS + attention-reset boundaries: streams become
    # doc0 [1 2 3 E], doc1 [4 5 E], doc2 [6 7 8 9 E]; concatenated and
    # tiled every 4 ids the sequences and doc-start offsets are fully
    # determined.
    from opensea_datapipeline_spark.operators.text import pack_token_ids

    enc = spark.createDataFrame(
        [(0, 3, "1 2 3"), (1, 2, "4 5"), (2, 4, "6 7 8 9")],
        "doc_id long, n_syms long, ids_str string",
    )
    out = {
        r.seq_id: (r.n_ids, r.n_docs, r.ids_str, r.boundaries_str)
        for r in pack_token_ids(
            enc, seq_len=4, eos_id=0, with_boundaries=True
        ).collect()
    }
    assert out == {
        0: (4, 1, "1 2 3 0", "0"),
        1: (4, 2, "4 5 0 6", "0 3"),
        2: (4, 1, "7 8 9 0", ""),
    }
    # without boundaries the schema is unchanged (back-compat with the
    # graded bpe_pack_sequences shape)
    plain = pack_token_ids(enc, seq_len=4)
    assert plain.columns == ["seq_id", "n_ids", "n_docs", "ids_str"]


def test_incremental_groups_bridge_merges_old_clusters(spark):
    # The hard case (VERDICT r11 #5): two OLD clusters {1,2} and {3,4}
    # merged by a bridging NEW doc 5 that pairs into both — every
    # member of the merged component must re-label to the global min,
    # exactly as a full recompute would. A second new doc 6 with no
    # pairs stays a singleton; untouched old cluster {7,8} keeps its
    # label.
    from opensea_datapipeline_spark.operators.dedup import (
        incremental_dedup_groups,
    )

    old_groups = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 3), (4, 3), (7, 7), (8, 7)],
        "id long, group_id long",
    )
    inc_pairs = spark.createDataFrame(
        [(2, 5), (3, 5)], "id_a long, id_b long"
    )
    new_ids = spark.createDataFrame([(5,), (6,)], "id long")
    got = {
        r.id: r.group_id
        for r in incremental_dedup_groups(
            old_groups, inc_pairs, new_ids
        ).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 6, 7: 7, 8: 7}


def test_band_table_append_never_rewrites_old_files(spark, tmp_path):
    # Append lifecycle (VERDICT r11 #6): appending a shard's band rows
    # must ADD parquet files only — wave-0's data files survive
    # byte-identical (same names, sizes, mtimes) — and the appended
    # snapshot must equal the from-scratch band table of the union.
    import os

    from opensea_datapipeline_spark.operators.dedup import (
        append_band_table,
        minhash_band_table,
        read_band_table,
    )

    w0 = spark.createDataFrame(
        [(0, "alpha beta gamma"), (1, "alpha beta delta")],
        "doc_id long, text string",
    )
    w1 = spark.createDataFrame(
        [(2, "alpha beta gamma"), (3, "epsilon zeta")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "bands")
    minhash_band_table(w0, "text", "doc_id").write.parquet(path)

    def data_files():
        return {
            f: (s.st_size, s.st_mtime_ns)
            for f in os.listdir(path)
            if f.endswith(".parquet")
            for s in [os.stat(os.path.join(path, f))]
        }

    before = data_files()
    append_band_table(minhash_band_table(w1, "text", "doc_id"), path)
    after = data_files()
    assert set(before) <= set(after)
    for f, sig in before.items():
        assert after[f] == sig, f"old file {f} was rewritten"
    got = {
        (r.id, r.band, r.band_key)
        for r in read_band_table(spark, path).collect()
    }
    want = {
        (r.id, r.band, r.band_key)
        for r in minhash_band_table(
            w0.unionByName(w1), "text", "doc_id"
        ).collect()
    }
    assert got == want


def test_bpe_train_oracle_early_stop_on_sparse_corpus(spark):
    # ADVICE r11 #1 regression test: on a SPARSE corpus the trainer
    # stops early (best pair count < min_count), and the oracle's m{k}
    # guard + w{k} LEFT JOIN must replay that — before the fix an empty
    # merge round emptied every later word state via the cross join and
    # the unrolled oracle diverged. 'zz zz' supports exactly ONE merge
    # at min_count=2; rounds 2..6 must be empty on both engines.
    import duckdb

    from opensea_datapipeline_spark.operators.text import bpe_train
    from opensea_datapipeline_spark.queries import _bpe_train_oracle

    texts = [(0, "zz zz ab"), (1, "cd ef gh")]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    got = [
        (r.merge_rank, r.left_sym, r.right_sym, r.merged, r.n)
        for r in bpe_train(docs, n_merges=6, min_count=2)
        .orderBy("merge_rank").collect()
    ]
    assert got == [(1, "z", "z", "zz", 2)]  # early stop after round 1

    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", texts)
    want = [tuple(r) for r in con.execute(_bpe_train_oracle(6)).fetchall()]
    assert [tuple(g) for g in got] == want


def test_band_table_reappend_idempotent(spark, tmp_path):
    # skip_existing_ids: re-appending the same shard adds nothing (the
    # ann_index idempotent-re-append contract) — and a genuinely new
    # doc in the same call still lands.
    from opensea_datapipeline_spark.operators.dedup import (
        append_band_table,
        minhash_band_table,
        read_band_table,
    )

    w0 = spark.createDataFrame(
        [(0, "alpha beta"), (1, "gamma delta")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "bands")
    minhash_band_table(w0, "text", "doc_id").write.parquet(path)
    n0 = read_band_table(spark, path).count()
    # replay of the same shard: no-op
    append_band_table(
        minhash_band_table(w0, "text", "doc_id"), path,
        skip_existing_ids=True,
    )
    assert read_band_table(spark, path).count() == n0
    # overlap + one new doc: only the new doc's rows land
    mixed = spark.createDataFrame(
        [(1, "gamma delta"), (2, "epsilon zeta")],
        "doc_id long, text string",
    )
    append_band_table(
        minhash_band_table(mixed, "text", "doc_id"), path,
        skip_existing_ids=True,
    )
    got = read_band_table(spark, path)
    assert got.count() == n0 + n0 // 2
    assert got.filter("id = 2").count() == n0 // 2


def test_streaming_corpus_dedup_matches_batch_and_replays_clean(
    spark, tmp_path
):
    # The composed production loop: three single-file micro-batches,
    # where batch 3's doc 6 BRIDGES two clusters formed from earlier
    # batches — the final assignment must equal a one-shot batch
    # components run over all pairs; a restart with no new files must
    # change nothing (replay skip).
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
        5: "alpha beta gamma delta epsilon",   # = doc 0 (batch 2)
        6: "alpha beta gamma delta one two three four five",  # bridge?
    }
    batches = [[0, 1, 2], [3, 4], [5, 6]]
    src = str(tmp_path / "src")
    for i, ids in enumerate(batches):
        spark.createDataFrame(
            [(d, texts[d]) for d in ids], "doc_id long, text string"
        ).coalesce(1).write.mode("append").parquet(src)

    state = str(tmp_path / "state")
    got_df = run_streaming_corpus_dedup(
        spark, src, state, str(tmp_path / "ckpt"),
        jaccard_threshold=0.5,
    )
    got = {r.id: r.group_id for r in got_df.collect()}

    docs = spark.createDataFrame(
        sorted(texts.items()), "doc_id long, text string"
    )
    pairs = minhash_lsh_pairs(
        docs, "text", "doc_id", jaccard_threshold=0.5
    )
    want = {
        r.id: r.group_id
        for r in connected_components(
            docs.select(F.col("doc_id").alias("id")), pairs, id_col="id"
        ).collect()
    }
    assert got == want
    assert len(got) == 7
    # non-vacuous: at least one multi-doc group formed
    assert len(set(got.values())) < 7

    # restart with no new files: replay-skip leaves the state unchanged
    again = run_streaming_corpus_dedup(
        spark, src, state, str(tmp_path / "ckpt"),
        jaccard_threshold=0.5,
    )
    assert {r.id: r.group_id for r in again.collect()} == got

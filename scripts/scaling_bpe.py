"""BPE training/encoding scale legs (r11): the claim under test is that
the ITERATIVE LOOP's cost is bounded by DISTINCT WORDS, not corpus
tokens — the corpus is scanned once into the (word, cnt) table and all
n_merges rounds run over that table.

Two growth axes, measured separately because they stress different
parts of the plan:
- corpus x10 VERBATIM (same documents repeated under new doc_ids):
  tokens grow 10x, the word table does NOT — per-round wall should stay
  ~flat and only the one-off word-frequency pass should grow.
- vocabulary x10 (the scaled_docs '~rep' word tagging from
  scaling_llm_paths): distinct words grow ~10x — the loop's pair-count
  agg and replace projection now run over 10x rows, the expected
  linear-in-vocab regime.

bpe_encode is timed at both corpus scales: its distinct-word
segmentation is vocab-bound, its token join + doc rebuild corpus-bound.

Applier legs (each off unless its flag is given):
- --project-fold=64,128,...: project vs fold, min-of-5 per depth, on a
  grid merge table over the SF corpus (sets _BPE_PROJECT_MAX);
- --crossover=512,1024,... [--crossover-words=N]: fold vs arrow on a
  synthetic vocabulary (sets _BPE_ARROW_CROSSOVER);
- --production-depth=N: fold vs arrow at one production depth.

Run:  python scripts/scaling_bpe.py [--scales=1,10] [--vocab=10000,100000]
          [--project-fold=...] [--crossover=...] [--production-depth=N]
"""
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from opensea_datapipeline_spark.operators import text as tx  # noqa: E402
from opensea_datapipeline_spark.operators.text import (  # noqa: E402
    _bpe_word_freq,
    bpe_encode,
    bpe_train,
)
from opensea_datapipeline_spark.session import get_spark  # noqa: E402
from opensea_datapipeline_spark.sources.readers import load_table  # noqa: E402
from scaling_hashed_grams import shuffle_bytes_snapshot  # noqa: E402
from scaling_llm_paths import REP_OFFSET, scaled_docs  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N_MERGES = 12


def verbatim_docs(base, mult):
    """mult copies of the SAME text under fresh doc_ids: token volume
    grows mult-x while the distinct-word table stays fixed."""
    if mult == 1:
        return base.select("doc_id", "text")
    reps = base.sparkSession.range(mult).select(F.col("id").alias("rep"))
    return (
        base.crossJoin(reps)
        .select(
            (F.col("doc_id") + F.col("rep") * REP_OFFSET).alias("doc_id"),
            "text",
        )
        .repartition(32)
    )


def timed(spark, tag, fn):
    before = shuffle_bytes_snapshot(spark)
    t0 = time.time()
    out = fn()
    wall = time.time() - t0
    after = shuffle_bytes_snapshot(spark)
    return out, {
        "op": tag,
        "wall_s": round(wall, 3),
        "shuffle_write_mb": round((after["w"] - before["w"]) / 1e6, 2),
        "shuffle_read_mb": round((after["r"] - before["r"]) / 1e6, 2),
    }


def run_leg(spark, docs, tag):
    out_dir = tempfile.mkdtemp(prefix=f"bpe_{tag}_")
    docs.write.mode("overwrite").parquet(
        os.path.join(out_dir, "documents.parquet")
    )
    d = spark.read.parquet(os.path.join(out_dir, "documents.parquet"))
    leg = {"leg": tag, "ops": []}
    wf = _bpe_word_freq(d, "text")
    leg["n_tokens"] = int(
        wf.agg(F.sum("cnt")).head()[0] or 0
    )
    leg["n_distinct_words"] = wf.count()
    # one-off corpus pass, measured alone (it is the only part of
    # training that should grow with verbatim corpus duplication)
    _, m = timed(
        spark,
        "word_freq_pass",
        lambda: wf.write.mode("overwrite").format("noop").save(),
    )
    leg["ops"].append(m)
    merges, m = timed(
        spark,
        f"bpe_train_{N_MERGES}",
        lambda: bpe_train(d, n_merges=N_MERGES, min_count=2),
    )
    m["per_round_s"] = round(m["wall_s"] / N_MERGES, 3)
    leg["ops"].append(m)
    _, m = timed(
        spark,
        "bpe_encode",
        lambda: bpe_encode(d, merges)
        .write.mode("overwrite")
        .format("noop")
        .save(),
    )
    leg["ops"].append(m)
    return leg


def synth_vocab_docs(spark, n_words):
    """n_words-word synthetic vocabulary (8-hex-char md5 words, so the
    base alphabet is 16 chars and pair merges are plentiful), one doc
    of 50 words per distinct word => every word ~50 occurrences. The
    testdata corpus has only 31 distinct words — far too small to
    stress the loop's vocab-bound stages."""
    return spark.range(n_words).select(
        F.col("id").alias("doc_id"),
        F.expr(
            f"array_join(transform(sequence(0, 49), i -> "
            f"substr(md5(cast(pmod(id * 50 + i, {n_words}) as string))"
            f", 1, 8)), ' ')"
        ).alias("text"),
    )


def synth_merge_rows(n):
    """n deterministic merge rows over the hex alphabet (md5-derived
    2-4 char symbols). NOT well-formed — irrelevant for applier cost:
    every replace() scans every word string whether or not it fires, so
    the per-merge cost is the scan, and an arbitrary table measures the
    same work a trained 32k vocabulary would."""
    import hashlib

    rows = []
    for i in range(n):
        h = hashlib.md5(f"m{i}".encode()).hexdigest()
        l_len = 2 + (i % 3)
        rows.append({
            "left_sym": h[:l_len],
            "right_sym": h[l_len:l_len + 1 + (i % 2)],
        })
    return rows


def run_production_depth_leg(spark, docs, depth):
    """The 32k claim, measured (r12): apply a production-vocabulary-size
    merge table through the fold and Arrow appliers over the bounded
    word table. The single-projection form is not even attempted — it
    does not compile at this depth."""
    from opensea_datapipeline_spark.operators.text import (
        bpe_apply_merges_arrow,
        bpe_apply_merges_fold,
    )

    words = (
        _bpe_word_freq(docs, "text").select("w").localCheckpoint(eager=True)
    )
    rows = synth_merge_rows(depth)
    leg = {"leg": f"production_depth_{depth}",
           "n_words": words.count(), "ops": []}
    for tag, fn in (
        ("fold", lambda: bpe_apply_merges_fold(words, rows)),
        ("arrow", lambda: bpe_apply_merges_arrow(words, rows)),
    ):
        _, m = timed(
            spark,
            f"{tag}_{depth}",
            lambda: fn().write.mode("overwrite").format("noop").save(),
        )
        leg["ops"].append(m)
    return leg


def run_project_fold_leg(spark, docs, depths, reps=5):
    """Where bpe_encode's router should switch from the single
    nested-replace projection to the broadcast-array fold
    (_BPE_PROJECT_MAX): both appliers timed at each depth, min of
    ``reps``, over the same checkpointed word table, with a grid merge
    table built from ``docs`` (well-formed, so later merges do real
    work). One unrecorded warm-up pass of each first."""
    from opensea_datapipeline_spark.operators.text import (
        bpe_apply_merges,
        bpe_apply_merges_fold,
        bpe_grid_merge_table,
    )

    words = (
        _bpe_word_freq(docs, "text").select("w").localCheckpoint(eager=True)
    )
    rows = bpe_grid_merge_table(docs, max_merges=max(depths))._bpe_local_rows
    leg = {"leg": "project_fold_crossover", "n_words": words.count(),
           "n_merges": len(rows), "reps": reps, "ops": []}
    appliers = (("project", bpe_apply_merges), ("fold", bpe_apply_merges_fold))
    for _, fn in appliers:
        fn(words, rows[: min(depths)]).write.mode("overwrite").format(
            "noop"
        ).save()
    for depth in depths:
        sub = rows[:depth]
        for tag, fn in appliers:
            best = None
            for _ in range(reps):
                _, m = timed(
                    spark,
                    f"{tag}_{depth}",
                    lambda: fn(words, sub).write.mode("overwrite")
                    .format("noop").save(),
                )
                if best is None or m["wall_s"] < best["wall_s"]:
                    best = m
            leg["ops"].append(best)
    return leg


def run_crossover_leg(spark, docs, depths):
    """r13 (VERDICT r12 #4): find the merge-count crossover where the
    Arrow serving applier overtakes the JVM fold
    (_BPE_ARROW_CROSSOVER). Both appliers timed at each depth over the
    same checkpointed word table, one JIT warm-up pass at the smallest
    depth first."""
    from opensea_datapipeline_spark.operators.text import (
        bpe_apply_merges_arrow,
        bpe_apply_merges_fold,
    )

    words = (
        _bpe_word_freq(docs, "text").select("w").localCheckpoint(eager=True)
    )
    rows = synth_merge_rows(max(depths))
    leg = {"leg": "applier_crossover",
           "n_words": words.count(), "ops": []}
    # warm-up: JIT all paths once at the smallest depth, unrecorded
    warm = rows[: min(depths)]
    bpe_apply_merges_fold(words, warm).write.mode(
        "overwrite"
    ).format("noop").save()
    bpe_apply_merges_arrow(words, warm).write.mode(
        "overwrite"
    ).format("noop").save()
    for depth in depths:
        sub = rows[:depth]
        for tag, fn in (
            ("fold", lambda: bpe_apply_merges_fold(words, sub)),
            ("arrow", lambda: bpe_apply_merges_arrow(words, sub)),
        ):
            _, m = timed(
                spark,
                f"{tag}_{depth}",
                lambda: fn().write.mode("overwrite")
                .format("noop").save(),
            )
            leg["ops"].append(m)
    return leg


def main() -> None:
    scales = [1, 10]
    vocab_sizes = [10_000, 100_000]
    project_fold = []
    for a in sys.argv[1:]:
        if a.startswith("--scales"):
            v = a.split("=", 1)[1]
            scales = [int(x) for x in v.split(",")] if v else []
        if a.startswith("--vocab"):
            v = a.split("=", 1)[1]
            vocab_sizes = [int(x) for x in v.split(",")] if v else []
        if a.startswith("--project-fold"):
            v = a.split("=", 1)[1]
            project_fold = [int(x) for x in v.split(",")] if v else []
    # the train legs document the DISTRIBUTED loop's scaling shape
    # (SCALING §bpe); the default gate would route the <=65536-word
    # synthetic legs to the driver loop
    tx._BPE_DRIVER_WORDS = 0
    spark = get_spark(
        "scaling-bpe", extra_configs={"spark.ui.enabled": "true"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    base = load_table(spark, SF_DIR, "documents")
    legs = []
    for mult in scales:
        leg = run_leg(spark, verbatim_docs(base, mult), f"corpus_{mult}x")
        print(json.dumps(leg))
        legs.append(leg)
    for mult in [m for m in scales if m > 1]:
        leg = run_leg(spark, scaled_docs(base, mult), f"vocab_{mult}x")
        print(json.dumps(leg))
        legs.append(leg)
    for n in vocab_sizes:
        leg = run_leg(
            spark, synth_vocab_docs(spark, n), f"synth_vocab_{n}"
        )
        print(json.dumps(leg))
        legs.append(leg)
    if project_fold:
        leg = run_project_fold_leg(spark, base, project_fold)
        print(json.dumps(leg))
        legs.append(leg)
    prod_depth = 0
    crossover = []
    crossover_words = 20_000
    for a in sys.argv[1:]:
        if a.startswith("--production-depth"):
            prod_depth = int(a.split("=", 1)[1])
        if a.startswith("--crossover-words"):
            crossover_words = int(a.split("=", 1)[1])
        elif a.startswith("--crossover"):
            v = a.split("=", 1)[1]
            crossover = [int(x) for x in v.split(",")] if v else []
    if crossover:
        leg = run_crossover_leg(
            spark, synth_vocab_docs(spark, crossover_words), crossover
        )
        leg["leg"] = f"applier_crossover_{crossover_words}w"
        print(json.dumps(leg))
        legs.append(leg)
    if prod_depth:
        leg = run_production_depth_leg(
            spark, synth_vocab_docs(spark, 20_000), prod_depth
        )
        print(json.dumps(leg))
        legs.append(leg)
    print(json.dumps({"legs": legs}))
    spark.stop()


if __name__ == "__main__":
    main()

"""CLI entry point — the analog of the reference's ``python run.py``
(`opensea_pipeline/run.py:168-219`).

    python -m opensea_datapipeline_spark run --events <path> --out <dir>
    python -m opensea_datapipeline_spark query <name> --sf-dir <dir> [-n 20]
    python -m opensea_datapipeline_spark list
    python -m opensea_datapipeline_spark index build|append|probe|stale \
        --path <dir> [--kind lsh|ivf|pq|ivfpq] [--embeddings|--queries ...]
    python -m opensea_datapipeline_spark tokenizer train|encode|decode \
        --path <artifact-dir> [--docs|--encoded <parquet>] [--marker C]
    python -m opensea_datapipeline_spark monitor --stream <glob> \
        --reference <parquet> --monitor-out <dir> --checkpoint <dir>
    python -m opensea_datapipeline_spark layout range|zorder|shards \
        --in <parquet> --out <dir> --cols <c1[,c2...]> [--num-files N]

Local mode by default; under spark-submit the session factory defers to
the submitted master.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="opensea_datapipeline_spark")
    sub = parser.add_subparsers(dest="cmd", required=True)

    p_run = sub.add_parser("run", help="run the core ETL pipeline")
    p_run.add_argument("--events", required=True, help="events parquet path")
    p_run.add_argument("--out", required=True, help="versioned output dir")

    p_q = sub.add_parser("query", help="run one registered query")
    p_q.add_argument("name")
    p_q.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    p_q.add_argument("-n", type=int, default=20, help="rows to show")

    sub.add_parser("list", help="list registered queries")

    p_e = sub.add_parser(
        "explain", help="scale audit of a query's physical plan (JSON)"
    )
    p_e.add_argument("name")
    p_e.add_argument("--sf-dir", default="/root/testdata/sf0.001")

    p_i = sub.add_parser(
        "index", help="ANN index lifecycle: build / append / probe"
    )
    p_i.add_argument("action", choices=["build", "append", "probe", "stale"])
    p_i.add_argument("--kind", choices=["lsh", "ivf", "pq", "ivfpq"],
                     help="index kind (required for build; append and "
                          "probe read it from the index meta and fail on "
                          "a given kind that differs; stale ignores it)")
    p_i.add_argument("--path", required=True, help="index directory")
    p_i.add_argument("--embeddings",
                     help="embeddings parquet (build/append input)")
    p_i.add_argument("--queries", help="query batch parquet (probe input)")
    p_i.add_argument("--id-col", default="vec_id")
    p_i.add_argument("--vec-col", default="embedding")
    p_i.add_argument("-k", type=int, default=10)
    p_i.add_argument("--n-probe", type=int, default=3)
    p_i.add_argument("--out", help="probe result parquet (default: show)")
    p_i.add_argument("--residual", action="store_true",
                     help="ivfpq build: encode residuals v̂ − centroid "
                          "(FAISS-style IVFADC) instead of raw vectors")
    p_i.add_argument("--rebuild-threshold", type=float, default=0.2,
                     help="stale: appended fraction that triggers a "
                          "rebuild recommendation")

    p_l = sub.add_parser(
        "layout", help="rewrite a parquet table into a pruning-friendly layout"
    )
    p_l.add_argument("kind", choices=["range", "zorder", "shards"])
    p_l.add_argument("--in", dest="in_path", required=True,
                     help="input parquet path")
    p_l.add_argument("--out", required=True, help="output parquet path")
    p_l.add_argument("--cols", required=True,
                     help="comma-separated cluster/shard column(s); range "
                          "takes one, zorder two+, shards one id column")
    p_l.add_argument("--num-files", type=int, default=32)
    p_l.add_argument("--bits", type=int, default=8,
                     help="zorder: bits per column in the Morton code")

    p_t = sub.add_parser(
        "tokenizer",
        help="tokenizer artifact lifecycle: train / encode / decode",
    )
    p_t.add_argument("action", choices=["train", "encode", "decode"])
    p_t.add_argument("--path", required=True, help="tokenizer artifact dir")
    p_t.add_argument("--docs",
                     help="documents parquet (train/encode input; decode "
                          "reads --encoded instead)")
    p_t.add_argument("--encoded",
                     help="encoded parquet (decode input: doc_id, ids_str)")
    p_t.add_argument("--id-col", default="doc_id")
    p_t.add_argument("--text-col", default="text")
    p_t.add_argument("--n-merges", type=int, default=64)
    p_t.add_argument("--min-count", type=int, default=2)
    p_t.add_argument("--marker", default=None,
                     help="boundary marker char (SentencePiece-style; "
                          "required at train time for decode to invert "
                          "encode)")
    p_t.add_argument("--out", help="output parquet (default: show)")

    p_m = sub.add_parser(
        "monitor", help="streaming PSI drift gate against a reference"
    )
    p_m.add_argument("--stream", required=True,
                     help="parquet stream dir/glob to score per micro-batch")
    p_m.add_argument("--reference", required=True,
                     help="frozen reference distribution (parquet)")
    p_m.add_argument("--monitor-out", required=True,
                     help="monitor table path (one row per batch)")
    p_m.add_argument("--checkpoint", required=True)
    p_m.add_argument("--value-col", default="value")
    p_m.add_argument("--bucket-width", type=float, default=25.0)
    p_m.add_argument("--max-bucket", type=int, default=8)

    p_g = sub.add_parser(
        "ingest",
        help="streaming ingest loops: ANN index / tokenizer artifact",
    )
    p_g.add_argument("target", choices=["ann", "tokenizer"])
    p_g.add_argument("--source", required=True,
                     help="parquet dir the stream reads (AvailableNow)")
    p_g.add_argument("--state", required=True,
                     help="loop state dir (versioned store + meta)")
    p_g.add_argument("--checkpoint", required=True)
    p_g.add_argument("--kind", choices=["lsh", "ivf", "pq", "ivfpq"],
                     default="ivf", help="ann: index kind")
    p_g.add_argument("--id-col", default=None,
                     help="default: vec_id (ann) / doc_id (tokenizer)")
    p_g.add_argument("--vec-col", default="embedding")
    p_g.add_argument("--text-col", default="text")
    p_g.add_argument("--n-lists", type=int, default=8)
    p_g.add_argument("--n-merges", type=int, default=64)
    p_g.add_argument("--marker", default=None)
    p_g.add_argument("--threshold", type=float, default=None,
                     help="rebuild/retrain trigger (default: 0.5 appended "
                          "fraction for ann, 0.001 OOV rate for tokenizer)")
    p_g.add_argument("--max-files-per-trigger", type=int, default=1)

    args = parser.parse_args(argv)

    from .queries import ORACLE, QUERIES

    if args.cmd == "list":
        for name in sorted(QUERIES):
            kind = "oracle" if name in ORACLE else "rows-only"
            print(f"{name}\t{kind}")
        return 0

    from pyspark.sql import SparkSession

    from .session import get_spark

    # only stop a session this invocation created — getOrCreate returns
    # any live session (embedded/test use), and stopping a borrowed one
    # would kill the caller's context
    borrowed = SparkSession.getActiveSession() is not None
    spark = get_spark("opensea-cli", freeze_gc=True)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        if args.cmd == "run":
            from .plans.pipeline import run_core_pipeline

            events = spark.read.parquet(args.events)
            # normalize ns timestamps like load_table does
            from pyspark.sql import functions as F

            if dict(events.dtypes).get("ts") == "bigint":
                events = events.withColumn(
                    "ts", F.timestamp_micros(F.expr("ts div 1000"))
                )
            res = run_core_pipeline(spark, events, output_dir=args.out)
            print(json.dumps({"metrics": res.metrics,
                              "timings": {k: round(v, 3) for k, v in res.timings.items()}}))
            return 0

        if args.cmd == "query":
            if args.name not in QUERIES:
                print(f"unknown query: {args.name}", file=sys.stderr)
                return 2
            QUERIES[args.name](spark, args.sf_dir).show(args.n, truncate=False)
            return 0

        if args.cmd == "explain":
            if args.name not in QUERIES:
                print(f"unknown query: {args.name}", file=sys.stderr)
                return 2
            from .plans.inspect import plan_summary

            print(json.dumps(
                plan_summary(QUERIES[args.name](spark, args.sf_dir)),
                indent=2,
            ))
            return 0

        if args.cmd == "layout":
            from pyspark.sql import functions as F

            from .sources import writers as wr

            cols = [c for c in args.cols.split(",") if c]
            df = spark.read.parquet(args.in_path)
            if args.kind == "range":
                if len(cols) != 1:
                    print("range layout takes exactly one column",
                          file=sys.stderr)
                    return 2
                wr.write_range_partitioned(
                    df, args.out, cols[0], num_files=args.num_files
                )
            elif args.kind == "zorder":
                if len(cols) < 2:
                    print("zorder needs two or more columns "
                          "(one column -> use range)", file=sys.stderr)
                    return 2
                wr.write_zorder_layout(
                    df, args.out, cols, bits=args.bits,
                    num_files=args.num_files,
                )
            else:
                if len(cols) != 1:
                    print("shards takes exactly one id column",
                          file=sys.stderr)
                    return 2
                wr.write_training_shards(
                    df, args.out, cols[0], n_shards=args.num_files
                )
            n_files = (
                spark.read.parquet(args.out)
                .select(F.input_file_name()).distinct().count()
            )
            print(json.dumps({
                "kind": args.kind, "out": args.out, "cols": cols,
                "rows": spark.read.parquet(args.out).count(),
                "files": n_files,
            }))
            return 0

        if args.cmd == "index":
            from .operators import ann_index as ai

            cols = dict(id_col=args.id_col, vec_col=args.vec_col)
            if args.action == "build":
                if not args.kind:
                    print("--kind is required for build", file=sys.stderr)
                    return 2
                emb = spark.read.parquet(args.embeddings)
                build = {
                    "lsh": ai.build_lsh_index,
                    "ivf": ai.build_ivf_index,
                    "pq": ai.build_pq_index,
                    "ivfpq": lambda e, **c: ai.build_ivfpq_index(
                        e, residual=args.residual, **c),
                }
                ai.write_index(build[args.kind](emb, **cols), args.path)
                return 0
            if args.action == "stale":
                print(json.dumps(ai.index_staleness(
                    spark, args.path,
                    rebuild_threshold=args.rebuild_threshold,
                )))
                return 0
            # append / probe: the kind is the meta's; a given --kind
            # must match it
            try:
                index = (
                    ai.read_index(spark, args.path, args.kind)
                    if args.action == "probe" or args.kind else None
                )
            except ValueError as exc:
                print(exc, file=sys.stderr)
                return 2
            if args.action == "append":
                ai.append_index(
                    spark, args.path, spark.read.parquet(args.embeddings),
                    **cols,
                )
                return 0
            compressed = isinstance(index, (ai.PqIndex, ai.IvfPqIndex))
            if compressed and not args.queries:
                print("--queries is required for pq/ivfpq probes "
                      "(bounded serving batch)", file=sys.stderr)
                return 2
            q = spark.read.parquet(args.queries) if args.queries else None
            if isinstance(index, ai.LshIndex):
                res = ai.lsh_probe(index, q, k=args.k, **cols)
            elif isinstance(index, ai.IvfIndex):
                res = ai.ivf_probe(
                    index, q, k=args.k, n_probe=args.n_probe, **cols)
            elif isinstance(index, ai.PqIndex):
                res = ai.pq_probe(index, q, k=args.k, **cols)
            else:
                res = ai.ivfpq_probe(
                    index, q, k=args.k, n_probe=args.n_probe, **cols)
            if args.out:
                res.write.mode("overwrite").parquet(args.out)
            else:
                res.show(50, truncate=False)
            return 0

        if args.cmd == "tokenizer":
            from .operators import text as tx

            if args.action == "train":
                if not args.docs:
                    print("--docs is required for train", file=sys.stderr)
                    return 2
                docs = spark.read.parquet(args.docs)
                merges = tx.bpe_train(
                    docs, n_merges=args.n_merges,
                    min_count=args.min_count, text_col=args.text_col,
                    marker=args.marker,
                )
                alpha = tx.bpe_alphabet(
                    docs, text_col=args.text_col, marker=args.marker
                )
                tx.bpe_write_tokenizer(
                    merges, alpha, args.path, marker=args.marker
                )
                print(json.dumps({
                    "path": args.path,
                    "n_merges": merges.count(),
                    "alphabet_size": alpha.count(),
                    "marker": args.marker,
                }))
                return 0
            merges, alpha, marker = tx.bpe_read_tokenizer(spark, args.path)
            if args.action == "encode":
                if not args.docs:
                    print("--docs is required for encode", file=sys.stderr)
                    return 2
                res = tx.bpe_encode(
                    spark.read.parquet(args.docs), merges,
                    id_col=args.id_col, text_col=args.text_col,
                    alphabet=alpha, marker=marker,
                )
            else:  # decode
                if not args.encoded:
                    print("--encoded is required for decode",
                          file=sys.stderr)
                    return 2
                if marker is None:
                    print("decode needs a tokenizer trained with --marker "
                          "(the GPT-style shape cannot recover word "
                          "boundaries)", file=sys.stderr)
                    return 2
                res = tx.bpe_decode(
                    spark.read.parquet(args.encoded), merges, alpha,
                    marker=marker, id_col=args.id_col,
                )
            if args.out:
                res.write.mode("overwrite").parquet(args.out)
            else:
                res.show(20, truncate=False)
            return 0

        if args.cmd == "ingest":
            def report(batch_id, wall_s, swapped):
                print(json.dumps({
                    "batch_id": batch_id, "wall_s": round(wall_s, 3),
                    ("rebuilt" if args.target == "ann" else "retrained"):
                        swapped,
                }))

            if args.target == "ann":
                from .streaming.ann_ingest import run_streaming_ann_ingest

                meta = run_streaming_ann_ingest(
                    spark, args.source, args.state, args.checkpoint,
                    id_col=args.id_col or "vec_id",
                    vec_col=args.vec_col,
                    kind=args.kind,
                    n_lists=args.n_lists,
                    rebuild_threshold=(
                        0.5 if args.threshold is None else args.threshold
                    ),
                    max_files_per_trigger=args.max_files_per_trigger,
                    on_batch=report,
                )
            else:
                from .streaming.tokenizer_ingest import (
                    run_streaming_tokenizer_ingest,
                )

                meta = run_streaming_tokenizer_ingest(
                    spark, args.source, args.state, args.checkpoint,
                    id_col=args.id_col or "doc_id",
                    text_col=args.text_col,
                    n_merges=args.n_merges,
                    marker=args.marker,
                    retrain_threshold=(
                        0.001 if args.threshold is None else args.threshold
                    ),
                    max_files_per_trigger=args.max_files_per_trigger,
                    on_batch=report,
                )
            print(json.dumps(meta))
            return 0

        if args.cmd == "monitor":
            from .streaming.quality import run_streaming_psi_monitor

            reference = spark.read.parquet(args.reference)
            run_streaming_psi_monitor(
                spark, args.stream, reference,
                monitor_path=args.monitor_out,
                checkpoint_dir=args.checkpoint,
                value_col=args.value_col,
                bucket_width=args.bucket_width,
                max_bucket=args.max_bucket,
                schema=reference.schema,
            )
            spark.read.parquet(args.monitor_out).orderBy("batch_id").show(
                50, truncate=False
            )
            return 0
    finally:
        if not borrowed:
            spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Measure the LLM-pipeline scale paths under 10x/100x corpus growth
(VERDICT r4 task #6): minhash_lsh_pairs, dedup_groups (connected_components),
knn_topk_lsh, ann_ivf_topk.

Growth model — the realistic direction for corpus growth:

  documents   a 500-doc slice of sf0.1 documents replicated with every
              word tagged by its replica index, so replica word-SETS are
              disjoint: each replica carries the same internal near-dup
              structure as the base corpus while replicas are NOT
              near-dups of each other. Near-dup RATE stays constant as
              N grows — true pairs grow ~linearly in N while possible
              pairs grow as N^2, which is exactly the regime LSH exists
              for. (The slice, not the full 5,000: the synthetic corpus
              is template-generated and 71%% of ALL pairs are word-set
              near-dups — measured at 1x — so absolute pair counts, not
              the growth law, are what the cap controls.)
  embeddings  sf0.1 embeddings (2,000 x dim-64) replicated with a
              per-replica circular shift of the vector — norm-preserving,
              keeps within-replica geometry identical to base, makes
              cross-replica similarity incidental. Replica 1 is instead a
              PLANTED near-duplicate of replica 0 (elementwise ±0.3
              perturbation, cos ~ 0.95): the synthetic corpus has no
              natural near-neighbors (top-10 sims are noise-level
              cos ~ 0.4-0.5, the worst case for any LSH), so
              ``planted_recall`` — did the query's twin make its top-k —
              is the recall gate that must stay FLAT across scales.

Per scale the documented tuning rules apply: LSH planes grow with
log2(N) (constant expected bucket), LSH tables with N^rho (rho =
ln(1/p1)/ln(1/p2) ~ 0.42 for hyperplane LSH at cos ~ 0.75 — the
Indyk-Motwani recall-holding rate), IVF lists with sqrt(N) and probes
with ~scale^0.3. The probe verifies the recall gate HOLDS while
per-query candidates grow sublinearly (~N^0.4, vs N for brute force).

Run:  python scripts/scaling_llm_paths.py [--scales 1,10,100]
"""
import dataclasses
import functools
import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from opensea_datapipeline_spark.functions.text import split_words
from opensea_datapipeline_spark.session import get_spark
from opensea_datapipeline_spark.sources.readers import load_table
from opensea_datapipeline_spark.operators import ann_index as ann
from opensea_datapipeline_spark.operators import dedup as dd
from opensea_datapipeline_spark.operators import similarity as sim

def pinned(index):
    """Eagerly localCheckpoint every table of an in-memory index, so
    repeated probes reuse the build instead of re-running its UDF
    passes (the in-memory analog of a persisted index)."""
    return dataclasses.replace(index, **{
        f.name: getattr(index, f.name).localCheckpoint(eager=True)
        for f in dataclasses.fields(index)
        if hasattr(getattr(index, f.name), "localCheckpoint")
    })


SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REP_OFFSET = 10_000_000


def scaled_docs(base, mult):
    if mult == 1:
        return base.select("doc_id", "text")
    reps = base.sparkSession.range(mult).select(F.col("id").alias("rep"))
    words = split_words("text")
    tagged = F.array_join(
        F.transform(
            words, lambda w: F.concat(w, F.lit("~"), F.col("rep").cast("string"))
        ),
        " ",
    )
    return (
        base.crossJoin(reps)
        .select(
            (F.col("doc_id") + F.col("rep") * REP_OFFSET).alias("doc_id"),
            F.when(F.col("rep") == 0, F.col("text")).otherwise(tagged).alias("text"),
        )
        .repartition(32)
    )


def scaled_embeddings(base, mult, dim):
    if mult == 1:
        return base.select("vec_id", "embedding")
    reps = base.sparkSession.range(mult).select(F.col("id").alias("rep"))
    shift = (F.col("rep") % dim).cast("int")
    rotated = F.when(F.col("rep") == 0, F.col("embedding")).otherwise(
        F.concat(
            F.slice(F.col("embedding"), shift + 1, F.lit(dim) - shift),
            F.slice(F.col("embedding"), 1, shift),
        )
    )
    # replica 1 = planted near-dup of replica 0: deterministic elementwise
    # perturbation, cos(v, twin) ~ 0.95
    planted = F.transform(
        F.col("embedding"),
        lambda x, i: x * (1.0 + 0.3 * F.sin(i.cast("double") + 1.0)),
    )
    vec = F.when(F.col("rep") == 1, planted).otherwise(rotated)
    return (
        base.crossJoin(reps)
        .select(
            (F.col("vec_id") + F.col("rep") * REP_OFFSET).alias("vec_id"),
            vec.cast("array<float>").alias("embedding"),
        )
        .repartition(32)
    )


def minhash_candidates(docs, num_hashes=8, band_size=2):
    """Candidate-pair count BEFORE Jaccard verification — the number LSH
    must keep sublinear in N^2 (mirrors minhash_lsh_pairs' band join)."""
    sigs = dd.minhash_signatures(docs, "text", "doc_id", num_hashes)
    n_bands = num_hashes // band_size
    band_rows = []
    for b in range(n_bands):
        cols = [F.col(f"sig_{b * band_size + j}") for j in range(band_size)]
        band_rows.append(
            sigs.select(
                F.col("doc_id").alias("id"),
                F.lit(b).alias("band"),
                F.concat_ws("|", *cols).alias("band_key"),
            )
        )
    bands = functools.reduce(lambda a, b: a.unionByName(b), band_rows)
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(b, on=["band", "band_key"], how="inner")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
        .count()
    )


def ann_recall(approx, exact):
    """Fraction of exact top-k pairs the approximate index recovered."""
    hits = approx.select("query_id", "neighbor_id").intersect(
        exact.select("query_id", "neighbor_id")
    )
    return hits.count() / max(exact.count(), 1)


def r7_extras(spark, emb_base, dim, scales):
    """Focused r7 follow-ups the full run's shapes can't isolate:

    - residual vs raw IVF-PQ recall at FULL probe (n_probe = n_lists) on
      the 100-query sample: partial-probe recall is dominated by WHICH
      lists are chosen, so the encoding improvement only separates when
      every list is scanned and pure ADC distortion decides ordering.
    - persisted-IVF probe pruning with a 5-query POINT-LOOKUP batch: the
      full run's 100-query batch probes ~93%% of the 447 lists at 100×
      (1−(1−12/447)^100), so file pruning has nothing to prune; the
      serving point-lookup shape probes ≤ 60 lists and the pushed filter
      shows up as files-read. Walls on this box are noisy (min-of-3, see
      SCALING.md method note); the FILE COUNT is the load-bearing number.
    - residual build wall, post `_l2_normalized` staging fix.
    """
    import tempfile

    report = {}
    for mult in scales:
        emb = scaled_embeddings(emb_base, mult, dim).localCheckpoint(eager=True)
        n_vec = emb.count()
        n_lists = max(16, int(math.sqrt(n_vec)))
        n_probe = max(3, round(3 * mult ** 0.3))
        entry = {"n_vectors": n_vec, "n_lists": n_lists, "n_probe": n_probe}
        batch = emb.filter(F.col("vec_id") < REP_OFFSET).localCheckpoint(
            eager=True
        )
        sample_ids = batch.select("vec_id").orderBy("vec_id").limit(100)
        sample = emb.join(sample_ids, "vec_id").localCheckpoint(eager=True)
        exact = sim.knn_topk_exact(
            emb, "vec_id", "embedding", k=10, queries=sample
        ).localCheckpoint(eager=True)

        for residual in (False, True):
            key = "residual" if residual else "raw"
            t0 = time.perf_counter()
            idx = pinned(ann.build_ivfpq_index(
                emb, "vec_id", "embedding", n_lists=n_lists, m=8, k=16,
                residual=residual,
            ))
            entry[f"ivfpq_{key}_build_sec"] = round(time.perf_counter() - t0, 2)
            full = ann.ivfpq_probe(idx, sample, k=10, n_probe=n_lists)
            entry[f"ivfpq_{key}_fullprobe_recall"] = round(
                ann_recall(full, exact), 3
            )

        # point-lookup pruning A/B against a written IVF index
        ivf_index = pinned(ann.build_ivf_index(
            emb, "vec_id", "embedding", n_lists=n_lists
        ))
        ivf_dir = tempfile.mkdtemp(prefix=f"r7x_ivf_{mult}x_")
        ann.write_index(ivf_index, ivf_dir)
        loaded = ann.read_index(spark, ivf_dir)
        point = batch.limit(5).localCheckpoint(eager=True)
        files_total = (
            spark.read.parquet(f"{ivf_dir}/assignments")
            .select(F.input_file_name()).distinct().count()
        )
        entry["assignment_files_total"] = files_total
        for flag, key in ((True, "pruned"), (False, "unpruned")):
            best = float("inf")
            for _ in range(3):
                t0 = time.perf_counter()
                res = ann.ivf_probe(
                    loaded, point, k=10, n_probe=n_probe, prune_scan=flag
                ).localCheckpoint(eager=True)
                best = min(best, time.perf_counter() - t0)
            entry[f"point_probe_{key}_sec"] = round(best, 2)
            del res
        # files the pruned scan actually reads: derive the probed-list
        # union with the probe's own centroid-ranking rule (numpy,
        # stable argsort — identical tie-break) and count distinct input
        # files under the list filter. (A plan-regex on the IN-set broke
        # once >10 values print as INSET; counting files directly is the
        # load-bearing number anyway.)
        import numpy as np

        crows = sorted(ivf_index.centroids.collect(), key=lambda r: r.list_id)
        cids = np.array([r.list_id for r in crows])
        C = np.vstack([r.centroid for r in crows]).astype(float)
        nm = np.linalg.norm(C, axis=1)
        nm[nm == 0] = 1
        Chat = (C.T / nm).T
        Q = np.vstack([r.embedding for r in point.collect()]).astype(float)
        order = np.argsort(-(Q @ Chat.T), axis=1, kind="stable")[:, :n_probe]
        probed_ids = sorted({int(cids[l]) for row in order for l in row})
        entry["point_probe_lists_probed"] = len(probed_ids)
        entry["point_probe_files_read"] = (
            spark.read.parquet(f"{ivf_dir}/assignments")
            .filter(F.col("list_id").isin(probed_ids))
            .select(F.input_file_name()).distinct().count()
        )
        report[f"{mult}x"] = entry
        print(json.dumps({f"{mult}x": entry}), file=sys.stderr)
    print(json.dumps({"r7_extras": report}, indent=2))


def semdedup_leg(spark, emb_base, dim, scales):
    """SemDeDup under growth (r7): k = √N clusters, exact pairs within
    clusters only. The planted-recall gate: replica 1 is an elementwise
    cos≈0.95 twin of replica 0, so the 2,000 (v, v+REP_OFFSET) pairs
    must surface as within-cluster pairs; total compare work is
    Σ(cluster²) ≈ N^1.5 at the √N rule instead of the N² cross-join."""
    report = {}
    for mult in scales:
        emb = scaled_embeddings(emb_base, mult, dim).localCheckpoint(eager=True)
        n_vec = emb.count()
        k = max(16, int(math.sqrt(n_vec)))
        entry = {"n_vectors": n_vec, "n_clusters": k}
        n_base = emb.filter(F.col("vec_id") < REP_OFFSET).count()
        for n_assign in (1, 2):
            tag = "" if n_assign == 1 else "_assign2"
            t0 = time.perf_counter()
            pairs = dd.semdedup_pairs(
                emb, "vec_id", "embedding", n_clusters=k, threshold=0.9,
                n_assign=n_assign,
            ).localCheckpoint(eager=True)
            n_pairs = pairs.count()
            entry[f"semdedup_wall_sec{tag}"] = round(
                time.perf_counter() - t0, 2
            )
            entry[f"n_pairs{tag}"] = n_pairs
            hits = pairs.filter(
                F.col("id_b") == F.col("id_a") + REP_OFFSET
            ).count()
            entry[f"planted_pair_recall{tag}"] = round(hits / n_base, 3)
        report[f"{mult}x"] = entry
        print(json.dumps({f"{mult}x": entry}), file=sys.stderr)
    print(json.dumps({"semdedup": report}, indent=2))


def structured_corpus(spark, n_vectors, dim, n_groups):
    """Deterministic CLUSTERED corpus (r8): per-group sinusoid center at
    a golden-angle frequency, members spread along a per-group 1-D
    manifold (t in [-1, 1] by member index), plus small per-vector
    noise. Unlike the rotated-replica noise corpus (top-10 sims
    ~0.4-0.5, worst case for any ANN), this has the neighbor structure
    real embedding tables have: similarity decays SMOOTHLY with |dt|,
    so exact top-10 is well-defined (a pure center+jitter blob makes
    all 400 members near-ties at cos~0.92 — no quantizer can resolve
    ties, and the sweep reads as noise; measured before this shape).
    KMeans at n_lists > n_groups splits each manifold into segments, so
    boundary queries genuinely need n_probe > 1 — the effect the sweep
    is sizing. All JVM-side (sequence + transform), no driver data."""
    g = (F.col("vec_id") % n_groups).cast("double")
    per = n_vectors / n_groups
    t = (F.floor(F.col("vec_id") / n_groups).cast("double") / F.lit(per - 1.0)
         - 0.5) * 2.0
    dims = F.sequence(F.lit(0), F.lit(dim - 1))
    vec = F.transform(
        dims,
        lambda d: (
            F.sin((g + 1.0) * (d.cast("double") + 1.0) * 2.39996 + g * 1.3)
            + 1.5 * t * F.sin(
                (g + 1.0) * (d.cast("double") + 1.0) * 1.93 + g * 0.7 + 2.1
            )
            + 0.15 * F.sin(
                F.col("vec_id").cast("double") * 0.7717
                + d.cast("double") * 1.111
            )
        ),
    )
    return (
        spark.range(n_vectors)
        .select(F.col("id").alias("vec_id"))
        .select("vec_id", vec.cast("array<float>").alias("embedding"))
        .repartition(32)
    )


def serving_sweep(spark, dim):
    """r8 (VERDICT #4): n_probe x rerank -> recall curve on a structured
    corpus, so an operator has actual sizing guidance — the noise-corpus
    recalls (0.17-0.33) say nothing about where the knee is on real
    data. 20k vectors in 50 clusters (400/cluster, the density of the
    r7 full-probe A/B fixture), raw IVF-PQ at the serving defaults
    (n_lists ~ sqrt(N), m=8, k=16), 100 spread queries, recall@10 vs
    exact. Walls are single-run (recall is the load-bearing number;
    box walls spread 2-6x, SCALING.md method note)."""
    n_vec, n_groups = 20_000, 50
    emb = structured_corpus(spark, n_vec, dim, n_groups).localCheckpoint(
        eager=True
    )
    n_lists = max(16, int(math.sqrt(n_vec)))
    queries = emb.filter(F.col("vec_id") % (n_vec // 100) == 0)
    exact = sim.knn_topk_exact(
        emb, "vec_id", "embedding", k=10, queries=queries
    ).localCheckpoint(eager=True)
    report = {
        "n_vectors": n_vec, "n_groups": n_groups, "n_lists": n_lists,
        "n_queries": 100, "k": 10, "indexes": [],
    }
    for m, kk in ((8, 16), (16, 256)):
        t0 = time.perf_counter()
        idx = pinned(ann.build_ivfpq_index(
            emb, "vec_id", "embedding", n_lists=n_lists, m=m, k=kk,
        ))
        entry = {
            "m": m, "k_codes": kk,
            "code_bits": m * math.log2(kk),
            "build_sec": round(time.perf_counter() - t0, 2),
            "sweep": [],
        }
        for n_probe in (1, 2, 4, 8):
            for overfetch in (0, 4, 16):
                t0 = time.perf_counter()
                got = ann.ivfpq_probe(
                    idx, queries, k=10, n_probe=n_probe,
                    rerank_with=emb if overfetch else None,
                    overfetch=max(overfetch, 1),
                ).localCheckpoint(eager=True)
                wall = round(time.perf_counter() - t0, 2)
                row = {
                    "n_probe": n_probe,
                    "overfetch": overfetch,
                    "recall": round(ann_recall(got, exact), 3),
                    "probe_sec": wall,
                }
                entry["sweep"].append(row)
                print(json.dumps({"m": m, "k": kk, **row}), file=sys.stderr)
        report["indexes"].append(entry)
    print(json.dumps({"serving_sweep": report}, indent=2))


def semdedup_amortized(spark, emb_base, dim, mult=100):
    """r8 (VERDICT #6): SemDeDup with the KMeans build amortized into a
    persisted index. The r7 legs rebuilt the quantizer in-run (build-
    dominated: ~30 of 31 s at 100x); the web-scale shape trains the
    coarse quantizer ONCE on a sample, persists it, and every dedup
    sweep after that is assignment + per-cluster Gram only. Records
    in-run wall vs (one-off build wall + pairs-only wall) + planted
    recall for both — recall must be unchanged (same centroids rule,
    sampled training)."""
    import tempfile

    from opensea_datapipeline_spark.operators.ann_index import (
        _l2_normalized, build_ivf_index, read_index, write_index,
    )

    emb = scaled_embeddings(emb_base, mult, dim).localCheckpoint(eager=True)
    n_vec = emb.count()
    k = max(16, int(math.sqrt(n_vec)))
    n_base = emb.filter(F.col("vec_id") < REP_OFFSET).count()
    report = {"n_vectors": n_vec, "n_clusters": k, "scale": f"{mult}x"}

    def planted_recall(pairs):
        hits = pairs.filter(
            F.col("id_b") == F.col("id_a") + REP_OFFSET
        ).count()
        return round(hits / n_base, 3)

    # path 1: in-run build (the r7 shape, full-corpus KMeans)
    t0 = time.perf_counter()
    pairs = dd.semdedup_pairs(
        emb, "vec_id", "embedding", n_clusters=k, threshold=0.9
    ).localCheckpoint(eager=True)
    report["inrun_wall_sec"] = round(time.perf_counter() - t0, 2)
    report["inrun_pairs"] = pairs.count()
    report["inrun_recall"] = planted_recall(pairs)

    # path 2: sampled-training build, persisted, then pairs-only
    base = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    train_rows = max(10_000, 50 * k)
    t0 = time.perf_counter()
    idx = pinned(build_ivf_index(
        _l2_normalized(base), "id", "vec", n_lists=k, train_rows=train_rows,
    ))
    idx_dir = tempfile.mkdtemp(prefix=f"r8_semdedup_ivf_{mult}x_")
    write_index(idx, idx_dir)
    report["amortized_build_sec"] = round(time.perf_counter() - t0, 2)
    report["train_rows"] = train_rows

    loaded = read_index(spark, idx_dir)
    t0 = time.perf_counter()
    pairs2 = dd.semdedup_pairs(
        emb, "vec_id", "embedding", threshold=0.9, index=loaded
    ).localCheckpoint(eager=True)
    report["amortized_pairs_wall_sec"] = round(time.perf_counter() - t0, 2)
    report["amortized_pairs"] = pairs2.count()
    report["amortized_recall"] = planted_recall(pairs2)
    print(json.dumps({"semdedup_amortized": report}, indent=2))


def main():
    scales = [1, 10, 100]
    skip_docs = "--skip-docs" in sys.argv
    for arg in sys.argv[1:]:
        if arg.startswith("--scales"):
            scales = [int(x) for x in arg.split("=", 1)[1].split(",")]
    spark = get_spark("scaling-llm")
    spark.sparkContext.setLogLevel("ERROR")
    docs_base = load_table(spark, SF_DIR, "documents").filter(
        F.col("doc_id") < 500
    )
    emb_base = load_table(spark, SF_DIR, "embeddings")
    dim = len(emb_base.select("embedding").first()[0])
    if "--r7-extras" in sys.argv:
        r7_extras(spark, emb_base, dim, [m for m in scales if m > 1])
        return
    if "--semdedup" in sys.argv:
        semdedup_leg(spark, emb_base, dim, [m for m in scales if m > 1])
        return
    if "--serving-sweep" in sys.argv:
        serving_sweep(spark, dim)
        return
    if "--semdedup-amortized" in sys.argv:
        semdedup_amortized(spark, emb_base, dim, max(scales))
        return
    report = {"sf_dir": SF_DIR, "scales": {}}

    for mult in scales:
        entry = {}
        if not skip_docs:
            docs = scaled_docs(docs_base, mult).localCheckpoint(eager=True)
            n_docs = docs.count()
            entry["n_docs"] = n_docs

            t0 = time.perf_counter()
            cand = minhash_candidates(docs)
            entry["minhash_candidates"] = cand
            entry["minhash_candidates_sec"] = round(time.perf_counter() - t0, 2)
            entry["cand_frac_of_allpairs"] = round(
                cand / (n_docs * (n_docs - 1) / 2), 8
            )

            t0 = time.perf_counter()
            pairs = dd.minhash_lsh_pairs(
                docs, "text", "doc_id", num_hashes=8, band_size=2,
                jaccard_threshold=0.7,
            ).localCheckpoint(eager=True)
            n_pairs = pairs.count()
            entry["verified_pairs"] = n_pairs
            entry["minhash_lsh_pairs_sec"] = round(time.perf_counter() - t0, 2)

            t0 = time.perf_counter()
            groups = dd.connected_components(
                docs.select("doc_id"), pairs, id_col="doc_id"
            )
            entry["dedup_groups"] = groups.select("group_id").distinct().count()
            entry["dedup_groups_auto_sec"] = round(time.perf_counter() - t0, 2)

        emb = scaled_embeddings(emb_base, mult, dim).localCheckpoint(eager=True)
        n_vec = emb.count()
        entry["n_vectors"] = n_vec

        # fixed 2,000-query batch (replica 0 = the 1x corpus) at every
        # scale: wall time then measures PER-QUERY cost growth, the
        # serving shape. Bucket size held ~constant (~64) by the planes
        # rule, so the flat-time claim is falsifiable.
        batch = emb.filter(F.col("vec_id") < REP_OFFSET).localCheckpoint(
            eager=True
        )
        n_planes = max(4, math.ceil(math.log2(n_vec / 64)))
        n_tables = math.ceil(8 * mult ** 0.415)
        entry["lsh_n_planes"] = n_planes
        entry["lsh_n_tables"] = n_tables
        # r6 index-lifecycle split: build ONCE (materialized signature
        # table = the persisted-index analog), then time probe-only —
        # the per-batch serving cost a persisted index actually pays
        t0 = time.perf_counter()
        lsh_index = pinned(ann.build_lsh_index(
            emb, "vec_id", "embedding", n_planes=n_planes,
            n_tables=n_tables, dim=dim,
        ))
        entry["lsh_build_sec"] = round(time.perf_counter() - t0, 2)
        # min-of-3 probes in one session (the table's stated discipline;
        # this host's contention bursts inflate single runs up to 5x, and
        # repeated probes ARE the serving shape a persisted index exists
        # for — run 1 additionally pays codegen/JIT)
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            approx = ann.lsh_probe(
                lsh_index, queries=batch, k=10
            ).localCheckpoint(eager=True)
            best = min(best, time.perf_counter() - t0)
        entry["lsh_probe_only_sec"] = round(best, 2)
        entry["knn_topk_lsh_batch_sec"] = round(
            entry["lsh_build_sec"] + entry["lsh_probe_only_sec"], 2
        )
        # rank-free candidate count: k=inf keeps every scored candidate
        n_cand = ann.lsh_probe(lsh_index, queries=batch, k=2**31).count()
        entry["lsh_cand_per_query"] = round(n_cand / batch.count(), 1)

        # recall gate on a fixed 100-query sample against brute-force truth
        sample_ids = batch.select("vec_id").orderBy("vec_id").limit(100)
        sample = emb.join(sample_ids, "vec_id")
        exact = sim.knn_topk_exact(
            emb, "vec_id", "embedding", k=10, queries=sample
        ).localCheckpoint(eager=True)
        entry["knn_lsh_recall"] = round(
            ann_recall(approx.join(sample_ids, approx.query_id ==
                                   sample_ids.vec_id), exact), 3
        )
        if mult > 1:
            # planted twin (vec_id + REP_OFFSET) must appear in its
            # query's approximate top-k — the flat-recall gate
            hits = approx.filter(
                F.col("neighbor_id") == F.col("query_id") + REP_OFFSET
            ).count()
            entry["lsh_planted_recall"] = round(hits / batch.count(), 3)

        n_lists = max(16, int(math.sqrt(n_vec)))
        n_probe = max(3, round(3 * mult ** 0.3))
        entry["ivf_n_lists"] = n_lists
        entry["ivf_n_probe"] = n_probe
        t0 = time.perf_counter()
        ivf_index = pinned(ann.build_ivf_index(
            emb, "vec_id", "embedding", n_lists=n_lists,
        ))
        entry["ivf_build_sec"] = round(time.perf_counter() - t0, 2)
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            ivf = ann.ivf_probe(
                ivf_index, queries=batch, k=10, n_probe=n_probe
            ).localCheckpoint(eager=True)
            best = min(best, time.perf_counter() - t0)
        entry["ivf_probe_only_sec"] = round(best, 2)
        entry["ann_ivf_batch_sec"] = round(
            entry["ivf_build_sec"] + entry["ivf_probe_only_sec"], 2
        )
        entry["ann_ivf_recall"] = round(
            ann_recall(ivf.join(sample_ids, ivf.query_id ==
                                sample_ids.vec_id), exact), 3
        )
        if mult > 1:
            hits = ivf.filter(
                F.col("neighbor_id") == F.col("query_id") + REP_OFFSET
            ).count()
            entry["ivf_planted_recall"] = round(hits / batch.count(), 3)

        # r6 product quantization: exhaustive scan over 8-byte codes
        # (vs 256-byte vectors — the memory-bandwidth path). Build =
        # driver-sample Lloyd + one Arrow encode pass; probe = ADC
        # mapInPandas with per-batch local top-k.
        t0 = time.perf_counter()
        pq_index = pinned(ann.build_pq_index(
            emb, "vec_id", "embedding", m=8, k=16,
        ))
        entry["pq_build_sec"] = round(time.perf_counter() - t0, 2)
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            pq = ann.pq_probe(pq_index, batch, k=10).localCheckpoint(
                eager=True
            )
            best = min(best, time.perf_counter() - t0)
        entry["pq_probe_only_sec"] = round(best, 2)
        entry["pq_recall"] = round(
            ann_recall(pq.join(sample_ids, pq.query_id ==
                               sample_ids.vec_id), exact), 3
        )
        if mult > 1:
            hits = pq.filter(
                F.col("neighbor_id") == F.col("query_id") + REP_OFFSET
            ).count()
            entry["pq_planted_recall"] = round(hits / batch.count(), 3)

        # r6 IVF-PQ: list-restricted compressed scan — n_probe of
        # n_lists partitions scanned, 8 B codes each. The composed
        # serving shape; probe should undercut plain PQ's exhaustive
        # compressed scan as N grows.
        t0 = time.perf_counter()
        ivfpq_index = pinned(ann.build_ivfpq_index(
            emb, "vec_id", "embedding", n_lists=n_lists, m=8, k=16,
        ))
        entry["ivfpq_build_sec"] = round(time.perf_counter() - t0, 2)
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            ivfpq = ann.ivfpq_probe(
                ivfpq_index, batch, k=10, n_probe=n_probe
            ).localCheckpoint(eager=True)
            best = min(best, time.perf_counter() - t0)
        entry["ivfpq_probe_only_sec"] = round(best, 2)
        entry["ivfpq_recall"] = round(
            ann_recall(ivfpq.join(sample_ids, ivfpq.query_id ==
                                  sample_ids.vec_id), exact), 3
        )
        if mult > 1:
            hits = ivfpq.filter(
                F.col("neighbor_id") == F.col("query_id") + REP_OFFSET
            ).count()
            entry["ivfpq_planted_recall"] = round(hits / batch.count(), 3)

        # two-stage serving: ADC over-fetch + exact float re-rank of
        # overfetch*k candidates — the recall ADC distortion costs must
        # come back without rescanning the corpus
        t0 = time.perf_counter()
        ivfpq_rr = ann.ivfpq_probe(
            ivfpq_index, batch, k=10, n_probe=n_probe,
            rerank_with=emb, overfetch=8,
        ).localCheckpoint(eager=True)
        entry["ivfpq_rerank_sec"] = round(time.perf_counter() - t0, 2)
        entry["ivfpq_rerank_recall"] = round(
            ann_recall(ivfpq_rr.join(sample_ids, ivfpq_rr.query_id ==
                                     sample_ids.vec_id), exact), 3
        )

        # r7 residual IVF-PQ (VERDICT r6 #4): same n_lists/m/k budget,
        # codebooks trained on residuals v̂ − centroid(list) — the
        # sample-recall lift raw-vector codes leave on the table.
        t0 = time.perf_counter()
        res_index = pinned(ann.build_ivfpq_index(
            emb, "vec_id", "embedding", n_lists=n_lists, m=8, k=16,
            residual=True,
        ))
        entry["ivfpq_residual_build_sec"] = round(time.perf_counter() - t0, 2)
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            res_pq = ann.ivfpq_probe(
                res_index, batch, k=10, n_probe=n_probe
            ).localCheckpoint(eager=True)
            best = min(best, time.perf_counter() - t0)
        entry["ivfpq_residual_probe_only_sec"] = round(best, 2)
        entry["ivfpq_residual_recall"] = round(
            ann_recall(res_pq.join(sample_ids, res_pq.query_id ==
                                   sample_ids.vec_id), exact), 3
        )
        if mult > 1:
            hits = res_pq.filter(
                F.col("neighbor_id") == F.col("query_id") + REP_OFFSET
            ).count()
            entry["ivfpq_residual_planted_recall"] = round(
                hits / batch.count(), 3
            )

        if mult > 1:
            # r7 persisted-index probe with probed-list FILE pruning
            # (VERDICT r6 #2): a bounded serving batch probes a handful
            # of lists, and the pushed list_id filter turns the
            # partitionBy("list_id") layout into Catalyst partition
            # pruning — A/B'd via ivf_probe's prune_scan flag against
            # the same written index, min-of-3 each, 100-query batch.
            import tempfile

            ivf_dir = tempfile.mkdtemp(prefix=f"scaling_ivf_{mult}x_")
            ann.write_index(ivf_index, ivf_dir)
            loaded_ivf = ann.read_index(spark, ivf_dir)
            small = batch.limit(100).localCheckpoint(eager=True)
            for flag, key in ((True, "pruned"), (False, "unpruned")):
                best = float("inf")
                for _ in range(3):
                    t0 = time.perf_counter()
                    ann.ivf_probe(
                        loaded_ivf, small, k=10, n_probe=n_probe,
                        prune_scan=flag,
                    ).localCheckpoint(eager=True)
                    best = min(best, time.perf_counter() - t0)
                entry[f"ivf_persisted_probe_{key}_sec"] = round(best, 2)

            ivfpq_dir = tempfile.mkdtemp(prefix=f"scaling_ivfpq_{mult}x_")
            ann.write_index(ivfpq_index, ivfpq_dir)
            loaded_ivfpq = ann.read_index(spark, ivfpq_dir)
            best = float("inf")
            for _ in range(3):
                t0 = time.perf_counter()
                ann.ivfpq_probe(
                    loaded_ivfpq, small, k=10, n_probe=n_probe
                ).localCheckpoint(eager=True)
                best = min(best, time.perf_counter() - t0)
            entry["ivfpq_persisted_probe_small_sec"] = round(best, 2)

        if mult > 1:
            # r6 incremental append: the daily-ingest shape. Delta = the
            # last replica (1/mult of the corpus — 1% at 100x); the prefix
            # index is built and persisted untimed (it exists already in
            # serving), then the persisted append wall (anti-join, encode,
            # parquet append, meta bump) is timed and compared against the
            # same run's full-rebuild wall (lsh_build_sec / ivf_build_sec).
            import tempfile

            delta = emb.filter(
                F.col("vec_id") >= (mult - 1) * REP_OFFSET
            ).localCheckpoint(eager=True)
            prefix = emb.filter(F.col("vec_id") < (mult - 1) * REP_OFFSET)
            entry["append_delta_frac"] = round(1.0 / mult, 3)
            builds = {
                "lsh": lambda: ann.build_lsh_index(
                    prefix, "vec_id", "embedding", n_planes=n_planes,
                    n_tables=n_tables, dim=dim,
                ),
                "ivf": lambda: ann.build_ivf_index(
                    prefix, "vec_id", "embedding", n_lists=n_lists,
                ),
            }
            for kind, build in builds.items():
                idx_dir = tempfile.mkdtemp(prefix=f"scaling_{kind}_app_{mult}x_")
                ann.write_index(build(), idx_dir)
                t0 = time.perf_counter()
                ann.append_index(spark, idx_dir, delta, "vec_id", "embedding")
                entry[f"{kind}_append_delta_sec"] = round(
                    time.perf_counter() - t0, 2
                )
                appended = ann.read_index(spark, idx_dir)
                main = appended.vectors if kind == "lsh" else appended.assignments
                entry[f"{kind}_append_rows"] = main.count()

        report["scales"][f"{mult}x"] = entry
        print(json.dumps({f"{mult}x": entry}), file=sys.stderr)

    print(json.dumps(report, indent=2))


if __name__ == "__main__":
    main()

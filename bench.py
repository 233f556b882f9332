"""Benchmark the headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line:
  {"metric": "suite_seconds", "value": N, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...}

Per-query time is measured as plan-build + execute-to-driver (collect);
session startup is excluded (BASELINE.md counts it as overhead outside the
per-query measurement). Each query is the same callable the driver grades
via __spark_entry__.queries().

Stability protocol (round-5): the suite runs as TWO passes over the query
list (3 runs then 2 runs per query); the recorded per-query time is the
min of all 5. The record carries an ``env`` block (spark/python version,
the effective master and core count, ``$SPARK_GRAFT_CPUS``, the SF dir,
load averages at start/end) and, when a prior round's record
exists, both the raw ``vs_prev`` delta and an environment-normalized
``vs_prev_norm``: raw deltas divide by ``env_ratio`` — the median of
cur/prev over all shared queries — so a uniform machine/Spark-version
slowdown (ratio ≈ env_ratio for every query) normalizes to ~0 while a
genuine single-plan regression survives. ``tfidf_top_terms`` is the
documented noise canary: its code has been frozen since round 2, so any
movement in it is pure environment (round 4 saw 0.74 s vs a judge-run
2.35 s on identical plans).

Round-6 hardening: a per-query ``noise_band`` (worst cross-pass spread
this round or last, 50 ms floor — raised to a 0.15 s ABSOLUTE floor in
r15 for queries whose prior walltime was <= 1.2 s, where a single JIT
hiccup or GC pause exceeds 50 ms and six of r14's ten band-exceeds were
exactly such non-events; VERDICT r14 #6) accompanies the normalized
deltas;
``vs_prev_norm_exceeds_band`` lists the queries outside their band, and
``normalization_unstable`` self-flags the record when the canary ITSELF
exceeds its band — round 5's canary moved 1.21× raw against an
env_ratio of 0.584, so that round's normalized deltas measured
environment, not plans. Prior-round times also survive driver-side tail
truncation: a record that lost its ``queries`` block but kept
``vs_prev`` is reconstructed from the round before plus the deltas.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from opensea_datapipeline_spark.queries import QUERIES
from opensea_datapipeline_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set: one per operator family, weighted toward the shapes that
# dominate at scale (wide agg, multi-join, range join, similarity, dedup).
HEADLINE = [
    "daily_stats",          # flagship: filter+agg+pivot (A1-A3)
    "user_stats",           # per-entity agg (A4/A5)
    "two_sided_dim",        # dual agg + full-outer join (A7)
    "pricing_summary",      # TPC-H Q1 shape: scan-heavy wide agg
    "segment_revenue",      # TPC-H Q3 shape: 3-way join
    "quantile_filter_agg",  # exact percentile + re-scan (P12)
    "peer_window_1h",       # range self-join + per-row window agg (J7/A12)
    "rolling_daily_mean",   # window functions (W3)
    "topk_per_user",        # ranked window top-k (W8)
    "knn_topk",             # exact cosine top-k join (J8)
    "exact_dedup",          # hash dedup
    "minhash_signatures",   # minhash (LLM-pipeline extension)
    "token_stats",          # text analysis
    "language_id",          # text classification
    "language_id_cjk",      # + CJK char-bigram profiles (r7)
    "clean_events_pipeline",  # full ETL cleaner (normalize->dedup->project)
    "asof_last_click",      # as-of join composition
    "sessionization",       # gap-based sessions (stacked windows)
    "neighbor_peer_window", # J7 neighbor-map range join
    "group_regression",     # applyInPandas per-group OLS
    "local_supplier_revenue",  # TPC-H Q5 shape: 6-way join
    "large_orders",         # TPC-H Q18 shape: having semi-join
    "nation_trade_volume",  # TPC-H Q7 shape: two-chain nation pair join
    "late_supplier_blame",  # TPC-H Q21 shape: decorrelated exists/not-exists
    "order_status_rollup",  # grouping sets in one shuffle
    "small_quantity_revenue",  # TPC-H Q17 shape: decorrelated avg join
    "corpus_curation",      # quality filter -> dedup -> token budget
    "document_chunks",      # overlap chunking fan-out
    "tfidf_top_terms",      # tf-idf join + ranking window
    "event_cube_stats",     # CUBE lattice in one Expand+agg shuffle
    "dedup_groups",         # iterative connected components (pairs->groups)
    "embedding_array_stats",  # higher-order array ops, codegen-bound
    "group_p90_distributed",  # per-group exact percentile, no value buffer
    "order_shipping_priority",  # TPC-H Q3 shape: filtered broadcast + top-N heaps
    "returned_item_losses",     # TPC-H Q10 shape: quarter slice + top-N heaps
    "domain_mix_resample",      # temperature mixing: broadcast rate join (r6)
    "training_shard_stats",     # portable shard manifest, one agg shuffle (r6)
    "ann_persisted_probe",      # serving path: probe-only vs persisted IVF-PQ
                                # (build memoized per process; min-of-5
                                # amortizes it out exactly as production does)
    "order_priority_check",     # TPC-H Q4 shape: correlated EXISTS as semi join (r8)
    "product_profit",           # TPC-H Q9 shape: 5-way join, broadcast dims (r8)
    "customer_distribution",    # TPC-H Q13 shape: outer-join count histogram (r8)
    "discounted_revenue",       # TPC-H Q19 shape: disjunctive predicate pushdown (r8)
    "funnel_conversion",        # ordered-stage funnel, decorrelated min-ts joins (r8)
    "rolling_active_users",     # DAU/WAU via explode-to-window-days (r8)
    "forecast_revenue",         # TPC-H Q6 shape: canonical full-pushdown scan (r8)
    "important_stock",          # TPC-H Q11 shape: scalar-subquery threshold (r8)
    "excess_suppliers",         # TPC-H Q20 shape: window share-of-part filter (r8)
    "llm_corpus_pipeline",      # end-to-end curation chain (r8)
    "heavy_hitter_users",       # bounded-state Misra-Gries + exact verify.
                                # NOTE: at sf0.1 user_id is low-skew, so this
                                # entry times the designed EXACT-FALLBACK path
                                # (certification correctly fails); the certified
                                # sketch path is measured in SCALING.md §r10.
                                # r8's faster number timed a bug (0 rows).
    "dup_ngram_fraction",       # cross-doc duplicated 8-gram share (r8)
    "token_entropy",            # per-doc Shannon entropy, one exchange (r8)
    "bigram_logprob_scores",    # self-trained bigram-LM quality filter (r8)
    "association_rules",        # market-basket lift, cached basket fan-out (r8)
    "session_window_stats",     # native SessionWindow merge (r8)
    "ewma_daily",               # exponential smoothing, ratio-of-running-sums (r8)
    "duplicate_token_spans",    # Lee-et-al dup-span report: gram window +
                                # island merge (r10)
    "span_cut_corpus",          # actionable substring cut + text rebuild (r10)
    "countmin_user_frequency",  # CM sketch build: map-side-collapsed
                                # 4x1024 counters + broadcast probe (r10)
    "nb_quality_classifier",    # in-plan naive-Bayes BOW filter (r10)
    "bloom_pruned_segment_revenue",  # literal-bitmask scan prune +
                                # broadcast FP-removal join (r10)
    "embedding_covariance",     # mapInPandas X^T X partials, <= tasks*d^2
                                # exchange (r10)
    "label_prop_communities",   # 5-round synchronous LPA, counted-table
                                # argmax windows (r10)
    "vocab_encode_documents",   # tokenizer-apply: broadcast vocab join +
                                # ordered id rebuild (r10)
    "jl_project_embeddings",    # JL sign projection: 16 literal codegen
                                # dots per row (r10).
    "streaming_topk_users",     # MG-merge state table across 3 availableNow
                                # batches: versioned dir-swap state + replay
                                # skip — the gold-pattern path that regresses
                                # silently (r11; VERDICT r10 #5). Timed cost
                                # includes the per-run source rewrite to a
                                # fresh tmp dir (the streaming harness).
    "streaming_kmv_distinct_users",  # bottom-k lossless-merge sketch state
                                # across 3 batches (r11; same rationale).
    "bpe_train_merges",         # iterative BPE training: 12 sequential
                                # merge rounds over the word-freq table,
                                # 1-row argmax collect per round (r11)
    "bpe_encode_documents",     # subword encode: 8-merge nested-replace
                                # segmentation of DISTINCT words + word-keyed
                                # token join + ordered doc rebuild; cost
                                # includes the in-plan 8-round train (r11)
    "bpe_encode_staged_2k",     # production-vocab scale path: 16
                                # checkpointed stages of 128 replaces over a
                                # constructed 2048-merge grid table (r12)
    "bpe_encode_from_artifact", # serving economics: tokenizer trained+
                                # persisted once per process, every pass is
                                # read-artifact + encode (r12)
    "band_table_append_probe",  # incremental-dedup serving probe against
                                # the appended two-generation band-table
                                # snapshot (build memoized per process; r12)
                                # NOT headliners: bpe_encode_arrow_2k (same
                                # seam+cost as staged_2k), incremental_dedup_
                                # groups (two CC runs = inherent checkpoint
                                # job overhead, ~17 s of fixed cost that
                                # would drown the suite signal; graded for
                                # correctness every round regardless)
                                # containment_* queries are NOT headliners by
                                # the corpus_curation_near_dup precedent: the
                                # template corpus is ~33% true containment
                                # pairs at t=0.9 (8.3M pairs at sf0.1), so any
                                # correct algorithm is output-bound there.
]


# Two suite passes; the per-query stat is the min over 3+2=5 runs. The
# first run of pass 1 pays one-off whole-stage-codegen JIT compilation
# (amortized in any real deployment); splitting the remaining runs across
# two passes separated by the whole suite samples two load regimes of a
# shared box, which a single burst of 5 back-to-back runs would not.
PASS_RUNS = (3, 2)

# Code frozen since round 2 — any movement here is pure environment.
NOISE_CANARY = "tfidf_top_terms"
# r6: one canary is too few to adjudicate (its own record can be the
# outlier — r5's reconstructed tail inflated tfidf's baseline and the
# single-canary flag fired on two quiet runs). Three frozen queries
# vote; normalization is unstable when a MAJORITY exceed their bands.
NOISE_CANARIES = ("tfidf_top_terms", "pricing_summary", "rolling_daily_mean")
# A re-run whose env or canary normalization ratio strays outside
# [1/CEIL, CEIL] does not overwrite an existing round record (it lands
# in *_noisy.json instead). r13's quiet record ran at 1.08/1.09; the
# clobbering noisy run at 1.28/1.26 — 1.15 splits them with margin on
# both sides. The band is SYMMETRIC: a ratio far BELOW 1 is the same
# box-noise signal in the other direction (r5 ran at env 0.584).
NOISY_RATIO_CEIL = 1.15

# The round records (BENCH_LOCAL_rNN.json) form one vs_prev chain taken at
# this effective core count. A run at any other count is kept beside the
# chain in a ``_cN`` file that ``_local_queries`` never reads: at sf0.1 an
# 8-core suite ran 53.06 s against 49.74 s at 32 cores, and a chain
# record from it would shift every later delta.
RECORD_CPUS = 32


def _local_record_name(round_n: int, cpus: int, noisy_box: bool,
                       have_record: bool) -> str:
    """File name of this run's full record: the round's chain record, its
    ``_noisy`` sibling when a noisy re-run must not clobber a quiet
    record, or a ``_cN`` file for a run at another core count."""
    name = f"BENCH_LOCAL_r{round_n:02d}"
    if cpus != RECORD_CPUS:
        return f"{name}_c{cpus}.json"
    if noisy_box and have_record:
        return f"{name}_noisy.json"
    return f"{name}.json"


def _is_noisy_box(*ratios: "float | None") -> bool:
    """True when any normalization ratio strays outside the symmetric
    [1/CEIL, CEIL] band. `None` (no prior round / no shared queries)
    means "cannot judge" and is treated as quiet; 0.0 is an EXTREME
    noise signal and must NOT be coerced to quiet (ADVICE r14 #3 — the
    old `or 1.0` form did exactly that)."""
    return any(
        r is not None
        and not (1.0 / NOISY_RATIO_CEIL <= r <= NOISY_RATIO_CEIL)
        for r in ratios
    )


def _band_floor(prev_time_s: float) -> float:
    """Minimum noise band for a query whose previous-round walltime was
    ``prev_time_s``. Sub-1.2 s queries get a 0.15 s ABSOLUTE floor — at
    those walltimes one JIT hiccup or GC pause exceeds the old 0.05
    normalized floor and trips the exceeds-band protocol on nothing a
    human would chase (six of r14's ten "exceeds" were such queries;
    VERDICT r14 #6). Larger queries keep the tighter 0.05 floor."""
    return 0.15 if prev_time_s <= 1.2 else 0.05


def _round_num(path: str) -> int:
    m = re.search(r"_r(\d+)", os.path.basename(path))
    return int(m.group(1)) if m else -1


def _tail_obj(rec: dict, key: str) -> dict:
    """A JSON-object field from a prior round's record, however the driver
    stored it: our own raw JSON line, the driver's wrapper with a
    ``parsed`` copy, or — when ``parsed`` is null because the driver kept
    only a (possibly left-truncated) ``tail`` of stdout — the object
    brace-matched out of that tail."""
    parsed = rec.get("parsed") or rec
    v = parsed.get(key)
    if isinstance(v, dict):
        return v
    tail = rec.get("tail", "")
    start = tail.find(f'"{key}": {{')
    if start == -1:
        return {}
    start = tail.index("{", start)
    depth = 0
    for i in range(start, len(tail)):
        depth += {"{": 1, "}": -1}.get(tail[i], 0)
        if depth == 0:
            try:
                return json.loads(tail[start : i + 1])
            except ValueError:
                return {}
    return {}


def _load_recs(paths: list[str]) -> list[dict]:
    recs = []
    for p in paths:
        try:
            with open(p) as f:
                recs.append(json.load(f))
        except (OSError, ValueError):
            recs.append({})
    return recs


def _local_queries(round_n: int) -> dict:
    """Per-query times from this repo's own committed full record for a
    round (``BENCH_LOCAL_rNN.json``, written by every bench run since r7)
    — the primary defense against driver-side tail truncation, which by
    r6 had eaten ``queries`` AND ``vs_prev`` (VERDICT r6 #3)."""
    here = os.path.dirname(os.path.abspath(__file__))
    for name in (f"BENCH_LOCAL_r{round_n:02d}.json",
                 f"BENCH_LOCAL_r{round_n}.json"):
        try:
            with open(os.path.join(here, name)) as f:
                q = json.load(f).get("queries")
            if isinstance(q, dict) and q:
                return q
        except (OSError, ValueError):
            continue
    return {}


def _prev_queries(recs: list[dict], paths: list[str] | None = None) -> dict:
    """Per-query times from the latest prior round, in preference order:
    the driver record's own ``queries`` block; the committed
    ``BENCH_LOCAL_rN.json`` full record for that round; reconstruction
    from the round before plus the driver tail's ``vs_prev`` deltas
    (enough for r5-style truncation, not for r6's, which lost the
    ``vs_prev`` key itself — hence the local record)."""
    if not recs:
        return {}
    q = _tail_obj(recs[-1], "queries")
    if q:
        return q
    if paths:
        q = _local_queries(_round_num(paths[-1]))
        if q:
            return q
    delta = _tail_obj(recs[-1], "vs_prev")
    if delta and len(recs) >= 2:
        base = _prev_queries(recs[:-1], paths[:-1] if paths else None)
        return {
            k: round(base[k] + d, 3) for k, d in delta.items() if k in base
        }
    return {}


def _streaming_overhead_split(spark) -> dict:
    """Fixed vs marginal micro-batch cost for the streaming headliners
    (VERDICT r11 #7): each runner is timed ONCE with a 1-file and a
    3-file source (maxFilesPerTrigger=1 → one micro-batch per file);
    marginal = (t3 - t1) / 2, fixed = t1 - marginal. Single runs, not
    min-of-N — this is a decomposition probe, not a regression stat;
    the headline min-of-5 numbers stay authoritative for totals."""
    import tempfile

    from opensea_datapipeline_spark.sources.readers import load_table
    from opensea_datapipeline_spark.streaming.sketch import (
        run_streaming_kmv,
    )
    from opensea_datapipeline_spark.streaming.topk import (
        run_streaming_topk,
    )

    ev = load_table(spark, SF_DIR, "events").select(
        "ts", "user_id", "value"
    )

    runners = {
        "streaming_topk_users": lambda src: run_streaming_topk(
            spark, src,
            tempfile.mkdtemp(prefix="split_state_"),
            tempfile.mkdtemp(prefix="split_ckpt_"),
            key_col="user_id", cap=1_000_000,
        ).collect(),
        "streaming_kmv_distinct_users": lambda src: run_streaming_kmv(
            spark, src,
            tempfile.mkdtemp(prefix="split_state_"),
            tempfile.mkdtemp(prefix="split_ckpt_"),
            key_col="user_id", k=64,
        ).collect(),
    }
    out = {}
    for name, run in runners.items():
        walls = {}
        # warm-up run (unrecorded): without it the first timed leg
        # absorbs one-off codegen JIT and the split degenerates
        warm = tempfile.mkdtemp(prefix="split_src_")
        ev.repartition(1).write.mode("overwrite").parquet(warm)
        run(warm)
        for n_files in (1, 3):
            src = tempfile.mkdtemp(prefix="split_src_")
            ev.repartition(n_files).write.mode("overwrite").parquet(src)
            t0 = time.perf_counter()
            run(src)
            walls[n_files] = time.perf_counter() - t0
        marginal = max((walls[3] - walls[1]) / 2.0, 0.0)
        out[name] = {
            "t_1batch_s": round(walls[1], 3),
            "t_3batch_s": round(walls[3], 3),
            "marginal_per_batch_s": round(marginal, 3),
            "fixed_overhead_s": round(max(walls[1] - marginal, 0.0), 3),
            "batches_in_headline": 3,
        }
    return out


def main() -> None:
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    load_start = os.getloadavg()
    spark = get_spark("bench", freeze_gc=True)
    spark.sparkContext.setLogLevel("ERROR")
    cpus = spark.sparkContext.defaultParallelism

    # Warm the JVM/parquet-datasource path outside measurement.
    try:
        spark.read.parquet(f"{SF_DIR}/region.parquet").count()
    except Exception as exc:
        print(f"bench: warmup read failed: {exc}", file=sys.stderr)

    per_pass: list[dict[str, float]] = []
    failures: list[str] = []
    for nruns in PASS_RUNS:
        pass_times: dict[str, float] = {}
        for name in HEADLINE:
            if name in failures:
                continue
            fn = QUERIES[name]
            best = float("inf")
            try:
                for _ in range(nruns):
                    t0 = time.perf_counter()
                    rows = fn(spark, SF_DIR).collect()
                    best = min(best, time.perf_counter() - t0)
                    del rows
                pass_times[name] = best
            except Exception as exc:  # a broken query must not void the record
                failures.append(name)
                print(f"bench: {name} failed: {exc}", file=sys.stderr)
        per_pass.append(pass_times)

    times = {
        name: round(min(p[name] for p in per_pass if name in p), 3)
        for name in HEADLINE
        if any(name in p for p in per_pass)
    }

    total = round(sum(times.values()), 3)
    # reference-analogous core (BASELINE.md measures only the reference's
    # 4-aggregate pipeline; the full suite is ~6x broader in scope)
    core = ["daily_stats", "user_stats", "two_sided_dim", "clean_events_pipeline"]
    record = {
        "metric": "suite_seconds",
        "value": total,
        "unit": "sec",
        "iterations": sum(PASS_RUNS),
        "core_pipeline_seconds": round(
            sum(times[q] for q in core if q in times), 3
        ),
        "queries": times,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "env": {
            "spark_version": spark.version,
            "python": sys.version.split()[0],
            # the effective core count, not os.cpu_count(): an 8-core
            # run on a 32-core box once labelled itself cpus: 32
            "cpus": cpus,
            "master": spark.sparkContext.master,
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "sf_dir": SF_DIR,
            "load_1m_start": round(load_start[0], 2),
            "load_1m_end": round(os.getloadavg()[0], 2),
            "passes": list(PASS_RUNS),
        },
        # Cross-pass spread per query (pass-min difference): large spread
        # = noisy box, not a plan change.
        "pass_spread": {
            name: round(
                max(p[name] for p in per_pass if name in p)
                - min(p[name] for p in per_pass if name in p),
                3,
            )
            for name in times
            if sum(name in p for p in per_pass) > 1
        },
        "noise_canary": NOISE_CANARY,
    }
    if failures:
        record["failed"] = failures

    # VERDICT r11 #7: the streaming headliners' wall is dominated by
    # fixed micro-batch machinery (~2 s), so the min-of-5 noise band
    # cannot see a real per-batch regression under that floor. Record
    # the fixed-vs-marginal split once per round (single timed run at 1
    # and 3 source files = micro-batches; marginal = (t3 - t1) / 2).
    try:
        record["streaming_split"] = _streaming_overhead_split(spark)
    except Exception as exc:
        print(f"bench: streaming split failed: {exc}", file=sys.stderr)

    # Round-over-round visibility vs the latest BENCH_r{N}.json (numeric
    # round order — lexical order breaks at r10). vs_prev is the raw delta
    # (positive = slower); env_ratio is the median cur/prev over shared
    # queries (a whole-suite slowdown moves every query by ~the same
    # factor); vs_prev_norm divides the current time by env_ratio first,
    # isolating genuine per-plan regressions from machine drift.
    prior = sorted(
        glob.glob(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_r*.json")),
        key=_round_num,
    )
    if prior:
        try:
            recs = _load_recs(prior)
            prev = _prev_queries(recs, prior)
            prev_spread = _tail_obj(recs[-1], "pass_spread")
            shared = {q: t for q, t in times.items() if q in prev and prev[q]}
            if shared:
                env_ratio = statistics.median(
                    t / prev[q] for q, t in shared.items()
                )
                record["vs_prev"] = {
                    q: round(t - prev[q], 3) for q, t in shared.items()
                }
                record["env_ratio"] = round(env_ratio, 3)
                record["vs_prev_norm"] = {
                    q: round(t / env_ratio - prev[q], 3)
                    for q, t in shared.items()
                }
                if NOISE_CANARY in shared:
                    record["canary_ratio"] = round(
                        shared[NOISE_CANARY] / prev[NOISE_CANARY], 3
                    )
                # Round-5 postmortem: single-query normalization is too
                # brittle to adjudicate per-plan deltas alone (the canary
                # moved 1.21x raw against an env_ratio of 0.584). Carry a
                # per-query NOISE BAND — the worst cross-pass spread seen
                # this round or last, floored at 50 ms — and (a) list the
                # queries whose normalized delta exceeds their band, (b)
                # self-flag the whole normalization as unstable when the
                # frozen-code canary itself exceeds its band: then
                # vs_prev_norm measures environment drift, not plans, and
                # must not be used to adjudicate regressions.
                # r15 (VERDICT r14 #6): sub-1.2 s queries get a 0.15 s
                # absolute floor — see _band_floor.
                band = {
                    q: round(
                        max(
                            record["pass_spread"].get(q, 0.0),
                            prev_spread.get(q, 0.0),
                            _band_floor(prev[q]),
                        ),
                        3,
                    )
                    for q in shared
                }
                record["noise_band"] = band
                record["vs_prev_norm_exceeds_band"] = sorted(
                    q
                    for q, d in record["vs_prev_norm"].items()
                    if abs(d) > band[q]
                )
                flags = {
                    c: abs(record["vs_prev_norm"][c]) > band[c]
                    for c in NOISE_CANARIES
                    if c in record["vs_prev_norm"]
                }
                record["canary_flags"] = flags
                record["normalization_unstable"] = bool(
                    flags and sum(flags.values()) * 2 > len(flags)
                )
            record["prev_round"] = os.path.basename(prior[-1])
        except Exception as exc:  # a malformed prior record must not void this one
            print(f"bench: prior-round delta skipped: {exc}", file=sys.stderr)

    print(json.dumps(record))
    # Commit-able full record for THIS round (latest driver round + 1):
    # the driver keeps only a 2000-char stdout tail, which by r6 had
    # truncated away queries AND vs_prev — the local file is what keeps
    # the round-over-round delta chain alive (VERDICT r6 #3). Repeated
    # QUIET runs within a round overwrite (last quiet run wins), but a
    # re-run on a visibly noisy box (env/canary normalization ratio far
    # from 1) must NOT clobber an existing quiet record — twice the
    # driver's end-of-round re-run has overwritten the committed record
    # with a noisy one (VERDICT r12 #4, r13 #2). Noisy re-runs go to a
    # suffixed ``_noisy`` file so the evidence is kept without breaking
    # the delta chain. A run at a core count other than RECORD_CPUS goes
    # to a ``_cN`` file and never enters the chain.
    try:
        this_round = (_round_num(prior[-1]) if prior else 0) + 1
        here = os.path.dirname(os.path.abspath(__file__))
        noisy_box = _is_noisy_box(
            record.get("env_ratio"), record.get("canary_ratio")
        )
        have_record = os.path.exists(
            os.path.join(here, f"BENCH_LOCAL_r{this_round:02d}.json")
        )
        local = os.path.join(
            here, _local_record_name(this_round, cpus, noisy_box, have_record)
        )
        if cpus != RECORD_CPUS:
            print(f"bench: {cpus}-core run kept out of the round chain",
                  file=sys.stderr)
        elif noisy_box and have_record:
            print(
                "bench: noisy box (ratio > "
                f"{NOISY_RATIO_CEIL}); keeping existing round record, "
                f"writing re-run to {local}",
                file=sys.stderr,
            )
        elif noisy_box:
            # First write of the round on a noisy box still becomes the
            # committed record (there is nothing quieter to keep), but it
            # must carry the stigma so next round's vs_prev chain knows
            # its reference point is suspect (ADVICE r14 #3).
            record["noisy_first_write"] = True
            print(
                "bench: WARNING — first record of this round is from a "
                f"noisy box (ratio > {NOISY_RATIO_CEIL}); marked "
                "noisy_first_write, re-run on a quiet box to replace it",
                file=sys.stderr,
            )
        with open(local, "w") as f:
            json.dump(record, f)
        print(f"bench: full record written to {local}", file=sys.stderr)
    except OSError as exc:
        print(f"bench: local record not written: {exc}", file=sys.stderr)
    _print_compact_marker(record)
    spark.stop()


def _compact_marker(record: dict, max_len: int = 1800) -> str:
    """A compact single-line JSON copy of the headline record, guaranteed
    under ``max_len`` chars. The driver keeps only a 2000-char tail of
    stdout and parses a JSON line out of it — the full record line
    outgrew that window by r6 (71 queries ≈ 2.8 kB), so every BENCH_rNN
    since has had ``parsed: null`` with the real data living in the
    committed BENCH_LOCAL file (VERDICT r15 #8). This marker is printed
    LAST, after every stderr note, so the tail always ends with it. If
    even the 2-decimal form exceeds the budget, the smallest per-query
    times are dropped (largest kept — those are the ones the plan audit
    reads) and ``queries_omitted`` counts the rest; BENCH_LOCAL keeps
    the full set either way."""
    base = {
        "metric": record.get("metric"),
        "value": round(record.get("value", 0.0), 2),
        "unit": record.get("unit"),
        "sf": record.get("sf"),
        "cpus": (record.get("env") or {}).get("cpus"),
        "master": (record.get("env") or {}).get("master"),
    }
    if record.get("noisy_first_write"):
        base["noisy_first_write"] = True
    queries = {
        k: round(v, 2) for k, v in (record.get("queries") or {}).items()
    }
    keep = sorted(queries, key=lambda k: -queries[k])
    while True:
        out = dict(base)
        out["queries"] = {k: queries[k] for k in sorted(keep)}
        omitted = len(queries) - len(keep)
        if omitted:
            out["queries_omitted"] = omitted
        line = json.dumps(out, separators=(",", ":"))
        if len(line) <= max_len or not keep:
            return line
        keep = keep[:-max(1, len(keep) // 10)]


def _print_compact_marker(record: dict) -> None:
    sys.stderr.flush()
    print(_compact_marker(record))
    sys.stdout.flush()


if __name__ == "__main__":
    main()

"""The benchmark's workloads. Each one repeats a single kind of unit op.

- ``etl_batch``: one ``plans.pipeline.run_core_pipeline`` over the
  generated events into a fresh output dir, then a read-back of the five
  written outputs through ``sources.readers`` (count + checksum each).
- ``curation_small``: one pass of the registered curation queries
  ``minhash_signatures`` and ``dedup_groups`` over the generated
  documents, each built and ``collect()``ed.
- ``stream_rounds``: one ingest round: land the next seeded slice file,
  then run the topk, KMV and gold foreachBatch loops (AvailableNow, one
  micro-batch each) on persistent state and checkpoint dirs.

A workload prepares its inputs in ``prepare`` (called once per set-up
repetition), runs one op in ``op`` (the only timed call), checks the op
in ``check`` and the whole run in ``finish``; ``layer_metrics`` returns
the per-op figures the traced run reports.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field

import gen
import oracle
import tracing


def dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``; Spark's marker and checksum
    files are not counted as data files but their bytes are."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            if not n.startswith(("_", ".")):
                files += 1
    return files, size


@dataclass
class OpResult:
    rows: int
    value: object = None
    detail: dict = field(default_factory=dict)


class EtlBatch:
    name = "etl_batch"
    nominal_op_s = 3.3
    # op: the first pays class loading and code generation. The next one
    # still runs 10-15% slower than later ones; the median of the
    # measured ops absorbs that, and a second warm-up op does not fit the
    # run budget.
    warmup = 1
    max_ops = float("inf")
    # 2 replicas, each a tenth of an sf0.1 events table over its own block
    # of 150 users (sf0.1's rows per (user, type, day) key), plus a 1%
    # dirty-row mix
    sizes = {"rows_per_replica": 10_000, "replicas": 2, "users_per_replica": 150,
             "dirty_frac": 0.01}

    def prepare(self, spark, work: str, seed: int) -> dict:
        from opensea_datapipeline_spark.sources.readers import load_table

        self.spark = spark
        in_dir = os.path.join(work, "input")
        path = os.path.join(in_dir, "events.parquet")
        info = gen.write_events(path, seed, **self.sizes)
        self.expected = oracle.etl_expected(path, work)
        self.events = load_table(spark, in_dir, "events")
        self.n_rows = info["rows"]
        self.out_root = os.path.join(work, "out")
        m = self.expected["metrics"]
        return dict(info, rows_after_clean=m["rows_after_clean"],
                    clean_ratio=m["rows_after_clean"] / m["total_rows"])

    def before_op(self, i: int, warming: bool) -> None:
        self.out_dir = os.path.join(self.out_root, f"op{i:04d}")
        shutil.rmtree(self.out_dir, ignore_errors=True)

    def op(self, i: int, tr) -> OpResult:
        from pyspark.sql import functions as F

        from opensea_datapipeline_spark.plans.pipeline import run_core_pipeline
        from opensea_datapipeline_spark.sources.readers import load_parquet

        with tr.span("plans.pipeline.run_core_pipeline"):
            res = run_core_pipeline(self.spark, self.events, output_dir=self.out_dir)
        (run_dir,) = [
            os.path.join(self.out_dir, d) for d in os.listdir(self.out_dir)
            if not d.startswith(("_", "."))
        ]
        got = {}
        with tr.span("sources.readback") as sp:
            for name, checksum in oracle.READBACK.items():
                df = load_parquet(
                    self.spark, os.path.join(run_dir, f"{name}.parquet")
                ).agg(F.count(F.lit(1)), F.expr(checksum))
                n, s = df.collect()[0]
                got[name] = [int(n), int(s or 0)]
        return OpResult(self.n_rows, {"metrics": res.metrics, "outputs": got}, {
            "timings": res.timings, "run_dir": run_dir,
            "readback_s": sp.end - sp.start if sp else None,
        })

    def check(self, i: int, res: OpResult) -> bool:
        return res.value == self.expected

    def after_op(self, i: int) -> None:
        shutil.rmtree(self.out_dir, ignore_errors=True)

    def layer_metrics(self, res: OpResult) -> dict[str, float]:
        t = res.detail["timings"]
        files, size = dir_stats(res.detail["run_dir"])
        return {
            "plans.pipeline.validate_clean_s": t["validate_clean_wall"],
            "plans.pipeline.plan_aggregates_s": t["plan_aggregates"],
            "plans.pipeline.write_s": t["write"],
            "sources.readback_s": res.detail["readback_s"],
            "sources.output_files": float(files),
            "sources.output_mb": size / 2**20,
        }

    def finish(self) -> bool:
        return True


CURATION_QUERIES = ("minhash_signatures", "dedup_groups")


class CurationSmall:
    name = "curation_small"
    nominal_op_s = 2.5
    warmup = 1  # pass: the first builds each query's code
    max_ops = float("inf")
    sizes = {"n_docs": 1000, "near_dup_frac": 0.1, "dup_below": 300}

    def prepare(self, spark, work: str, seed: int) -> dict:
        from opensea_datapipeline_spark.queries import ORACLE

        self.spark = spark
        self.docs_dir = os.path.join(work, "docs")
        path = os.path.join(self.docs_dir, "documents.parquet")
        info = gen.write_documents(path, seed, **self.sizes)
        self.expected = oracle.curation_expected(
            path, {q: ORACLE[q] for q in CURATION_QUERIES}, work
        )
        self.n_rows = info["docs"]
        return dict(info, expected_rows={q: n for q, (n, _) in self.expected.items()})

    def before_op(self, i: int, warming: bool) -> None:
        pass

    def op(self, i: int, tr) -> OpResult:
        from opensea_datapipeline_spark.queries import QUERIES

        got, frames, spans = {}, {}, {}
        for q in CURATION_QUERIES:
            with tr.span(f"queries.{q}") as sp:
                with tr.span(f"queries.{q}.build") as b:
                    df = QUERIES[q](self.spark, self.docs_dir)
                with tr.span(f"queries.{q}.action") as a:
                    rows = df.collect()
            got[q] = oracle.result_digest(df.columns, rows)
            frames[q] = df
            spans[q] = (sp, b, a)
        return OpResult(self.n_rows, got, {"frames": frames, "spans": spans})

    def check(self, i: int, res: OpResult) -> bool:
        return res.value == self.expected

    def after_op(self, i: int) -> None:
        pass

    def layer_metrics(self, res: OpResult) -> dict[str, float]:
        out = {}
        for q in CURATION_QUERIES:
            sp, b, a = res.detail["spans"][q]
            out[f"queries.{q}.build_s"] = b.end - b.start
            out[f"queries.{q}.action_s"] = a.end - a.start
        out["catalyst.plan_s"] = sum(
            tracing.catalyst_plan_s(df) for df in res.detail["frames"].values()
        )
        return out

    def finish(self) -> bool:
        return True


LOOPS = ("topk", "kmv", "gold")


class StreamRounds:
    name = "stream_rounds"
    nominal_op_s = 3.3
    # rounds: the first starts each query fresh, the second is the first
    # restart from a checkpoint. State grows, so every run does the same
    # rounds.
    warmup = 2
    n_slices = 12  # of one sf0.1-sized events table: ~8.3k rows a slice
    max_ops = n_slices - warmup  # one slice lands per round

    def prepare(self, spark, work: str, seed: int) -> dict:
        self.spark = spark
        self.work = work
        self.slices, info = gen.stream_slices(seed, n_slices=self.n_slices)
        self.events_dir = os.path.join(work, "landing")  # work is fresh
        os.makedirs(self.events_dir)
        return info

    def before_op(self, i: int, warming: bool) -> None:
        pass

    def op(self, i: int, tr) -> OpResult:
        from opensea_datapipeline_spark.streaming.gold import run_incremental_gold_daily
        from opensea_datapipeline_spark.streaming.sketch import run_streaming_kmv
        from opensea_datapipeline_spark.streaming.topk import run_streaming_topk

        fns = {"topk": run_streaming_topk, "kmv": run_streaming_kmv,
               "gold": run_incremental_gold_daily}
        with tr.span("land"):
            gen.write_table(
                self.slices[i], os.path.join(self.events_dir, f"part-{i:05d}.parquet")
            )
        out, calls = {}, {}
        for loop in LOOPS:
            with tr.span(f"streaming.{loop}") as sp:
                out[loop] = fns[loop](
                    self.spark, self.events_dir,
                    os.path.join(self.work, f"{loop}_state"),
                    os.path.join(self.work, f"{loop}_ckpt"),
                )
            calls[loop] = sp
        self.final = out
        return OpResult(self.slices[i].num_rows, None, {"calls": calls})

    def check(self, i: int, res: OpResult) -> bool:
        # every loop committed exactly this round's micro-batch
        return all(
            os.path.isdir(os.path.join(self.work, f"{loop}_state", f"batch_{i:012d}"))
            for loop in LOOPS
        )

    def after_op(self, i: int) -> None:
        pass

    def layer_metrics(self, res: OpResult) -> dict[str, float]:
        out = {}
        for loop in LOOPS:
            sp = res.detail["calls"][loop]
            out[f"streaming.{loop}.call_s"] = sp.end - sp.start
            _, size = dir_stats(os.path.join(self.work, f"{loop}_state"))
            _, ck = dir_stats(os.path.join(self.work, f"{loop}_ckpt"))
            out[f"streaming.{loop}.state_mb"] = (size + ck) / 2**20
        return out

    def finish(self) -> bool:
        """The final topk/KMV/gold state against the one-shot batch
        answers over every landed slice."""
        exp = oracle.stream_expected(os.path.join(self.events_dir, "*.parquet"), self.work)
        topk = {r["key"]: (r["cnt"], r["eps"]) for r in self.final["topk"].collect()}
        if topk != {k: (c, 0) for k, c in exp["topk"].items()}:
            return False
        kmv = self.final["kmv"].collect()[0]
        m_k, est = exp["kmv"]
        if kmv["m_k"] != m_k or abs(kmv["estimate"] - est) > 1e-6 * est:
            return False
        gold = {r["event_date"]: r for r in self.final["gold"].collect()}
        if gold.keys() != exp["gold"].keys():
            return False
        for d, (n, vol, lo, hi, users) in exp["gold"].items():
            g = gold[d]
            if (g["total_transactions"], g["value_min"], g["value_max"]) != (n, lo, hi):
                return False
            if abs(g["volume_total"] - float(vol)) > 1e-6 * max(1.0, abs(float(vol))):
                return False
            # HLL: ~2% standard error at the default lgK
            if abs(g["approx_unique_users"] - users) > max(2, 0.05 * users):
                return False
        return True


WORKLOADS = {w.name: w for w in (EtlBatch, CurationSmall, StreamRounds)}

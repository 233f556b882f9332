"""SparkSession factory with scale-ready defaults.

The reference engine is a single-process Polars pipeline
(`opensea_pipeline/run.py:52-165`); its only concession to larger-than-RAM
data is an opt-in DuckDB path (`run.py:183-192`). Here the equivalent knob
set is Spark session configuration: AQE for runtime re-planning (coalesced
shuffle partitions, skew-join splitting), UTC session time zone for
oracle-stable timestamp semantics (`clean_events.py:84-89` normalizes to
naive UTC), and Arrow for any pandas-UDF boundary.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults tuned for the local[<cpus>] test harness; on a real cluster the
# same settings hold except parallelism, which should follow cluster cores
# (AQE coalescing makes an over-provisioned shuffle-partition count cheap).
DEFAULT_CONFIGS: dict[str, str] = {
    # Oracle parity: naive-UTC timestamps everywhere.
    "spark.sql.session.timeZone": "UTC",
    # Runtime re-planning: partition coalescing, skew-join handling,
    # join-strategy switching. This is the 100 TB insurance the reference
    # lacks entirely.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow-accelerated pandas interchange for the few pandas-UDF operators.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Parquet timestamps in testdata are INT64(ns); read without rebase
    # surprises and write zstd like the reference sink
    # (`io_utils.py:130-145` defaults to zstd).
    "spark.sql.parquet.compression.codec": "zstd",
    # Spark has no ns timestamp type: read TIMESTAMP(NANOS) as LongType and
    # convert at the reader (µs truncation — documented parity deviation,
    # sub-µs differences are below every grouping/window granularity used).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Spark 4.x infers parquet timestamp[us] without isAdjustedToUTC as
    # TIMESTAMP_NTZ, which withWatermark/event-time windows reject. Restore
    # the Spark-3 inference (TIMESTAMP, i.e. LTZ); under the UTC session tz
    # the field values are identical.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # Broadcast threshold: default 10 MB is right for the dimension tables
    # here; AQE can upgrade larger ones at runtime.
    "spark.sql.autoBroadcastJoinThreshold": str(10 * 1024 * 1024),
    # ObjectHashAggregate degrades to SORT-BASED aggregation after only
    # 128 distinct groups per task (the default fallback threshold,
    # sized for giant collect_list buffers). The engine's typed
    # imperative aggregates keep doc-bounded per-group state (the
    # collect_list(struct(pos, ids)) rebuilds in the BPE/encode family,
    # the neighbor-window collects), so per-task hash maps of tens of
    # thousands of groups are far cheaper than sorting the
    # pre-aggregation stream (r16). Memory bound: threshold × per-group
    # buffer per task; 64k × ~1 KB ≈ 64 MB worst case, inside executor
    # execution memory at any scale. Override via
    # SPARK_GRAFT_OBJ_AGG_FALLBACK on memory-tight clusters.
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold":
        os.environ.get("SPARK_GRAFT_OBJ_AGG_FALLBACK", "65536"),
    # No per-call origin capture. With this on (PySpark's default), every
    # wrapped API call (F.*, Column, DataFrame methods) also pays a
    # getActiveSession and a conf.get round trip, the PySparkCurrentOrigin
    # lookup/set/clear round trips, a Python stack walk and a failing
    # `import IPython` that rescans sys.path. py4j round trips per
    # perfbench op (all threads, seed 1), on → off: curation_small
    # ~3050 → ~1190, etl_batch ~2880 → ~1440, stream_rounds ~1600 →
    # ~1000. What is lost: the "== DataFrame == "x" was called from"
    # block of an error names a JVM frame instead of the Python
    # file:line. What stays: job names keep the Python call site
    # (`collect at file.py:NN`), and errors keep their error class,
    # SQLSTATE and plan fragment. A static conf: it takes effect only
    # in a session this builder creates.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # local-mode shuffle sizing; AQE coalesces down when partitions are tiny.
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_CPUS", "32"),
    # Quieter local runs.
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


def get_spark(
    app_name: str = "opensea-datapipeline-spark",
    master: str | None = None,
    extra_configs: dict[str, str] | None = None,
    freeze_gc: bool | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a
    cluster, leave it unset and submit with ``spark-submit --master ...``.

    ``freeze_gc`` opts in to :func:`_freeze_import_garbage` — an
    irreversible, process-global ``gc.freeze()`` that speeds up the
    iterative operators' checkpoint-release collections. Batch entry
    points (bench, CLI, the test harness) pass ``True``; the default
    (``None`` → ``$SPARK_GRAFT_GC_FREEZE``, off) leaves library
    embedders unfrozen so pre-session cyclic garbage stays collectable
    for the life of their process (ADVICE r11).
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and not os.environ.get("SPARK_MASTER"):
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    configs = dict(DEFAULT_CONFIGS)
    if extra_configs:
        configs.update(extra_configs)
    for k, v in configs.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if freeze_gc is None:
        freeze_gc = os.environ.get("SPARK_GRAFT_GC_FREEZE", "0") == "1"
    if freeze_gc:
        _freeze_import_garbage()
    return spark


_FROZEN = False


def _freeze_import_garbage() -> None:
    """Move the already-imported, effectively-immortal object graph (the
    query registry, pyspark, pandas) out of the cyclic GC's reach. The
    iterative operators (connected components, pagerank, LPA, BPE,
    k-core) call ``gc.collect()`` after releasing superseded
    localCheckpoints — necessary (SCALING.md §r10 dead-checkpoint trap)
    but a FULL collection traverses every tracked object, so its cost
    grows with the size of the imported codebase: measured 0.4 ms on a
    bare interpreter vs ~20 ms with the 206-query registry loaded,
    i.e. a per-round tax on every loop. After freeze the same call is
    ~0 ms. Runs once per process; a collect first so no pre-existing
    cycle garbage is frozen alive. OPT-IN (``get_spark(freeze_gc=...)``):
    the freeze is irreversible and process-global, so objects allocated
    before it that later join a cycle are never collected — fine for a
    batch process that exits, wrong to impose on a library embedder
    (ADVICE r11)."""
    global _FROZEN
    if _FROZEN:
        return
    import gc

    gc.collect()
    gc.freeze()
    _FROZEN = True

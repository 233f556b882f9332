"""Bloom-pruned fact shuffle under growth (r10): when the dimension is
too big to broadcast, the equi-join must shuffle the ENTIRE fact — the
literal-bitmask Bloom prune cuts the shuffled fact bytes to the
survivors (selectivity + false positives) BEFORE the exchange.

Legs, per growth multiple, with autoBroadcastJoinThreshold=-1 so the
join is a genuine shuffle join (the 100 TB big-dim shape):
  - sj_plain:      orders ⋈ segment-customers, no prune
  - sj_bloom_sat:  prune with a FIXED 8,192-bit mask — documents the
                   saturation failure mode (kn/m >> 1 at 10x: the
                   filter passes everything, prune is a silent no-op)
  - sj_bloom:      mask SIZED to the keys (~16 bits/key, pow2), md5
  - bcast_bloom:   the graded broadcast form, for reference

Orders grow by replication with custkeys offset per replica (cardinality
grows too, so the mask is rebuilt per leg — build cost is reported
separately). Shuffle bytes from the UI REST API; noop sink so Catalyst
cannot prune the work under test.

Run:  python scripts/scaling_bloom.py [--scales=1,10]
"""
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from opensea_datapipeline_spark.operators import sketches as sk  # noqa: E402
from opensea_datapipeline_spark.session import get_spark  # noqa: E402
from opensea_datapipeline_spark.sources.readers import load_table  # noqa: E402
from scaling_measure import measure  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
M_BITS = 8192


def scaled_pair_dir(spark, mult: int) -> str:
    """Replicate orders+customer with per-replica custkey offsets so
    key cardinality grows with volume (the honest growth profile)."""
    if mult == 1:
        return SF_DIR
    o = load_table(spark, SF_DIR, "orders")
    c = load_table(spark, SF_DIR, "customer")
    reps = spark.range(mult).select(F.col("id").alias("rep"))
    off = F.col("rep") * 100_000_000
    out = tempfile.mkdtemp(prefix=f"bloom_growth_{mult}x_")
    o.crossJoin(reps).select(
        (F.col("o_orderkey") + off * 10).alias("o_orderkey"),
        (F.col("o_custkey") + off).alias("o_custkey"),
        "o_orderstatus", "o_totalprice", "o_orderdate",
    ).repartition(32 if mult <= 10 else 64).write.mode(
        "overwrite"
    ).parquet(f"{out}/orders.parquet")
    c.crossJoin(reps).select(
        (F.col("c_custkey") + off).alias("c_custkey"),
        "c_mktsegment",
    ).repartition(8).write.mode("overwrite").parquet(
        f"{out}/customer.parquet"
    )
    return out


def agg(joined):
    return joined.groupBy(
        F.year("o_orderdate").cast("long").alias("order_year")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(22,8)"))
        .cast("double")
        .alias("revenue"),
    )


def main() -> None:
    scales = [1, 10]
    for a in sys.argv[1:]:
        if a.startswith("--scales"):
            scales = [int(x) for x in a.split("=", 1)[1].split(",")]
    spark = get_spark(
        "scaling-bloom", extra_configs={"spark.ui.enabled": "true"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    legs = []
    for mult in scales:
        d = scaled_pair_dir(spark, mult)
        o = spark.read.parquet(f"{d}/orders.parquet")
        c = spark.read.parquet(f"{d}/customer.parquet")
        seg = c.filter(F.col("c_mktsegment") == "BUILDING").select(
            "c_custkey"
        )
        n_seg = seg.count()
        # ~16 bits/key at k=4 -> FP ~0.24%; round up to a power of two
        m_sized = 1 << max(11, (16 * n_seg - 1).bit_length())
        t0 = time.time()
        bits_sat = sk.bloom_bits(
            seg, "c_custkey", m_bits=M_BITS, k_hashes=4
        )
        mask_sat = sk.bloom_mask_literal(bits_sat, m_bits=M_BITS)
        t1 = time.time()
        mask_md5 = sk.bloom_mask_literal(
            sk.bloom_bits(seg, "c_custkey", m_bits=m_sized, k_hashes=4),
            m_bits=m_sized,
        )
        t2 = time.time()
        probes = {
            "sj_bloom_sat": sk.bloom_might_contain(
                mask_sat, F.col("o_custkey"), m_bits=M_BITS, k_hashes=4
            ),
            "sj_bloom": sk.bloom_might_contain(
                mask_md5, F.col("o_custkey"), m_bits=m_sized, k_hashes=4
            ),
        }
        row = {
            "mult": mult,
            "n_orders": o.count(),
            "n_seg": n_seg,
            "m_sized_bits": m_sized,
            "mask_build_s": {
                "sat_8192": round(t1 - t0, 3),
                "md5_sized": round(t2 - t1, 3),
            },
            "ops": [],
        }
        no_bcast = {"spark.sql.autoBroadcastJoinThreshold": "-1"}
        with _configs(spark, no_bcast):
            row["ops"].append(
                measure(
                    spark,
                    lambda: agg(o.join(seg, o.o_custkey == seg.c_custkey)),
                    "sj_plain",
                )
            )
            for tag, might in probes.items():
                row["ops"].append(
                    measure(
                        spark,
                        lambda m=might: agg(
                            o.filter(m).join(
                                seg, o.o_custkey == seg.c_custkey
                            )
                        ),
                        tag,
                    )
                )
        row["ops"].append(
            measure(
                spark,
                lambda: agg(
                    o.filter(probes["sj_bloom"]).join(
                        F.broadcast(seg), o.o_custkey == seg.c_custkey
                    )
                ),
                "bcast_bloom",
            )
        )
        legs.append(row)
        print(json.dumps(row))
    print(json.dumps({"legs": legs}))


class _configs:
    def __init__(self, spark, kv):
        self.spark, self.kv, self.old = spark, kv, {}

    def __enter__(self):
        for k, v in self.kv.items():
            self.old[k] = self.spark.conf.get(k, None)
            self.spark.conf.set(k, v)

    def __exit__(self, *a):
        for k, v in self.old.items():
            if v is None:
                self.spark.conf.unset(k)
            else:
                self.spark.conf.set(k, v)


if __name__ == "__main__":
    main()

"""Shared measurement helpers for the scaling scripts: per-operation
wall time and shuffle bytes, read from the Spark UI REST API (the
session must run with ``spark.ui.enabled=true``).

Import from a sibling script (``scripts/`` on ``sys.path``):

    from scaling_measure import measure, shuffle_bytes_snapshot
"""
import json
import time
import urllib.request


def _api(spark, path):
    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(f"{base}/api/v1/applications/{app}/{path}") as r:
        return json.load(r)


def shuffle_bytes_snapshot(spark) -> dict:
    """Shuffle write/read bytes summed over every completed stage."""
    tot_w = tot_r = 0
    for st in _api(spark, "stages?status=complete"):
        tot_w += st.get("shuffleWriteBytes", 0)
        tot_r += st.get("shuffleReadBytes", 0)
    return {"w": tot_w, "r": tot_r}


def measure(spark, fn, tag):
    """Run ``fn()``'s DataFrame into a noop sink and report wall time
    and the shuffle MB its stages wrote and read."""
    # noop sink, NOT .count(): count() lets Catalyst prune the gram
    # columns and the whole shuffle under test disappears (measured:
    # 31 KB "shuffle" for a plan whose gram exchange is 7.8 MB)
    before = shuffle_bytes_snapshot(spark)
    t0 = time.time()
    fn().write.mode("overwrite").format("noop").save()
    wall = time.time() - t0
    after = shuffle_bytes_snapshot(spark)
    return {
        "op": tag,
        "wall_s": round(wall, 3),
        "shuffle_write_mb": round((after["w"] - before["w"]) / 1e6, 2),
        "shuffle_read_mb": round((after["r"] - before["r"]) / 1e6, 2),
    }

"""Expected outputs, computed without Spark, for the correctness gates.

``etl_expected`` gives the pipeline's metrics row and a count/checksum
per written output from DuckDB over the generated input parquet.
``stream_expected`` gives the one-shot batch answers for the three
streaming loops over every landed slice: exact per-user counts (topk),
the bottom-k md5 sketch (KMV, replayed in Python) and the per-day gold
rows (DuckDB). ``curation_expected`` runs each curation query's
``ORACLE`` SQL in DuckDB over the generated documents; ``result_digest``
is the order-insensitive digest both sides are compared by.
"""

from __future__ import annotations

import hashlib
import math

import duckdb

VALID_TYPES = ("click", "view", "purchase", "signup", "error")
_TYPES_SQL = ", ".join(f"'{t}'" for t in VALID_TYPES)
_TS_OK = "ts BETWEEN TIMESTAMP '2000-01-01' AND TIMESTAMP '2100-01-01'"

# Read back from each written output: (count, checksum expression).
READBACK = {
    "cleaned_events": "sum(event_id)",
    "daily_stats": "sum(total_transactions)",
    "entity_stats": "sum(n_events)",
    "collection_summary": "count(DISTINCT event_type)",
    "duplicate_report": "sum(n_rows)",
}


def _connect(tmp_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    con.execute("SET threads = 1")
    return con


def etl_expected(events_path: str, tmp_dir: str) -> dict:
    con = _connect(tmp_dir)
    try:
        con.execute(f"CREATE VIEW events AS SELECT * FROM '{events_path}'")
        metrics = dict(zip(
            ["total_rows", "null_ids", "null_users", "null_ts",
             "invalid_event_types", "negative_values", "ts_out_of_range",
             "malformed_props"],
            con.execute(f"""
                SELECT count(*),
                  count(*) FILTER (WHERE event_id IS NULL),
                  count(*) FILTER (WHERE user_id IS NULL),
                  count(*) FILTER (WHERE ts IS NULL),
                  count(*) FILTER (WHERE event_type NOT IN ({_TYPES_SQL})),
                  count(*) FILTER (WHERE value < 0),
                  count(*) FILTER (WHERE NOT ({_TS_OK})),
                  count(*) FILTER (WHERE props IS NOT NULL AND NOT json_valid(props))
                FROM events""").fetchone(),
        ))
        metrics["duplicate_keys"], metrics["duplicate_rows"] = con.execute("""
            SELECT count(*), coalesce(sum(n - 1), 0) FROM (
              SELECT count(*) AS n FROM events
              GROUP BY user_id, event_type, ts HAVING count(*) > 1)""").fetchone()
        # the cleaner: normalise type + value, filter, keep-first dedup on
        # (user, type, date) ordered by (ts, event_id), nulls first
        con.execute(f"""
            CREATE TEMP TABLE cleaned AS
            SELECT * EXCLUDE (rn) FROM (
              SELECT event_id, user_id, et AS event_type, ts, d,
                row_number() OVER (PARTITION BY user_id, et, d
                  ORDER BY ts ASC NULLS FIRST, event_id ASC NULLS FIRST) AS rn
              FROM (SELECT *, lower(trim(event_type)) AS et, CAST(ts AS DATE) AS d
                    FROM events
                    WHERE coalesce(value, 0.0) >= 0 AND ts IS NOT NULL AND {_TS_OK}))
            WHERE rn = 1""")
        metrics["rows_after_clean"] = con.execute(
            "SELECT count(*) FROM cleaned").fetchone()[0]
        outputs = {
            "cleaned_events": con.execute(
                "SELECT count(*), sum(event_id) FROM cleaned").fetchone(),
            "daily_stats": con.execute(
                "SELECT count(DISTINCT d), count(*) FROM cleaned").fetchone(),
            "entity_stats": con.execute(
                "SELECT count(*), sum(n) FROM (SELECT count(*) AS n FROM cleaned "
                "GROUP BY user_id)").fetchone(),
            "collection_summary": con.execute(
                "SELECT count(DISTINCT event_type), count(DISTINCT event_type) "
                "FROM cleaned").fetchone(),
            "duplicate_report": con.execute(
                "SELECT count(*), sum(n) FROM (SELECT count(*) AS n FROM events "
                "GROUP BY user_id, event_type, CAST(ts AS DATE) "
                "HAVING count(*) > 1)").fetchone(),
        }
    finally:
        con.close()
    return {
        "metrics": {k: int(v) for k, v in metrics.items()},
        "outputs": {k: [int(c), int(s)] for k, (c, s) in outputs.items()},
    }


def kmv_expected(user_ids, k: int = 64, salt: str = "kmv-v1") -> tuple[int, float]:
    """(m_k, estimate) of the bottom-k sketch, replaying the engine's
    md5-prefix hash in Python."""
    hashes = sorted({
        int(hashlib.md5(f"{salt}_{u}".encode()).hexdigest()[:15], 16)
        for u in user_ids if u is not None
    })[:k]
    m_k = hashes[-1]
    if len(hashes) < k:
        return m_k, float(len(hashes))
    return m_k, round((k - 1) / (m_k / float(1 << 60)), 6)


def stream_expected(events_glob: str, tmp_dir: str) -> dict:
    con = _connect(tmp_dir)
    try:
        con.execute(f"CREATE VIEW events AS SELECT * FROM '{events_glob}'")
        topk = dict(con.execute(
            "SELECT user_id, count(*) FROM events WHERE user_id IS NOT NULL "
            "GROUP BY 1").fetchall())
        users = [u for (u,) in con.execute(
            "SELECT DISTINCT user_id FROM events").fetchall()]
        gold = {
            d: (n, vol, lo, hi, u)
            for d, n, vol, lo, hi, u in con.execute("""
                SELECT strftime(ts, '%Y-%m-%d'), count(*),
                  sum(CAST(value AS DECIMAL(22, 8))), min(value), max(value),
                  count(DISTINCT user_id)
                FROM events GROUP BY 1""").fetchall()
        }
    finally:
        con.close()
    return {"topk": topk, "kmv": kmv_expected(users), "gold": gold}


def _canon(v):
    if isinstance(v, float):
        return None if math.isnan(v) else round(v, 6)
    return v


def result_digest(columns: list[str], rows) -> tuple[int, str]:
    """(row count, md5) of a result: columns sorted by name, floats
    rounded to 6 places, rows sorted, so neither column nor row order
    matters."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted(repr(tuple(_canon(r[i]) for i in order)) for r in rows)
    h = hashlib.md5()
    h.update(repr([columns[i] for i in order]).encode())
    for line in canon:
        h.update(line.encode())
    return len(canon), h.hexdigest()


def curation_expected(docs_path: str, sql: dict[str, str], tmp_dir: str) -> dict:
    """Digest of each query's oracle SQL over the documents table."""
    con = _connect(tmp_dir)
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{docs_path}'")
        out = {}
        for name, q in sql.items():
            cur = con.execute(q)
            cols = [d[0] for d in cur.description]
            out[name] = result_digest(cols, cur.fetchall())
    finally:
        con.close()
    return out

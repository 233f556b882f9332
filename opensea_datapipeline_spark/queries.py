"""Driver-facing query registry.

Each entry binds one operator from SURVEY.md §2 (or an LLM-pipeline
extension) to the driver testdata tables, paired with the ANSI-SQL oracle
DuckDB runs on the same parquet files. Column names/aliases match exactly
between the Spark plan and the oracle (the driver sorts columns by name
before value-hashing).

Conventions (FIXTURES.md §5): UTC session tz; integer outputs cast to
BIGINT; doubles left as-is (driver rounds); timestamps never returned raw
(testdata is ns-precision, Spark truncates to µs — return dates / unix
seconds instead); quantiles are continuous-interpolation on both engines;
array columns never returned raw (the driver canonicalizer sorts via
pandas, which cannot hash lists — join to a delimited string, e.g.
``array_join(..., ' ')`` / ``string_agg(... ORDER BY pos)``, or return
the exploded long form).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.literals import local_frame
from .functions.text import normalize_whitespace, split_words
from .operators import aggregates as agg
from .operators import dedup as dd
from .operators import graph as gr
from .operators import joins as jn
from .operators import sketches as sk
from .operators import similarity as sim
from .operators import text as tx
from .operators import windows as win
from .schemas import TESTDATA_EVENT_TYPES
from .sources.readers import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}


def _register(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Flagship: daily stats (A1+A2+A3+J1, reference aggregate.py:16-94)
# ---------------------------------------------------------------------------
_PIVOT_COUNTS_SQL = ",\n  ".join(
    f"CAST(count(*) FILTER (WHERE event_type = '{t}') AS BIGINT) AS {t}_count"
    for t in TESTDATA_EVENT_TYPES
)


@_register(
    "daily_stats",
    f"""
SELECT strftime(ts, '%Y-%m-%d') AS event_date,
  count(*) AS total_transactions,
  count(DISTINCT user_id) AS unique_users,
  sum(value) FILTER (WHERE value > 0) AS volume_total,
  round(sum(value) FILTER (WHERE value > 0), 6) / count(value) FILTER (WHERE value > 0) AS price_mean,
  median(value) FILTER (WHERE value > 0) AS price_median,
  min(value) FILTER (WHERE value > 0) AS price_min,
  max(value) FILTER (WHERE value > 0) AS price_max,
  {_PIVOT_COUNTS_SQL}
FROM events
GROUP BY 1
""",
)
def q_daily_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events").withColumn(
        "event_date", F.date_format("ts", "yyyy-MM-dd")
    )
    return agg.daily_stats(
        events,
        group_cols=["event_date"],
        user_col="user_id",
        price_col="value",
        event_types=TESTDATA_EVENT_TYPES,
    )


@_register(
    "user_stats",
    """
SELECT user_id,
  count(*) AS n_events,
  sum(value) AS volume_total,
  round(sum(value), 6) / count(value) AS price_mean,
  count(DISTINCT event_type) AS n_distinct,
  strftime(min(ts), '%Y-%m-%d') AS first_seen,
  strftime(max(ts), '%Y-%m-%d') AS last_seen,
  max_by(value, ts) AS last_price
FROM events
GROUP BY 1
""",
)
def q_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A4+A5 (token stats, aggregate.py:109-140) keyed by user. Timestamps
    # surfaced as dates (ns-parity, see module docstring).
    events = _t(spark, sf_dir, "events")
    out = agg.entity_stats(
        events,
        key_cols=["user_id"],
        price_col="value",
        ts_col="ts",
        distinct_col="event_type",
    )
    return out.withColumn(
        "first_seen", F.date_format("first_seen", "yyyy-MM-dd")
    ).withColumn("last_seen", F.date_format("last_seen", "yyyy-MM-dd"))


@_register(
    "two_sided_dim",
    """
WITH a AS (
  SELECT user_id AS entity, count(*) AS a_events, sum(value) AS a_volume,
         strftime(min(ts), '%Y-%m-%d') AS a_first, strftime(max(ts), '%Y-%m-%d') AS a_last
  FROM events WHERE event_type = 'purchase' GROUP BY 1
), b AS (
  SELECT user_id AS entity, count(*) AS b_events, sum(value) AS b_volume,
         strftime(min(ts), '%Y-%m-%d') AS b_first, strftime(max(ts), '%Y-%m-%d') AS b_last
  FROM events WHERE event_type = 'view' GROUP BY 1
)
SELECT COALESCE(a.entity, b.entity) AS entity,
  COALESCE(a_events, 0) AS a_events,
  COALESCE(b_events, 0) AS b_events,
  COALESCE(a_volume, 0.0) + COALESCE(b_volume, 0.0) AS total_volume,
  least(a_first, b_first) AS first_active,
  greatest(a_last, b_last) AS last_active
FROM a FULL OUTER JOIN b ON a.entity = b.entity
""",
)
def q_two_sided_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A7 wallet-dimension pattern (aggregate.py:181-212): two per-entity
    # aggregates full-outer joined + least/greatest horizontal combine.
    events = _t(spark, sf_dir, "events").withColumn(
        "d", F.date_format("ts", "yyyy-MM-dd")
    )
    purchases = events.filter(F.col("event_type") == "purchase").withColumn(
        "side_a", F.col("user_id")
    )
    views = events.filter(F.col("event_type") == "view").withColumn(
        "side_b", F.col("user_id")
    )
    combined = purchases.unionByName(views, allowMissingColumns=True)
    out = agg.two_sided_stats(
        combined, side_a_key="side_a", side_b_key="side_b",
        price_col="value", ts_col="d",
    )
    return out


@_register(
    "summary_quantiles",
    """
SELECT event_type,
  count(*) AS n_events,
  sum(value) AS total_value,
  round(sum(value), 6) / count(value) AS mean_value,
  median(value) AS median_value,
  quantile_cont(value, 0.25) AS p25_value,
  quantile_cont(value, 0.75) AS p75_value,
  min(value) AS min_value,
  max(value) AS max_value
FROM events
GROUP BY 1
""",
)
def q_summary_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A8 collection summary (aggregate.py:251-268), continuous quantiles.
    return agg.summary_quantiles(
        _t(spark, sf_dir, "events"), group_cols=["event_type"], value_col="value"
    )


@_register(
    "summary_quantiles_approx",
    # sketch VALUES are engine-specific, but the sketch's rank-error
    # contract is checkable: each approx quantile must land inside the
    # exact [p - eps, p + eps] value bracket. Deterministic (the sketch
    # has no RNG), so the booleans are stable.
    """
SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
  TRUE AS p25_ok, TRUE AS median_ok, TRUE AS p75_ok
FROM events GROUP BY event_type
""",
)
def q_summary_quantiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A8 scale path: mergeable percentile_approx sketch (map-side
    # combinable, bounded memory) — what the same summary runs as at
    # 100 TB — graded against its own accuracy contract in-plan.
    accuracy = 10_000
    eps = 1.0 / accuracy
    e = _t(spark, sf_dir, "events")
    approx = agg.summary_quantiles(
        e, group_cols=["event_type"], value_col="value", approx=True,
        accuracy=accuracy,
    ).select("event_type", "median_value", "p25_value", "p75_value")
    # rank check: the sketch returns an actual data element whose rank
    # range [count_lt + 1, count_le] must intersect [p*n - err, p*n + err]
    # (err = eps*n + 2 ranks of slack for small groups / interpolation)
    quantiles = [(0.25, "p25"), (0.5, "median"), (0.75, "p75")]
    j = e.join(F.broadcast(approx), "event_type")
    counts = j.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        # the rank bracket must be computed over the population the sketch
        # actually ranks: percentile_approx and the _le/_lt counts all skip
        # NULL values, so the target rank p*n uses the non-null count (the
        # n_events output column stays count(*) to match the oracle).
        F.count("value").cast("long").alias("_n_vals"),
        *[
            F.count(
                F.when(F.col("value") <= F.col(f"{name}_value"), 1)
            ).alias(f"_le_{name}")
            for _, name in quantiles
        ],
        *[
            F.count(
                F.when(F.col("value") < F.col(f"{name}_value"), 1)
            ).alias(f"_lt_{name}")
            for _, name in quantiles
        ],
    )
    err = lambda: eps * F.col("_n_vals") + 2  # noqa: E731
    return counts.select(
        "event_type",
        "n_events",
        *[
            (
                (F.col(f"_le_{name}") >= p * F.col("_n_vals") - err())
                & (F.col(f"_lt_{name}") <= p * F.col("_n_vals") + err())
            ).alias(f"{name}_ok")
            for p, name in quantiles
        ],
    )


@_register(
    "monthly_stats",
    """
SELECT CAST(year(ts) AS BIGINT) AS year, CAST(month(ts) AS BIGINT) AS month,
  round(sum(value), 6) / count(value) AS mean_value, median(value) AS median_value,
  count(*) AS n_events, stddev_samp(value) AS std_value
FROM events GROUP BY 1, 2
""",
)
def q_monthly_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A10 (prepare_visual_market_data.py:156-161)
    out = agg.monthly_stats(_t(spark, sf_dir, "events"), "ts", "value")
    return out.withColumn("year", F.col("year").cast("long")).withColumn(
        "month", F.col("month").cast("long")
    )


@_register(
    "weekday_rollup",
    """
SELECT CAST(isodow(ts) AS BIGINT) AS iso_weekday,
  count(*) AS n_events, sum(value) AS total_value, round(sum(value), 6) / count(value) AS mean_value
FROM events GROUP BY 1
""",
)
def q_weekday_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A13 with ISO weekday parity (§7.3 trap 2)
    out = agg.weekday_rollup(_t(spark, sf_dir, "events"), "ts", "value")
    return out.withColumn("iso_weekday", F.col("iso_weekday").cast("long"))


@_register(
    "hourly_rollup",
    """
SELECT CAST(hour(ts) AS BIGINT) AS hour,
  count(*) AS n_events, sum(value) AS total_value, round(sum(value), 6) / count(value) AS mean_value
FROM events GROUP BY 1
""",
)
def q_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = agg.hourly_rollup(_t(spark, sf_dir, "events"), "ts", "value")
    return out.withColumn("hour", F.col("hour").cast("long"))


@_register(
    "top_users",
    """
SELECT user_id, sum(value) AS total, count(*) AS n_events
FROM events GROUP BY 1
ORDER BY total DESC, user_id LIMIT 15
""",
)
def q_top_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A14/O4 top-N (generate_visualizations.py:226-239)
    return agg.top_n(_t(spark, sf_dir, "events"), ["user_id"], "value", 15)


@_register(
    "mode_event_type",
    """
WITH counted AS (
  SELECT user_id, event_type, count(*) AS cnt FROM events GROUP BY 1, 2
), ranked AS (
  SELECT user_id, event_type AS mode_value, cnt AS mode_count,
    row_number() OVER (PARTITION BY user_id ORDER BY cnt DESC, event_type) rn
  FROM counted
)
SELECT user_id, mode_value, mode_count FROM ranked WHERE rn = 1
""",
)
def q_mode_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A15 mode per group (analyze_cluster_traits.py:355-360)
    return agg.mode_per_group(_t(spark, sf_dir, "events"), "user_id", "event_type")


@_register(
    "duplicate_keys",
    """
SELECT user_id, event_type, strftime(ts, '%Y-%m-%d') AS event_date, count(*) AS n_rows
FROM events GROUP BY 1, 2, 3 HAVING count(*) > 1
""",
)
def q_duplicate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A16 duplicate detection (validate.py:82-91)
    events = _t(spark, sf_dir, "events").withColumn(
        "event_date", F.date_format("ts", "yyyy-MM-dd")
    )
    return agg.duplicate_keys(events, ["user_id", "event_type", "event_date"])


@_register(
    "correlation_matrix",
    """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d,
    COALESCE(sum(value) FILTER (WHERE event_type='click'), 0.0) AS "click",
    COALESCE(sum(value) FILTER (WHERE event_type='view'), 0.0) AS "view",
    COALESCE(sum(value) FILTER (WHERE event_type='purchase'), 0.0) AS "purchase",
    COALESCE(sum(value) FILTER (WHERE event_type='signup'), 0.0) AS "signup",
    COALESCE(sum(value) FILTER (WHERE event_type='error'), 0.0) AS "error"
  FROM events GROUP BY 1
)
SELECT series_a, series_b, corr FROM (
  SELECT 'click' series_a, 'view' series_b, corr("click", "view") corr FROM daily
  UNION ALL SELECT 'click','purchase', corr("click","purchase") FROM daily
  UNION ALL SELECT 'click','signup', corr("click","signup") FROM daily
  UNION ALL SELECT 'click','error', corr("click","error") FROM daily
  UNION ALL SELECT 'view','purchase', corr("view","purchase") FROM daily
  UNION ALL SELECT 'view','signup', corr("view","signup") FROM daily
  UNION ALL SELECT 'view','error', corr("view","error") FROM daily
  UNION ALL SELECT 'purchase','signup', corr("purchase","signup") FROM daily
  UNION ALL SELECT 'purchase','error', corr("purchase","error") FROM daily
  UNION ALL SELECT 'signup','error', corr("signup","error") FROM daily
) t
""",
)
def q_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A17 series correlation (advanced_timeseries_analysis.py:336-344)
    events = _t(spark, sf_dir, "events").withColumn("d", F.to_date("ts"))
    return agg.pairwise_correlation(
        events, "d", "event_type", "value",
        ["click", "view", "purchase", "signup", "error"],
    )


@_register(
    "zscore_anomalies",
    """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, round(sum(value), 6) AS daily_value
  FROM events GROUP BY 1
), st AS (
  SELECT avg(daily_value) mu, stddev_samp(daily_value) sigma FROM daily
)
SELECT strftime(d, '%Y-%m-%d') AS d, daily_value, (daily_value - mu) / sigma AS zscore
FROM daily, st WHERE abs((daily_value - mu) / sigma) > 1.5
""",
)
def q_zscore_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A18 (advanced_timeseries_analysis.py:291-297); threshold 1.5 so the
    # small SFs actually produce rows.
    events = _t(spark, sf_dir, "events").withColumn("d", F.to_date("ts"))
    daily = events.groupBy("d").agg(F.round(F.sum("value"), 6).alias("daily_value"))
    out = agg.zscore_anomalies(daily, "d", "daily_value", threshold=1.5)
    return out.select(
        F.date_format("d", "yyyy-MM-dd").alias("d"), "daily_value", "zscore"
    )


@_register(
    "quality_metrics",
    """
SELECT count(*) AS total_rows,
  count(DISTINCT user_id) AS distinct_user_id,
  count(DISTINCT event_type) AS distinct_event_type,
  strftime(min(ts), '%Y-%m-%d') AS min_date,
  strftime(max(ts), '%Y-%m-%d') AS max_date
FROM events
""",
)
def q_quality_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A9 global data-quality scalars (clean_events.py:292-316)
    out = agg.quality_metrics(
        _t(spark, sf_dir, "events"), ts_col="ts", id_cols=["user_id", "event_type"]
    )
    return out.withColumn(
        "min_date", F.date_format("min_date", "yyyy-MM-dd")
    ).withColumn("max_date", F.date_format("max_date", "yyyy-MM-dd"))


# ---------------------------------------------------------------------------
# Windows (W1-W8)
# ---------------------------------------------------------------------------
@_register(
    "lead_gap",
    """
WITH g AS (
  SELECT user_id, event_id,
    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_ts, ts
  FROM events
)
SELECT user_id,
  CAST(sum(CAST(floor(epoch(next_ts)) AS BIGINT) - CAST(floor(epoch(ts)) AS BIGINT)) AS DOUBLE)
    / (86400.0 * count(next_ts)) AS mean_gap_days,
  CAST(count(next_ts) AS BIGINT) AS n_gaps
FROM g GROUP BY 1
""",
)
def q_lead_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    # W1+W2 lead + gap (analyze_peer_effects.py:110-121), aggregated to
    # per-user means (raw ns timestamps are not oracle-comparable).
    events = _t(spark, sf_dir, "events")
    gaps = win.lead_gap(events, "user_id", "ts", "event_id")
    return (
        gaps.groupBy("user_id")
        .agg(
            (F.sum("gap_seconds").cast("double")
             / (F.lit(86400.0) * F.count("next_ts"))).alias("mean_gap_days"),
            F.count("next_ts").cast("long").alias("n_gaps"),
        )
        
    )


@_register(
    "rolling_daily_mean",
    """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, round(sum(value), 6) AS daily_value FROM events GROUP BY 1
)
SELECT strftime(d, '%Y-%m-%d') AS d, daily_value,
  avg(daily_value) OVER (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    AS rolling_mean_7
FROM daily
""",
)
def q_rolling_daily_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    # W3: 7-row rolling mean over the daily series (aggregate.py:303-307).
    # The window is over an already-aggregated (one row per day) series —
    # single-partition is fine at any raw-data scale.
    events = _t(spark, sf_dir, "events").withColumn("d", F.to_date("ts"))
    daily = events.groupBy("d").agg(F.round(F.sum("value"), 6).alias("daily_value"))
    out = win.rolling_mean(
        daily, "d", "daily_value", window_rows=7, out_col="rolling_mean_7",
        global_ok=True,  # one row per day — reduced series
    )
    return out.select(
        F.date_format("d", "yyyy-MM-dd").alias("d"), "daily_value", "rolling_mean_7"
    )


@_register(
    "pct_change_daily",
    """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, round(sum(value), 6) AS daily_value FROM events GROUP BY 1
)
SELECT strftime(d, '%Y-%m-%d') AS d, daily_value,
  daily_value / nullif(lag(daily_value) OVER (ORDER BY d), 0) - 1
    AS pct_change
FROM daily
""",
)
def q_pct_change_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    # W5 (prepare_visual_market_data.py:185)
    events = _t(spark, sf_dir, "events").withColumn("d", F.to_date("ts"))
    daily = events.groupBy("d").agg(F.round(F.sum("value"), 6).alias("daily_value"))
    out = win.pct_change(daily, "d", "daily_value", global_ok=True)
    return out.select(
        F.date_format("d", "yyyy-MM-dd").alias("d"), "daily_value", "pct_change"
    )


@_register(
    "cumulative_by_type",
    """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT event_type, strftime(d, '%Y-%m-%d') AS d, n,
  CAST(sum(n) OVER (PARTITION BY event_type ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
    AS cumulative
FROM daily
""",
)
def q_cumulative_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    # W6 cumulative sum per group (advanced_timeseries_analysis.py:254)
    events = _t(spark, sf_dir, "events").withColumn("d", F.to_date("ts"))
    daily = events.groupBy("event_type", "d").agg(F.count(F.lit(1)).alias("n"))
    out = win.cumulative_sum(daily, "event_type", "d", "n")
    return out.select(
        "event_type", F.date_format("d", "yyyy-MM-dd").alias("d"), "n", "cumulative"
    )


@_register(
    "equity_curve",
    """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, round(sum(value), 6) AS daily_value FROM events GROUP BY 1
), r AS (
  SELECT d, daily_value / lag(daily_value) OVER (ORDER BY d) - 1 AS ret FROM daily
)
SELECT strftime(d, '%Y-%m-%d') AS d, ret,
  CASE WHEN max(CASE WHEN COALESCE(ret, 0.0) <= -1 THEN 1 ELSE 0 END)
           OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 0
  THEN exp(sum(ln(1 + COALESCE(ret, 0.0)))
      OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) * 100
  END AS equity
FROM r
""",
)
def q_equity_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    # W7 cumulative product as exp∘cumsum∘log1p
    # (generate_research_visualizations.py:632-638)
    events = _t(spark, sf_dir, "events").withColumn("d", F.to_date("ts"))
    daily = events.groupBy("d").agg(F.round(F.sum("value"), 6).alias("daily_value"))
    rets = win.pct_change(
        daily, "d", "daily_value", out_col="ret", global_ok=True
    ).select("d", "ret")
    rets = rets.withColumn("ret_filled", F.coalesce("ret", F.lit(0.0)))
    out = win.cumulative_product(
        rets, "d", "ret_filled", out_col="equity", global_ok=True
    )
    return out.select(
        F.date_format("d", "yyyy-MM-dd").alias("d"), "ret", "equity"
    )


@_register(
    "topk_per_user",
    """
SELECT user_id, event_id, value, CAST(rank_in_group AS BIGINT) AS rank_in_group
FROM (
  SELECT user_id, event_id, value,
    row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id)
      AS rank_in_group
  FROM events
) t WHERE rank_in_group <= 3
""",
)
def q_topk_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    # W8 top-k per group (analyze_peer_effects.py:76-81)
    out = win.top_k_per_group(
        _t(spark, sf_dir, "events"), "user_id", "value", k=3,
        tiebreak_cols=["event_id"],
    )
    return out.select(
        "user_id", "event_id", "value", F.col("rank_in_group").cast("long").alias("rank_in_group")
    )


# ---------------------------------------------------------------------------
# Joins (J1-J9) on the TPC-H-ish star schema
# ---------------------------------------------------------------------------
@_register(
    "customer_order_stats",
    """
SELECT c.c_custkey, c.c_mktsegment,
  CAST(count(o.o_orderkey) AS BIGINT) AS n_orders,
  sum(o.o_totalprice) AS total_spend
FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
GROUP BY 1, 2
""",
)
def q_customer_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # J1 left equi-join + aggregate (aggregate.py:57)
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.sum("o_totalprice").alias("total_spend"),
        )
        
    )


@_register(
    "customers_with_orders",
    """
SELECT c_custkey, c_name FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders)
""",
)
def q_customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    # J5 semi-join key intersection (prepare_visual_market_data.py:98-125)
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return jn.semi_join_keys(c, o, "c_custkey").select("c_custkey", "c_name")


@_register(
    "region_customer_counts",
    """
SELECT r.r_name AS region_name,
  CAST(count(*) AS BIGINT) AS n_customers, sum(c.c_acctbal) AS total_balance
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY 1
""",
)
def q_region_customer_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # J6 broadcast dimension lookup chain (nation, region are tiny dims)
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    enriched = jn.broadcast_lookup(
        c.withColumnRenamed("c_nationkey", "n_nationkey"), n, "n_nationkey", "inner"
    )
    enriched = jn.broadcast_lookup(
        enriched,
        r.withColumnRenamed("r_regionkey", "n_regionkey"),
        "n_regionkey",
        "inner",
    )
    return (
        enriched.groupBy(F.col("r_name").alias("region_name"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("c_acctbal").alias("total_balance"),
        )
        
    )


@_register(
    "events_regime_label",
    """
WITH regimes AS (
  SELECT * FROM (VALUES
    (DATE '2024-01-01', DATE '2024-01-10', 'early'),
    (DATE '2024-01-11', DATE '2024-01-20', 'mid'),
    (DATE '2024-01-21', DATE '2025-12-31', 'late')
  ) t(start_d, end_d, regime)
)
SELECT regime, CAST(count(*) AS BIGINT) AS n_events, round(sum(value), 6) / count(value) AS mean_value
FROM events e LEFT JOIN regimes r
  ON CAST(e.ts AS DATE) >= r.start_d AND CAST(e.ts AS DATE) <= r.end_d
GROUP BY 1
""",
)
def q_events_regime_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    # J6 interval join — regime labeling (prepare_visual_market_data.py:197-246)
    events = _t(spark, sf_dir, "events").withColumn("d", F.to_date("ts"))
    regimes = local_frame(
        spark,
        [("2024-01-01", "2024-01-10", "early"),
         ("2024-01-11", "2024-01-20", "mid"),
         ("2024-01-21", "2025-12-31", "late")],
        "start_s STRING, end_s STRING, regime STRING",
    ).select(
        F.to_date("start_s").alias("start_d"),
        F.to_date("end_s").alias("end_d"),
        "regime",
    )
    labeled = jn.interval_join(events, regimes, "d", "start_d", "end_d", how="left")
    return (
        labeled.groupBy("regime")
        .agg(F.count(F.lit(1)).alias("n_events"), agg.det_mean("value").alias("mean_value"))
        
    )


@_register(
    "peer_window_1h",
    """
SELECT a.event_id,
  CAST(count(b.event_id) AS BIGINT) AS peer_count,
  round(sum(b.value), 6) / count(b.value) AS peer_mean,
  max(b.value) AS peer_max,
  sum(b.value) AS peer_sum
FROM events a LEFT JOIN events b
  ON a.user_id = b.user_id
 AND b.ts >= a.ts - INTERVAL 1 HOUR AND b.ts < a.ts
GROUP BY 1
""",
)
def q_peer_window_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    # J7+A12 trailing-window peer aggregate (analyze_peer_effects.py:140-185)
    out = jn.range_self_join_aggregate(
        _t(spark, sf_dir, "events"),
        entity_col="user_id",
        ts_col="ts",
        value_col="value",
        id_col="event_id",
        window_seconds=3600,
    )
    return out.select(
        "event_id",
        F.col("peer_count").cast("long").alias("peer_count"),
        "peer_mean",
        "peer_max",
        "peer_sum",
    )


# ---------------------------------------------------------------------------
# TPC-H-style analytical queries (multi-join + agg coverage, bench headliners)
# ---------------------------------------------------------------------------
@_register(
    "pricing_summary",
    """
SELECT l_returnflag, l_linestatus,
  sum(l_quantity) AS sum_qty,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(22,8))) AS DOUBLE) AS sum_base_price,
  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,8))) AS DOUBLE) AS sum_disc_price,
  CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(22,8))) AS DOUBLE) AS sum_charge,
  round(sum(l_quantity), 6) / count(l_quantity) AS avg_qty,
  round(sum(l_extendedprice), 6) / count(l_extendedprice) AS avg_price,
  round(sum(l_discount), 6) / count(l_discount) AS avg_disc,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY 1, 2
""",
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q1 shape: scan → filter → wide hash aggregate. The filter and
    # the 2-column grouping push to the parquet scan.
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            # money sums go through exact DECIMAL then back to double:
            # a 600k-row double sum differs between engines by ~1e-4 from
            # summation order alone, which flips 6dp rounding; the decimal
            # sum is order-independent and identical on both sides.
            F.sum(F.col("l_extendedprice").cast("decimal(22,8)"))
            .cast("double").alias("sum_base_price"),
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount")))
                  .cast("decimal(22,8)")).cast("double").alias("sum_disc_price"),
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))
                   * (1 + F.col("l_tax")))
                  .cast("decimal(22,8)")).cast("double").alias("sum_charge"),
            agg.det_mean("l_quantity").alias("avg_qty"),
            agg.det_mean("l_extendedprice").alias("avg_price"),
            agg.det_mean("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        
    )


@_register(
    "segment_revenue",
    """
SELECT c.c_mktsegment, CAST(year(o.o_orderdate) AS BIGINT) AS order_year,
  CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(22,8))) AS DOUBLE) AS revenue,
  CAST(count(DISTINCT o.o_orderkey) AS BIGINT) AS n_orders
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY 1, 2
""",
)
def q_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q3 shape: 3-way join; customer is small → Catalyst broadcasts
    # it. The lineitem join is pinned to sort-merge (r16): lineitem is
    # the FACT table, but at bench scale its 3-column projection
    # estimates under the broadcast threshold and the planner was
    # observed broadcasting it — collecting the biggest table in the
    # query to the driver (measured 3.7 s vs 1.0 s same-session). A
    # fact-fact equi-join on the order key shuffles both sides at any
    # real scale; the hint makes the strategy deliberate instead of
    # estimate-dependent (guide §3.1; merge beat shuffle_hash 1.04 s
    # vs 1.37 s here).
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li.hint("merge"), o.o_orderkey == li.l_orderkey)
        .groupBy(
            "c_mktsegment", F.year("o_orderdate").cast("long").alias("order_year")
        )
        .agg(
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount")))
                  .cast("decimal(22,8)")).cast("double").alias("revenue"),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
        
    )


@_register(
    "quantile_filter_agg",
    """
WITH p AS (SELECT quantile_cont(l_extendedprice, 0.99) AS p99 FROM lineitem)
SELECT l_returnflag,
  CAST(count(*) AS BIGINT) AS n_below_p99,
  round(sum(l_extendedprice), 6) / count(l_extendedprice) AS mean_price_below
FROM lineitem, p WHERE l_extendedprice < p.p99
GROUP BY 1
""",
)
def q_quantile_filter_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # P12 outlier filter by quantile (analyze_peer_effects.py:199-203).
    # The threshold is the DISTRIBUTED exact percentile (sketch-bracket +
    # exact order statistic, aggregates.exact_percentile_distributed) —
    # same value as the single-reducer F.percentile (the unchanged oracle
    # proves it bit-exact) at ~3x less wall time and no one-task value
    # buffer; the scalar then parameterizes a plain pushed-down filter.
    li = _t(spark, sf_dir, "lineitem")
    p99 = agg.exact_percentile_distributed(li, "l_extendedprice", 0.99)
    return (
        li.filter(F.col("l_extendedprice") < F.lit(p99))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_below_p99"),
            agg.det_mean("l_extendedprice").alias("mean_price_below"),
        )
    )


@_register(
    "quantile_filter_agg_approx",
    # the sketch threshold value is engine-specific; its rank-error
    # contract is not: the fraction of rows below the approx p99 must sit
    # inside [0.99 - eps, 0.99 + eps]. Deterministic sketch -> stable bool.
    """
SELECT CAST(count(l_extendedprice) AS BIGINT) AS n_values,
  TRUE AS p99_rank_ok
FROM lineitem
""",
)
def q_quantile_filter_agg_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    # P12 scale path: percentile_approx sketch for the p99 cut. The exact
    # percentile buffers every value in one reducer; the sketch is map-side
    # combined with bounded memory — the 100 TB form of the same filter,
    # graded here against the sketch's rank guarantee computed in-plan.
    accuracy = 10_000
    eps = 4.0 / accuracy
    li = _t(spark, sf_dir, "lineitem")
    p99 = li.select("l_extendedprice").agg(
        F.percentile_approx("l_extendedprice", 0.99, accuracy).alias("p99")
    )
    return (
        li.crossJoin(F.broadcast(p99))
        .agg(
            F.count("l_extendedprice").cast("long").alias("n_values"),
            F.count(F.when(F.col("l_extendedprice") < F.col("p99"), 1))
            .alias("_n_below"),
            F.count(F.when(F.col("l_extendedprice") <= F.col("p99"), 1))
            .alias("_n_le"),
        )
        .select(
            "n_values",
            # the sketch's rank guarantee covers the returned element's rank
            # interval [count_lt + 1, count_le]: with heavy ties at the p99
            # element count_lt alone can legitimately sit far below the
            # target rank, so the lower bound must use count_le (mirrors
            # summary_quantiles_approx's two-sided bracket).
            (
                (F.col("_n_le") >= (0.99 - eps) * F.col("n_values"))
                & (F.col("_n_below") <= (0.99 + eps) * F.col("n_values") + 1)
            ).alias("p99_rank_ok"),
        )
    )


# ---------------------------------------------------------------------------
# Scalar-function surfaces (§2.8)
# ---------------------------------------------------------------------------
@_register(
    "string_functions",
    """
SELECT c_custkey,
  lower(trim(c_name)) AS name_norm,
  concat_ws('_', c_mktsegment, CAST(c_nationkey AS VARCHAR)) AS seg_key,
  substring(c_name, 1, 8) AS name_prefix,
  lpad(CAST(c_nationkey AS VARCHAR), 4, '0') AS nation_padded,
  CAST(length(c_name) AS BIGINT) AS name_len
FROM customer
""",
)
def q_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    # §2.8 string family (clean_events.py:123-129, 237-239;
    # generate_visualizations.py:244,253)
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.lower(F.trim("c_name")).alias("name_norm"),
        F.concat_ws("_", F.col("c_mktsegment"), F.col("c_nationkey").cast("string")).alias(
            "seg_key"
        ),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.lpad(F.col("c_nationkey").cast("string"), 4, "0").alias("nation_padded"),
        F.length("c_name").cast("long").alias("name_len"),
    )


@_register(
    "datetime_functions",
    """
SELECT CAST(year(ts) AS BIGINT) AS y, CAST(month(ts) AS BIGINT) AS m,
  CAST(quarter(ts) AS BIGINT) AS q, CAST(hour(ts) AS BIGINT) AS h,
  strftime(ts, '%Y-%m') AS year_month,
  CAST(count(*) AS BIGINT) AS n
FROM events GROUP BY 1, 2, 3, 4, 5
""",
)
def q_datetime_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    # §2.8 date/time family (advanced_timeseries_analysis.py:32-33,100-101)
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.year("ts").cast("long").alias("y"),
            F.month("ts").cast("long").alias("m"),
            F.quarter("ts").cast("long").alias("q"),
            F.hour("ts").cast("long").alias("h"),
            F.date_format("ts", "yyyy-MM").alias("year_month"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        
    )


@_register(
    "json_extraction",
    """
SELECT event_type,
  avg(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS mean_k,
  CAST(count(*) AS BIGINT) AS n
FROM events GROUP BY 1
""",
)
def q_json_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    # §2.8 JSON family (analyze_cluster_traits.py:58-97): parse the props
    # JSON column, typed extraction, aggregate.
    e = _t(spark, sf_dir, "events")
    return (
        # try_cast: a non-numeric $.k in real payloads must read null,
        # not ANSI-abort the scan (r13 cast-abort sweep; the validator
        # explicitly expects malformed props in raw data)
        e.withColumn(
            "k", F.get_json_object("props", "$.k").try_cast("long")
        )
        .groupBy("event_type")
        .agg(F.avg("k").alias("mean_k"), F.count(F.lit(1)).alias("n"))

    )


@_register(
    "variant_json_stats",
    """
WITH v AS (
  SELECT event_type,
    TRY_CAST(json_extract(props, '$.k') AS INTEGER) AS k
  FROM events
)
SELECT event_type, CAST(count(k) AS BIGINT) AS n_with_k,
  CAST(sum(k) AS BIGINT) AS k_total,
  round(sum(k) / CAST(count(k) AS DOUBLE), 6) AS k_mean
FROM v GROUP BY 1
""",
)
def q_variant_json_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Spark 4 VARIANT path for semi-structured data: parse_json ONCE into
    # the binary-encoded variant, then typed variant_get extraction —
    # the scale replacement for re-parsing JSON strings per accessed
    # field (get_json_object re-parses on every call; variant parses at
    # ingest and extracts by offset). Same result as the string path,
    # graded against DuckDB's typed json_extract. Integer sums keep the
    # mean division engine-exact.
    e = _t(spark, sf_dir, "events")
    v = e.select(
        "event_type",
        # try_parse_json + try_variant_get: malformed props rows (which
        # validate_events COUNTS as an expected raw-data condition) and
        # wrong-TYPED values ({"k": "abc"}) must both read null, not
        # abort the ingest (r13 cast-abort sweep; variant_get throws
        # INVALID_VARIANT_CAST on a type mismatch)
        F.try_variant_get(
            F.try_parse_json("props"), "$.k", "int"
        ).alias("k"),
    )
    return v.groupBy("event_type").agg(
        F.count("k").alias("n_with_k"),
        F.sum("k").cast("long").alias("k_total"),
        F.round(
            F.sum("k") / F.count("k").cast("double"), 6
        ).alias("k_mean"),
    )


@_register(
    "event_type_canonicalization",
    """
SELECT CASE
    WHEN lower(trim(event_type)) IN ('click', 'tap') THEN 'interaction'
    WHEN lower(trim(event_type)) IN ('view', 'impression') THEN 'exposure'
    WHEN lower(trim(event_type)) = 'purchase' THEN 'conversion'
    ELSE lower(trim(event_type))
  END AS canonical_type,
  CAST(count(*) AS BIGINT) AS n
FROM events GROUP BY 1
""",
)
def q_event_type_canonicalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    # §2.8 event-type canonicalization (clean_events.py:196-214): chained
    # conditional mapping of variant spellings onto a canonical domain.
    e = _t(spark, sf_dir, "events")
    norm = F.lower(F.trim("event_type"))
    canon = (
        F.when(norm.isin("click", "tap"), F.lit("interaction"))
        .when(norm.isin("view", "impression"), F.lit("exposure"))
        .when(norm == "purchase", F.lit("conversion"))
        .otherwise(norm)
    )
    return (
        e.groupBy(canon.alias("canonical_type"))
        .agg(F.count(F.lit(1)).alias("n"))
        
    )


@_register(
    "regex_filtering",
    """
SELECT lang, CAST(count(*) AS BIGINT) AS n_matching
FROM documents
WHERE regexp_matches(text, 'spark\\s+\\w+\\s+join') AND lang <> ''
GROUP BY 1
""",
)
def q_regex_filtering(spark: SparkSession, sf_dir: str) -> DataFrame:
    # P10 regex predicate (validate.py:142-146) + P6 null/empty guard
    d = _t(spark, sf_dir, "documents")
    return (
        d.filter(F.col("text").rlike(r"spark\s+\w+\s+join") & (F.col("lang") != ""))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_matching"))
        
    )


# ---------------------------------------------------------------------------
# Dedup extensions (exact / minhash / ngram / simhash / embedding)
# ---------------------------------------------------------------------------
@_register(
    "exact_dedup",
    """
WITH hashed AS (
  SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
    AS content_hash FROM documents
), ranked AS (
  SELECT doc_id, content_hash,
    row_number() OVER (PARTITION BY content_hash ORDER BY doc_id) rn,
    count(*) OVER (PARTITION BY content_hash) dup_count
  FROM hashed
)
SELECT doc_id, content_hash, CAST(dup_count AS BIGINT) AS dup_count
FROM ranked WHERE rn = 1
""",
)
def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    out = dd.exact_dedup(d, "text", "doc_id")
    return out.select(
        "doc_id", "content_hash", F.col("dup_count").cast("long").alias("dup_count")
    )


def _minhash_oracle(num_hashes: int = 8) -> str:
    sig_cols = ",\n  ".join(
        f"min(md5('{i}_' || shingle)) AS sig_{i}" for i in range(num_hashes)
    )
    return f"""
WITH words AS (
  SELECT doc_id, unnest(list_distinct(regexp_split_to_array(
    trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '))) AS shingle
  FROM documents
)
SELECT doc_id,
  {sig_cols}
FROM words GROUP BY doc_id
"""


@_register("minhash_signatures", _minhash_oracle(8))
def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.minhash_signatures(
        _t(spark, sf_dir, "documents"), "text", "doc_id", num_hashes=8
    )


@_register(
    "ngram_jaccard_pairs",
    """
WITH grams AS (
  SELECT doc_id, list_distinct([substring(text, i, 3)
    for i in range(1, greatest(length(text) - 2, 0) + 1)]) AS g
  FROM documents WHERE doc_id < 100
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
  len(list_intersect(a.g, b.g)) / CAST(len(list_distinct(a.g || b.g)) AS DOUBLE)
    AS jaccard
FROM grams a, grams b
WHERE a.doc_id < b.doc_id
  AND len(list_intersect(a.g, b.g)) / CAST(len(list_distinct(a.g || b.g)) AS DOUBLE)
      >= 0.5
""",
)
def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Exact character-trigram Jaccard on a capped id range (quadratic
    # correctness path; the scale path is minhash LSH).
    return dd.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), "text", "doc_id",
        n=3, threshold=0.5, max_id=100,
    )


@_register(
    "embedding_near_dup",
    """
WITH base AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id < 300
), aug AS (
  SELECT vec_id, e FROM base
  UNION ALL
  SELECT vec_id + 1000, list_concat([0.0::DOUBLE], e[2:])
  FROM base WHERE vec_id < 20
), scored AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
    list_dot_product(a.e, b.e) /
      (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)))
      AS cos
  FROM aug a JOIN aug b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b, round(cos, 6) AS cos_sim FROM scored WHERE cos >= 0.9
""",
)
def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The r5 green row was VACUOUS — 0 rows at sf0.01 (noise corpus, no
    # natural pair above 0.9). Plant deterministic near-dups IN-PLAN so
    # the oracle sees real pairs: for vec_id < 20, add a twin at
    # vec_id+1000 with element 1 zeroed — cos(x, twin) = sqrt(1 -
    # x_1^2/|x|^2) ≈ 0.99 on this corpus, data-dependent and strictly
    # below 1, so the threshold is genuinely exercised. Both engines
    # build the twin from identical doubles with the same elementwise
    # ops, so pair sets and 6dp-rounded sims must agree exactly.
    base = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    twins = base.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 1000).alias("vec_id"),
        F.concat(
            F.array(F.lit(0.0)),
            F.slice(F.col("embedding"), 2, F.size(F.col("embedding")) - 1),
        ).alias("embedding"),
    )
    return dd.embedding_near_dup_pairs(
        base.unionByName(twins), "vec_id", "embedding", threshold=0.9
    ).select("id_a", "id_b", F.round("cos_sim", 6).alias("cos_sim"))


def _semdedup_corpus(spark: SparkSession, sf_dir: str):
    """(corpus, n_twins): embeddings<300 + cos≈0.95 twins at id+10_000 —
    the shared planted fixture for the semdedup grades."""
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300).select(
        "vec_id", "embedding"
    )
    twins = emb.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 10_000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x * (1.0 + 0.3 * F.sin(i.cast("double") + 1.0)),
        ).cast("array<float>").alias("embedding"),
    )
    return emb.unionByName(twins)


@_register(
    "semdedup_pairs",
    """
SELECT CAST(count(*) AS BIGINT) AS n_queries, TRUE AS twin_pairs_ok
FROM embeddings WHERE vec_id < 50
""",
)
def q_semdedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SemDeDup (Abbas et al. 2023): k-means cluster the normalized
    # corpus, exact cosine pairs only WITHIN clusters — embedding
    # near-dup without the all-pairs cross-join (~N^1.5 at k≈√N).
    # Falsifiable gate: ≥90% of the planted cos≈0.95 twins must surface
    # as within-cluster pairs (measured 50/50 with zero false positives
    # at threshold 0.9 on this corpus).
    corpus = _semdedup_corpus(spark, sf_dir)
    pairs = dd.semdedup_pairs(corpus, n_clusters=8, threshold=0.9)
    base_n = corpus.filter(F.col("vec_id") < 50).agg(
        F.count(F.lit(1)).cast("long").alias("n_queries")
    )
    hits = pairs.filter(
        (F.col("id_b") == F.col("id_a") + 10_000) & (F.col("id_a") < 50)
    ).agg(F.count(F.lit(1)).alias("_h"))
    return base_n.crossJoin(hits).select(
        "n_queries",
        (F.col("_h") >= F.round(F.col("n_queries") * 0.9)).alias(
            "twin_pairs_ok"
        ),
    )


@_register(
    "semdedup_keep",
    """
SELECT CAST(count(*) AS BIGINT) AS n_queries, TRUE AS twin_drop_ok,
  TRUE AS rep_kept_ok
FROM embeddings WHERE vec_id < 50
""",
)
def q_semdedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The keep/drop decision: pairs → connected components → keep the
    # min-id representative per duplicate group. Gates: ≥90% of twins
    # dropped (their min-id original is the representative), and EVERY
    # dropped id's group representative is itself kept.
    corpus = _semdedup_corpus(spark, sf_dir)
    keep = dd.semdedup_keep(corpus, n_clusters=8, threshold=0.9)
    base_n = corpus.filter(F.col("vec_id") < 50).agg(
        F.count(F.lit(1)).cast("long").alias("n_queries")
    )
    twin_drops = keep.filter(
        (F.col("id") >= 10_000) & (F.col("id") < 10_050) & (~F.col("keep"))
    ).agg(F.count(F.lit(1)).alias("_d"))
    kept_ids = keep.filter("keep").select(F.col("id").alias("_rep"))
    orphans = (
        keep.filter(~F.col("keep"))
        .join(kept_ids, F.col("group_id") == F.col("_rep"), "left_anti")
        .agg(F.count(F.lit(1)).alias("_orphans"))
    )
    return (
        base_n.crossJoin(twin_drops)
        .crossJoin(orphans)
        .select(
            "n_queries",
            (F.col("_d") >= F.round(F.col("n_queries") * 0.9)).alias(
                "twin_drop_ok"
            ),
            (F.col("_orphans") == 0).alias("rep_kept_ok"),
        )
    )


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------
@_register(
    "knn_topk",
    """
WITH q AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
  WHERE vec_id < 50
    AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
), c AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
  WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
), scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
    list_dot_product(q.v, c.v) /
      (sqrt(list_dot_product(q.v, q.v)) *
       sqrt(list_dot_product(c.v, c.v))) AS sim
  FROM q, c WHERE q.vec_id <> c.vec_id
)
SELECT query_id, neighbor_id, sim, CAST(rank AS BIGINT) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id)
    AS rank
  FROM scored
) t WHERE rank <= 10
""",
)
def q_knn_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # J8 exact top-k cosine (analyze_peer_effects.py:55-97), query side
    # capped for the oracle-parity path.
    emb = _t(spark, sf_dir, "embeddings")
    out = sim.knn_topk_exact(
        emb, "vec_id", "embedding", k=10, queries=emb.filter(F.col("vec_id") < 50)
    )
    return out.select(
        "query_id", "neighbor_id", "sim", F.col("rank").cast("long").alias("rank")
    )


@_register(
    "group_centroids",
    """
SELECT "label" AS group_label, CAST(i - 1 AS BIGINT) AS dim, avg(v::DOUBLE) AS mean_val
FROM (
  SELECT "label", unnest(embedding) AS v, generate_subscripts(embedding, 1) AS i
  FROM embeddings
) t GROUP BY 1, 2
""",
)
def q_group_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Per-group mean embedding (analyze_embeddings.py:166)
    out = sim.group_centroids(_t(spark, sf_dir, "embeddings"), "label", "embedding")
    return out.select(
        F.col("label").alias("group_label"),
        F.col("dim").cast("long").alias("dim"),
        "mean_val",
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------
@_register(
    "token_stats",
    """
WITH w AS (
  SELECT doc_id, length(text) AS n_chars_measured,
    regexp_split_to_array(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')
      AS words
  FROM documents
)
SELECT doc_id,
  CAST(n_chars_measured AS BIGINT) AS n_chars_measured,
  CAST(len(words) AS BIGINT) AS n_tokens,
  CAST(len(list_distinct(words)) AS BIGINT) AS n_distinct_tokens,
  CAST(list_reduce(list_prepend(0, [CAST(ceil(length(x) / 4.0) AS BIGINT) for x in words]),
    (a, b) -> a + b) AS BIGINT) AS n_subword_est
FROM w
""",
)
def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = tx.token_stats(_t(spark, sf_dir, "documents"))
    return out.select(
        "doc_id",
        F.col("n_chars_measured").cast("long").alias("n_chars_measured"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_distinct_tokens").cast("long").alias("n_distinct_tokens"),
        F.col("n_subword_est").cast("long").alias("n_subword_est"),
    )


_EN_STOP_SQL = ", ".join(f"'{w}'" for w in tx.LANG_PROFILES["en"])


@_register(
    "quality_scores",
    f"""
WITH w AS (
  SELECT doc_id, text,
    regexp_split_to_array(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')
      AS words
  FROM documents
)
SELECT doc_id,
  CAST(length(text) AS BIGINT) AS n_chars_measured,
  CAST(len(words) AS BIGINT) AS n_words,
  length(regexp_replace(text, '\\s', '', 'g')) / CAST(len(words) AS DOUBLE)
    AS mean_word_len,
  len(regexp_extract_all(text, '([\\.,;:!\\?])'))
    / CAST(length(text) AS DOUBLE) AS punct_ratio,
  len(list_intersect(words, [{_EN_STOP_SQL}])) / CAST(len(words) AS DOUBLE)
    AS stopword_hit_ratio
FROM w
""",
)
def q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = tx.quality_scores(_t(spark, sf_dir, "documents"))
    return out.select(
        "doc_id",
        F.col("n_chars_measured").cast("long").alias("n_chars_measured"),
        F.col("n_words").cast("long").alias("n_words"),
        "mean_word_len",
        "punct_ratio",
        "stopword_hit_ratio",
    )


def _lang_id_oracle() -> str:
    langs = sorted(tx.LANG_PROFILES)
    score_exprs = ",\n  ".join(
        "CAST(len(list_intersect(words, [{}])) AS BIGINT) AS score_{}".format(
            ", ".join(f"'{w}'" for w in tx.LANG_PROFILES[lang]), lang
        )
        for lang in langs
    )
    # fold argmax identical to the Spark side: strictly-greater replaces
    pred = f"'{langs[0]}'"
    best = f"score_{langs[0]}"
    for lang in langs[1:]:
        pred = f"CASE WHEN score_{lang} > {best} THEN '{lang}' ELSE {pred} END"
        best = f"greatest({best}, score_{lang})"
    return f"""
WITH w AS (
  SELECT doc_id, list_distinct(regexp_split_to_array(
    trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS words
  FROM documents
), scored AS (
  SELECT doc_id,
  {score_exprs}
  FROM w
)
SELECT *, {pred} AS predicted_lang FROM scored
"""


@_register("language_id", _lang_id_oracle())
def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = tx.language_id(_t(spark, sf_dir, "documents"))
    casts = [F.col(c).cast("long").alias(c) for c in out.columns if c.startswith("score_")]
    return out.select("doc_id", *casts, "predicted_lang")


# Deterministic CJK plants for the language_id_cjk grade: every 20th doc
# becomes a Chinese/Japanese/Korean text (same CASE in query and oracle),
# so the graded rows include real CJK predictions — the planted docs are
# falsifiable (test_round7 asserts they classify as zh/ja/ko), not 0=0.
_CJK_PLANT = {
    0: "我们的数据管道可以处理很多文件，因为这个系统是为了大规模训练而设计的。"
       "我们知道现在没有什么问题，但是如果有问题，大家可以知道。",
    1: "このシステムはデータを処理しています。これはとても大きなファイルですから、"
       "時間がかかることがあります。それでもこの方法がいいと思います。",
    2: "이 시스템은 데이터를 처리하고 있습니다. 우리는 지금 문제가 없다는 것을 "
       "알고 있습니다. 그리고 파일이 많지만 처리할 수 있습니다.",
}


def _lang_id_cjk_oracle() -> str:
    langs = sorted(set(tx.LANG_PROFILES) | set(tx.CJK_BIGRAM_PROFILES))
    score_exprs = []
    for lang in langs:
        parts = []
        if lang in tx.LANG_PROFILES:
            parts.append(
                "len(list_intersect(words, [{}]))".format(
                    ", ".join(
                        f"'{w}'" for w in sorted(set(tx.LANG_PROFILES[lang]))
                    )
                )
            )
        if lang in tx.CJK_BIGRAM_PROFILES:
            parts.append(
                "len(list_intersect(grams, [{}]))".format(
                    ", ".join(
                        f"'{g}'"
                        for g in sorted(set(tx.CJK_BIGRAM_PROFILES[lang]))
                    )
                )
            )
        score_exprs.append(
            "CAST({} AS BIGINT) AS score_{}".format(" + ".join(parts), lang)
        )
    pred = f"'{langs[0]}'"
    best = f"score_{langs[0]}"
    for lang in langs[1:]:
        pred = f"CASE WHEN score_{lang} > {best} THEN '{lang}' ELSE {pred} END"
        best = f"greatest({best}, score_{lang})"
    case_sql = "CASE CAST(doc_id % 20 AS INTEGER) " + " ".join(
        f"WHEN {k} THEN '{v}'" for k, v in _CJK_PLANT.items()
    ) + " ELSE text END"
    scores = ",\n  ".join(score_exprs)
    return f"""
WITH planted AS (
  SELECT doc_id, {case_sql} AS text FROM documents
), c AS (
  SELECT doc_id, text,
    substring(regexp_replace(text, '[^{tx.CJK_CHAR_RANGES}]', '', 'g'),
              1, 200) AS cjk
  FROM planted
), w AS (
  SELECT doc_id,
    list_distinct(regexp_split_to_array(
      trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS words,
    list_distinct(list_transform(range(1, CAST(length(cjk) AS INTEGER)),
      i -> substring(cjk, CAST(i AS INTEGER), 2))) AS grams
  FROM c
), scored AS (
  SELECT doc_id,
  {scores}
  FROM w
)
SELECT *, {pred} AS predicted_lang FROM scored
"""


@_register("language_id_cjk", _lang_id_cjk_oracle())
def q_language_id_cjk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # CJK coverage for language ID (VERDICT r6 #5): zh/ja/ko docs planted
    # in-plan by the same CASE the oracle replays; the operator scores
    # word stopword profiles AND character-bigram profiles in one
    # zero-shuffle projection.
    docs = _t(spark, sf_dir, "documents")
    m = F.col("doc_id") % 20
    planted = docs.select(
        "doc_id",
        F.when(m == 0, F.lit(_CJK_PLANT[0]))
        .when(m == 1, F.lit(_CJK_PLANT[1]))
        .when(m == 2, F.lit(_CJK_PLANT[2]))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    out = tx.language_id_cjk(planted)
    casts = [F.col(c).cast("long").alias(c) for c in out.columns if c.startswith("score_")]
    return out.select("doc_id", *casts, "predicted_lang")


@_register(
    "document_fingerprints",
    """
WITH n AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
  FROM documents
), w AS (
  SELECT doc_id, norm,
    unnest(regexp_split_to_array(norm, ' ')) AS word,
    generate_subscripts(regexp_split_to_array(norm, ' '), 1) AS i
  FROM n
)
SELECT doc_id, min(md5(norm)) AS content_md5,
  CAST(sum(CAST(i AS BIGINT) * (length(word) * 7 + ascii(word))) % 2147483647
    AS BIGINT) AS rolling_hash,
  CAST(min(length(norm)) AS BIGINT) AS norm_len
FROM w GROUP BY doc_id
""",
)
def q_document_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = tx.document_fingerprints(_t(spark, sf_dir, "documents"))
    return out.select(
        "doc_id", "content_md5",
        F.col("rolling_hash").cast("long").alias("rolling_hash"),
        F.col("norm_len").cast("long").alias("norm_len"),
    )


# ---------------------------------------------------------------------------
# Cleaning pipeline + validator (reference core ETL, clean_events.py /
# validate.py)
# ---------------------------------------------------------------------------
from .operators import clean as cl  # noqa: E402
from .operators import mlstats as ms  # noqa: E402
from .operators import multimodal as mm  # noqa: E402


@_register(
    "clean_events_pipeline",
    """
WITH base AS (
  SELECT event_id, ts, user_id, lower(trim(event_type)) AS event_type,
         COALESCE(value, 0.0) AS value
  FROM events
  WHERE COALESCE(value, 0.0) >= 0 AND ts IS NOT NULL
    AND ts BETWEEN TIMESTAMP '2000-01-01' AND TIMESTAMP '2100-01-01'
), d AS (
  SELECT *, CAST(ts AS DATE) AS event_date,
    row_number() OVER (PARTITION BY user_id, event_type, CAST(ts AS DATE)
                       ORDER BY ts, event_id) AS rn
  FROM base
)
SELECT event_id,
  concat(CAST(event_id AS VARCHAR), '_', CAST(user_id AS VARCHAR)) AS row_key,
  strftime(event_date, '%Y-%m-%d') AS event_date,
  CAST(floor(epoch(ts)) AS BIGINT) AS ts_epoch,
  user_id, event_type, value
FROM d WHERE rn = 1
""",
)
def q_clean_events_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Full 8-step cleaner (clean_events.py:17-57): normalize → canonicalize
    # → filter → deterministic keep-first dedup → composite key → project.
    out = cl.clean_events(_t(spark, sf_dir, "events"))
    return out.select(
        "event_id", "row_key",
        F.date_format("event_date", "yyyy-MM-dd").alias("event_date"),
        F.unix_timestamp("ts").cast("long").alias("ts_epoch"),
        "user_id", "event_type", "value",
    )


@_register(
    "validate_events_report",
    """
WITH dup AS (
  SELECT CAST(COALESCE(count(*), 0) AS BIGINT) AS duplicate_keys,
         CAST(COALESCE(sum(n - 1), 0) AS BIGINT) AS duplicate_rows
  FROM (SELECT count(*) AS n FROM events
        GROUP BY user_id, event_type, ts HAVING count(*) > 1)
), checks AS (
  SELECT CAST(count(*) AS BIGINT) AS total_rows,
    CAST(sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_ids,
    CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_users,
    CAST(sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_ts,
    CAST(sum(CASE WHEN event_type NOT IN ('click','view','purchase','signup','error')
             THEN 1 ELSE 0 END) AS BIGINT) AS invalid_event_types,
    CAST(sum(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS BIGINT) AS negative_values,
    CAST(sum(CASE WHEN ts NOT BETWEEN TIMESTAMP '2000-01-01' AND TIMESTAMP '2100-01-01'
             THEN 1 ELSE 0 END) AS BIGINT) AS ts_out_of_range,
    CAST(sum(CASE WHEN props IS NOT NULL AND NOT (json_valid(props) AND json_type(props) = 'OBJECT')
             THEN 1 ELSE 0 END) AS BIGINT) AS malformed_props
  FROM events
)
SELECT checks.*, dup.* FROM checks, dup
""",
)
def q_validate_events_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The 7 DataValidator checks (validate.py:18-237) as one metrics row.
    out = cl.validate_events(
        _t(spark, sf_dir, "events"),
        valid_types=list(TESTDATA_EVENT_TYPES),
    )
    return out.select(*[F.col(c).cast("long").alias(c) for c in out.columns])


# ---------------------------------------------------------------------------
# Per-group statistical modeling (F4/F5/F8)
# ---------------------------------------------------------------------------
@_register(
    "group_regression",
    """
SELECT l_returnflag,
  round(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
  round(regr_intercept(l_extendedprice, l_quantity), 6) AS intercept,
  round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
  CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n_obs
FROM lineitem GROUP BY 1
""",
)
def q_group_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    # F4: per-group OLS via applyInPandas (analyze_peer_effects.py:214-235);
    # oracle is SQL regr_* (identical closed form, rounded to 6dp).
    return ms.group_ols(
        _t(spark, sf_dir, "lineitem"), ["l_returnflag"],
        x_col="l_quantity", y_col="l_extendedprice",
    )


@_register(
    "anova_by_nation",
    """
WITH pc AS (
  SELECT c_nationkey, c_mktsegment, count(*) AS n_c,
         sum(c_acctbal) AS sum_c, sum(c_acctbal * c_acctbal) AS sumsq_c
  FROM customer WHERE c_acctbal IS NOT NULL GROUP BY 1, 2
), pg AS (
  SELECT c_nationkey, CAST(sum(n_c) AS BIGINT) AS n_total,
         CAST(count(*) AS BIGINT) AS k_classes,
         sum(sum_c) AS sum_total, sum(sumsq_c) AS sumsq_total,
         sum(sum_c * sum_c / n_c) AS sum_groupsq
  FROM pc GROUP BY 1
)
SELECT c_nationkey, n_total, k_classes,
  round(CASE WHEN k_classes > 1 AND n_total > k_classes
                  AND (sumsq_total - sum_groupsq) > 0
    THEN ((sum_groupsq - sum_total * sum_total / n_total) / (k_classes - 1))
         / ((sumsq_total - sum_groupsq) / (n_total - k_classes)) END, 6)
    AS f_stat,
  round(CASE WHEN (sumsq_total - sum_total * sum_total / n_total) > 0
    THEN (sum_groupsq - sum_total * sum_total / n_total)
         / (sumsq_total - sum_total * sum_total / n_total) END, 6)
    AS eta_squared
FROM pg
""",
)
def q_anova_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    # F5: one-way ANOVA of account balance across market segments, per
    # nation (analyze_visual_cycles.py:188-222) — built-in aggregates only.
    return ms.anova_oneway(
        _t(spark, sf_dir, "customer"), "c_nationkey", "c_mktsegment", "c_acctbal"
    )


@_register(
    "spearman_daily",
    """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, round(sum(value), 6) AS v FROM events GROUP BY 1
), rn AS (
  SELECT d, v, row_number() OVER (ORDER BY d, v) AS rx,
         row_number() OVER (ORDER BY v, d) AS ry
  FROM daily
), rk AS (
  SELECT avg(rx) OVER (PARTITION BY d) AS rank_x,
         avg(ry) OVER (PARTITION BY v) AS rank_y
  FROM rn
)
SELECT round(corr(rank_x, rank_y), 6) AS spearman FROM rk
""",
)
def q_spearman_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    # F8: Spearman rank correlation of daily volume vs time (rank windows
    # + Pearson; analyze_peer_effects.py:341-342).
    events = _t(spark, sf_dir, "events").withColumn("d", F.to_date("ts"))
    daily = events.groupBy("d").agg(F.round(F.sum("value"), 6).alias("v"))
    return ms.spearman_corr(daily, "d", "v")


@_register(
    "rolling_std_7",
    """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, round(sum(value), 6) AS daily_value FROM events GROUP BY 1
)
SELECT strftime(d, '%Y-%m-%d') AS d, daily_value,
  stddev_samp(daily_value) OVER (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    AS rolling_std_7
FROM daily
""",
)
def q_rolling_std_7(spark: SparkSession, sf_dir: str) -> DataFrame:
    # W4: trailing rolling std with min_periods=1 semantics
    # (advanced_timeseries_analysis.py:155-156).
    events = _t(spark, sf_dir, "events").withColumn("d", F.to_date("ts"))
    daily = events.groupBy("d").agg(F.round(F.sum("value"), 6).alias("daily_value"))
    out = win.rolling_std(
        daily, "d", "daily_value", window_rows=7, out_col="rolling_std_7",
        global_ok=True,
    )
    return out.select(
        F.date_format("d", "yyyy-MM-dd").alias("d"), "daily_value", "rolling_std_7"
    )


# ---------------------------------------------------------------------------
# Dedup extensions round 2: simhash + minhash-LSH pairs
# ---------------------------------------------------------------------------
def _simhash_oracle(bits: int = 16) -> str:
    # bit b of md5(word): hex digit floor(b/4), bit (b%4) — identical to
    # the Spark implementation (dedup.simhash_signatures).
    contribs = ",\n    ".join(
        f"sum(2 * ((strpos('0123456789abcdef', substring(h, {1 + b // 4}, 1)) - 1 "
        f">> {b % 4}) & 1) - 1) AS s_{b}"
        for b in range(bits)
    )
    sig = " + ".join(
        f"(CASE WHEN s_{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(bits)
    )
    return f"""
WITH words AS (
  SELECT doc_id, unnest(list_distinct(regexp_split_to_array(
    trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '))) AS w
  FROM documents
), hashed AS (SELECT doc_id, md5(w) AS h FROM words),
sums AS (
  SELECT doc_id,
    {contribs}
  FROM hashed GROUP BY doc_id
)
SELECT doc_id, CAST({sig} AS BIGINT) AS simhash FROM sums
"""


@_register("simhash_signatures", _simhash_oracle(16))
def q_simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.simhash_signatures(
        _t(spark, sf_dir, "documents"), "text", "doc_id", bits=16
    )


def _minhash_lsh_oracle(num_hashes: int = 8, band_size: int = 2,
                        threshold: float = 0.7, max_id: int = 200) -> str:
    sig_cols = ",\n  ".join(
        f"min(md5('{i}_' || shingle)) AS sig_{i}" for i in range(num_hashes)
    )
    n_bands = num_hashes // band_size
    band_selects = "\n  UNION ALL ".join(
        "SELECT doc_id AS id, {b} AS band, concat_ws('|', {cols}) AS band_key FROM sigs".format(
            b=b,
            cols=", ".join(f"sig_{b * band_size + j}" for j in range(band_size)),
        )
        for b in range(n_bands)
    )
    return f"""
WITH docs AS (
  SELECT doc_id, list_distinct(regexp_split_to_array(
    trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS ws
  FROM documents WHERE doc_id < {max_id}
), words AS (
  SELECT doc_id, unnest(ws) AS shingle FROM docs
), sigs AS (
  SELECT doc_id,
  {sig_cols}
  FROM words GROUP BY doc_id
), bands AS (
  {band_selects}
), cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
  WHERE a.id < b.id
)
SELECT c.id_a, c.id_b,
  len(list_intersect(da.ws, db.ws))
    / CAST(len(list_distinct(da.ws || db.ws)) AS DOUBLE) AS jaccard
FROM cand c
JOIN docs da ON da.doc_id = c.id_a
JOIN docs db ON db.doc_id = c.id_b
WHERE len(list_intersect(da.ws, db.ws))
    / CAST(len(list_distinct(da.ws || db.ws)) AS DOUBLE) >= {threshold}
"""


@_register("minhash_lsh_pairs", _minhash_lsh_oracle(8, 2, 0.7, 200))
def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # MinHash+LSH near-dup pairs: banded candidate join + exact-Jaccard
    # verification; the scale path for ngram_jaccard_pairs.
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return dd.minhash_lsh_pairs(
        docs, "text", "doc_id", num_hashes=8, band_size=2, jaccard_threshold=0.7
    )


@_register(
    "incremental_lsh_dedup",
    f"""
WITH full_pairs AS (
{_minhash_lsh_oracle(8, 2, 0.7, 500)}
)
SELECT id_a, id_b, jaccard FROM full_pairs
WHERE NOT (id_a < 250 AND id_b < 250)
""",
)
def q_incremental_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Incremental corpus dedup — the production shape: the 250-doc
    # "new shard" dedups against the 250-doc "existing corpus" via the
    # band table WITHOUT re-pairing old×old; output must equal the
    # full-corpus LSH pairs minus the old×old block, row for row
    # (the oracle is the full-corpus replay with that block removed —
    # so this grades the invariant, not a weaker shard-only check).
    # Candidate work is proportional to the SHARD (two band equi-joins:
    # new×old, new×new); old token sets are read semi-join-restricted
    # to candidate ids (operators/dedup.py:minhash_lsh_pairs_incremental).
    # The corpus is pinned to doc_id < 500 on BOTH sides (the oracle's
    # max_id) so grading stays exact at any fixture size, matching the
    # sibling queries' explicit pins (ADVICE r11).
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    old = docs.filter(F.col("doc_id") < 250)
    new = docs.filter(F.col("doc_id") >= 250)
    return dd.minhash_lsh_pairs_incremental(
        old, new, "text", "doc_id",
        num_hashes=8, band_size=2, jaccard_threshold=0.7,
    )


# one persisted old-corpus state (assignment + band table) per
# (process, sf_dir): production reads these artifacts, it never re-runs
# components over the old corpus (VERDICT r12 #1)
_INC_GROUPS_STATE: dict[str, str] = {}


@_register(
    "incremental_dedup_groups",
    f"""
WITH RECURSIVE
pairs AS ({_minhash_lsh_oracle(8, 2, 0.7, 500)}),
nodes AS (SELECT doc_id AS id FROM documents WHERE doc_id < 500),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs),
reach(id, label) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id)
SELECT id, CAST(min(label) AS BIGINT) AS group_id FROM reach GROUP BY id
""",
)
def q_incremental_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Incremental pairs -> incremental GROUPS (VERDICT r11 #5): the
    # persisted old-corpus assignment is folded together with the
    # shard's incremental pairs by contracting each old cluster to its
    # min-id super-node — new docs join clusters and bridging new docs
    # MERGE old clusters, with the components run seeing only the
    # shard-proportional contracted graph. Per VERDICT r12 #1 the old
    # assignment and band table are PERSISTED artifacts read from
    # parquet (built once per process, the band_table_append_probe
    # precedent) — production never re-runs components over the old
    # corpus, and the measured work is exactly the per-batch update:
    # probe + fold. The oracle is the full-corpus transitive closure
    # over all 500 docs' pairs, so the invariant graded is incremental
    # == full recompute, row for row
    # (operators/dedup.py:incremental_dedup_groups).
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    old = docs.filter(F.col("doc_id") < 250)
    new = docs.filter(F.col("doc_id") >= 250)
    state = _INC_GROUPS_STATE.get(sf_dir)
    if state is None:
        import tempfile

        state = tempfile.mkdtemp(prefix="incgroups_state_")
        old_pairs = dd.minhash_lsh_pairs(
            old, "text", "doc_id",
            num_hashes=8, band_size=2, jaccard_threshold=0.7,
        )
        dd.connected_components(
            old.select(F.col("doc_id").alias("id")), old_pairs, id_col="id"
        ).write.parquet(state + "/groups")
        dd.minhash_band_table(
            old, "text", "doc_id", num_hashes=8, band_size=2
        ).write.parquet(state + "/bands")
        _INC_GROUPS_STATE[sf_dir] = state
    old_groups = spark.read.parquet(state + "/groups")
    inc = dd.minhash_lsh_pairs_incremental(
        old, new, "text", "doc_id",
        num_hashes=8, band_size=2, jaccard_threshold=0.7,
        old_band_table=dd.read_band_table(spark, state + "/bands"),
    )
    return dd.incremental_dedup_groups(
        old_groups, inc, new.select(F.col("doc_id").alias("id"))
    ).select(
        F.col("id").cast("long").alias("id"),
        F.col("group_id").cast("long").alias("group_id"),
    )


@_register(
    "streaming_incremental_dedup_groups",
    # same full-corpus transitive-closure oracle as
    # incremental_dedup_groups: the streaming fold must land on the
    # identical assignment no matter how the stream was sliced
    f"""
WITH RECURSIVE
pairs AS ({_minhash_lsh_oracle(8, 2, 0.7, 500)}),
nodes AS (SELECT doc_id AS id FROM documents WHERE doc_id < 500),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs),
reach(id, label) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id)
SELECT id, CAST(min(label) AS BIGINT) AS group_id FROM reach GROUP BY id
""",
)
def q_streaming_incremental_dedup_groups(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # The r12 capstone: the incremental pieces composed into the ONE
    # streaming job an ingest tier runs (streaming/corpus_dedup.py) —
    # per micro-batch of arriving documents: probe the persisted band
    # artifact, compute the assignment DELTA (r15: only new ids + old
    # rows whose root moves — the full-rewrite design paid O(store)
    # write amplification per batch), append bands/corpus/delta, and
    # compact deltas into an atomic groups_base_v{N} at threshold
    # cadence (gold-pattern replay skip; appends idempotent via
    # anti-join and min-fold, so every crash window replays clean).
    # The corpus is split into 3 ARBITRARY hash-partition batches —
    # the final assignment must equal the full-corpus closure
    # regardless of slicing, the strongest invariant in the family.
    import tempfile

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    src = tempfile.mkdtemp(prefix="cdedup_src_")
    docs.select("doc_id", "text").repartition(3).write.mode(
        "overwrite"
    ).parquet(src)
    from .streaming.corpus_dedup import run_streaming_corpus_dedup

    out = run_streaming_corpus_dedup(
        spark, src,
        tempfile.mkdtemp(prefix="cdedup_state_"),
        tempfile.mkdtemp(prefix="cdedup_ckpt_"),
        num_hashes=8, band_size=2, jaccard_threshold=0.7,
    )
    return out.select(
        F.col("id").cast("long").alias("id"),
        F.col("group_id").cast("long").alias("group_id"),
    )


# one persisted band-table snapshot per (process, sf_dir): wave-0 bands
# written once, wave-1 bands APPENDED once (the snapshot-update step);
# every later call re-probes the artifact (VERDICT r11 #6)
_BAND_TABLE_SNAPSHOT: dict[str, str] = {}


@_register(
    "band_table_append_probe",
    f"""
WITH full_pairs AS (
{_minhash_lsh_oracle(8, 2, 0.7, 500)}
)
SELECT id_a, id_b, jaccard FROM full_pairs
WHERE NOT (id_a < 334 AND id_b < 334)
""",
)
def q_band_table_append_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The band-table APPEND lifecycle (VERDICT r11 #6), mirroring the
    # ann_index append: wave-0 bands persisted to parquet, wave-1 bands
    # appended (mode('append') adds files — wave-0 rows are never read
    # or recomputed, pinned by the file-listing pytest), then wave-2
    # dedups against the APPENDED snapshot read from disk. Graded as
    # the full-corpus pairs minus the old(<334)x-old block — the same
    # invariant as incremental_lsh_dedup but with the old side served
    # entirely by the two-generation artifact.
    import tempfile

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    w0 = docs.filter(F.col("doc_id") < 167)
    w1 = docs.filter((F.col("doc_id") >= 167) & (F.col("doc_id") < 334))
    w2 = docs.filter(F.col("doc_id") >= 334)
    path = _BAND_TABLE_SNAPSHOT.get(sf_dir)
    if path is None:
        path = tempfile.mkdtemp(prefix="band_table_") + "/bands"
        dd.minhash_band_table(
            w0, "text", "doc_id", num_hashes=8, band_size=2
        ).write.parquet(path)
        dd.append_band_table(
            dd.minhash_band_table(
                w1, "text", "doc_id", num_hashes=8, band_size=2
            ),
            path,
        )
        _BAND_TABLE_SNAPSHOT[sf_dir] = path
    old_bands = dd.read_band_table(spark, path)
    return dd.minhash_lsh_pairs_incremental(
        docs.filter(F.col("doc_id") < 334), w2, "text", "doc_id",
        num_hashes=8, band_size=2, jaccard_threshold=0.7,
        old_band_table=old_bands,
    )


def _pagerank_near_dup_oracle(iters: int = 10, damping: float = 0.85,
                              max_id: int = 200,
                              weighted: bool = False) -> str:
    # The iterations are UNROLLED as chained CTEs (standard SQL forbids
    # aggregation in a recursive CTE member), so the oracle replays the
    # exact fixed-count synchronous power iteration. Every literal is
    # CAST to DOUBLE: a bare 0.85 is DECIMAL in DuckDB and would run
    # exact-decimal arithmetic that diverges from IEEE doubles.
    # weighted=True divides each edge's jaccard weight by the source's
    # weight sum instead of 1/outdeg (same formulas as the operator).
    d = f"CAST({damping} AS DOUBLE)"
    w_expr = "jaccard" if weighted else "CAST(1.0 AS DOUBLE)"
    steps = ",\n".join(
        f"""pr{i + 1} AS (
  SELECT e.dst AS node,
    (1 - {d}) / (SELECT n FROM nn)
      + {d} * sum(p.rank * e.w / dg.outdeg) AS rank
  FROM pr{i} p
  JOIN edges e ON p.node = e.src
  JOIN deg dg ON dg.src = p.node
  GROUP BY e.dst
)"""
        for i in range(iters)
    )
    return f"""
WITH pairs AS (
{_minhash_lsh_oracle(8, 2, 0.7, max_id)}
), edges AS (
  SELECT id_a AS src, id_b AS dst, {w_expr} AS w FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst, {w_expr} AS w FROM pairs
), deg AS (SELECT src, sum(w) AS outdeg FROM edges GROUP BY 1),
nodes AS (SELECT DISTINCT src AS node FROM edges),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
pr0 AS (
  SELECT node, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS rank FROM nodes
),
{steps}
SELECT node AS doc_id, CAST(round(rank, 6) AS DOUBLE) AS rank
FROM pr{iters}
"""


def _label_prop_cte(
    iters: int = 5, max_id: int = 200, weighted: bool = False
) -> str:
    # Shared unrolled fixed-count synchronous LPA CTE chain (see
    # _pagerank_near_dup_oracle for why unrolled): per round each node
    # takes the modal neighbor label, ties to the SMALLEST label.
    # Unweighted votes are all-integer (no float seam at all); weighted
    # votes sum edge jaccards ROUNDED TO 6dp before ranking on BOTH
    # engines, so summation-order near-ties cannot flip the argmax.
    vote = "round(sum(w), 6)" if weighted else "count(*)"
    w_expr = "jaccard AS w" if weighted else "CAST(1.0 AS DOUBLE) AS w"
    steps = ",\n".join(
        f"""lp{i + 1} AS (
  SELECT node, label FROM (
    SELECT e.dst AS node, p.label, {vote} AS c,
      row_number() OVER (
        PARTITION BY e.dst ORDER BY {vote} DESC, p.label ASC) AS rn
    FROM lp{i} p JOIN edges e ON p.node = e.src
    GROUP BY e.dst, p.label) t
  WHERE rn = 1
)"""
        for i in range(iters)
    )
    return f"""pairs AS (
{_minhash_lsh_oracle(8, 2, 0.7, max_id)}
), edges AS (
  SELECT id_a AS src, id_b AS dst, {w_expr} FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst, {w_expr} FROM pairs
),
lp0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
{steps}"""


def _label_prop_near_dup_oracle(
    iters: int = 5, max_id: int = 200, weighted: bool = False
) -> str:
    return f"""
WITH {_label_prop_cte(iters, max_id, weighted)}
SELECT CAST(node AS BIGINT) AS doc_id, CAST(label AS BIGINT) AS community
FROM lp{iters}
"""


def _modularity_near_dup_oracle(iters: int = 5, max_id: int = 200) -> str:
    # Newman modularity of the LPA communities over the SAME graph:
    # Q_c = e_in/m - (d_c/(2m))^2 per community, canonical edges counted
    # once, degrees from the symmetrized list. e_in/d_c/m are integers;
    # the one float division is rounded at 6dp.
    return f"""
WITH {_label_prop_cte(iters, max_id, weighted=False)},
ce AS (SELECT DISTINCT id_a AS a, id_b AS b FROM pairs),
m AS (SELECT CAST(count(*) AS DOUBLE) AS m FROM ce),
deg AS (SELECT src AS node, count(*) AS d FROM edges GROUP BY 1),
lab AS (SELECT node, label FROM lp{iters}),
intra AS (
  SELECT la.label, count(*) AS e_in
  FROM ce JOIN lab la ON la.node = ce.a
  JOIN lab lb ON lb.node = ce.b
  WHERE la.label = lb.label GROUP BY 1),
comm AS (
  SELECT la.label, count(*) AS n_nodes, sum(deg.d) AS deg_sum
  FROM lab la JOIN deg ON deg.node = la.node GROUP BY 1)
SELECT CAST(comm.label AS BIGINT) AS community,
  CAST(comm.n_nodes AS BIGINT) AS n_nodes,
  CAST(COALESCE(intra.e_in, 0) AS BIGINT) AS e_in,
  CAST(comm.deg_sum AS BIGINT) AS deg_sum,
  round(COALESCE(intra.e_in, 0) / (SELECT m FROM m)
    - (comm.deg_sum / (2 * (SELECT m FROM m)))
      * (comm.deg_sum / (2 * (SELECT m FROM m))), 6) + 0.0 AS q_part
FROM comm LEFT JOIN intra ON intra.label = comm.label
"""


@_register("label_prop_communities", _label_prop_near_dup_oracle(5, 200))
def q_label_prop_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Community detection over the near-dup graph: 5 rounds of
    # synchronous label propagation (modal neighbor label, smallest-
    # label ties) — the third leg of the graph family: components say
    # WHICH docs are transitively linked, PageRank ranks WITHIN a
    # cluster, LPA splits a weakly-bridged component into its dense
    # communities (what curation actually wants to budget over: a
    # boilerplate bridge should not merge two unrelated clusters).
    # All-integer state, so the unrolled oracle hash-matches exactly;
    # per round the only shuffles are the (node,label) count and the
    # counted-table argmax window — never the raw adjacency through a
    # window. operators/graph.py:label_propagation.
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    pairs = dd.minhash_lsh_pairs(
        docs, "text", "doc_id", num_hashes=8, band_size=2,
        jaccard_threshold=0.7,
    )
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    lp = gr.label_propagation(edges, iters=5, undirected=True)
    return lp.select(
        F.col("node").cast("long").alias("doc_id"),
        F.col("community").cast("long").alias("community"),
    )


@_register(
    "label_prop_weighted",
    _label_prop_near_dup_oracle(5, 200, weighted=True),
)
def q_label_prop_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Similarity-WEIGHTED label propagation (the weighted-pagerank
    # sibling): a 0.95-Jaccard neighbor out-votes two 0.45 ones, so
    # community boundaries follow similarity mass, not edge count —
    # what dedup curation wants when LSH emits borderline pairs. Vote
    # sums round to 6dp BEFORE ranking on both engines (summation-order
    # near-ties cannot flip the argmax); exact ties still break by
    # smallest label.
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    pairs = dd.minhash_lsh_pairs(
        docs, "text", "doc_id", num_hashes=8, band_size=2,
        jaccard_threshold=0.7,
    )
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst"), "jaccard"
    )
    lp = gr.label_propagation(
        edges, iters=5, undirected=True, weight_col="jaccard"
    )
    return lp.select(
        F.col("node").cast("long").alias("doc_id"),
        F.col("community").cast("long").alias("community"),
    )


@_register("community_modularity", _modularity_near_dup_oracle(5, 200))
def q_community_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Newman modularity per LPA community over the same near-dup graph:
    # the quality metric that tells curation whether the community
    # split beats random wiring with the same degrees (sum of q_part
    # ~0 = chance). Integer e_in/deg_sum/m, one rounded division; the
    # edge total rides the plan as a broadcast 1-row aggregate — the
    # whole score is one lazy plan, no driver action
    # (operators/graph.py:community_modularity).
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    pairs = dd.minhash_lsh_pairs(
        docs, "text", "doc_id", num_hashes=8, band_size=2,
        jaccard_threshold=0.7,
    )
    # checkpoint ONCE: label_propagation pins its own symmetrized copy,
    # but modularity's ce/deg/intra subplans would otherwise re-run the
    # whole LSH candidate join from raw lineage (2-4x the query's
    # dominant cost)
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).localCheckpoint(eager=True)
    lp = gr.label_propagation(edges, iters=5, undirected=True)
    return gr.community_modularity(edges, lp)


def _kcore_near_dup_oracle(k: int = 2, rounds: int = 6,
                           max_id: int = 200) -> str:
    # Peeling rounds unrolled (pagerank-oracle discipline); extra rounds
    # past the fixpoint are no-ops, so a fixed count safely over-covers.
    # MATERIALIZED: each e{r} is referenced by d{r+1} and e{r+1} — the
    # bpe-oracle exponential-inlining lesson.
    ctes = [f"""e0 AS MATERIALIZED (
  SELECT DISTINCT least(id_a, id_b) AS a, greatest(id_a, id_b) AS b
  FROM pairs WHERE id_a <> id_b)"""]
    for r in range(1, rounds + 1):
        ctes.append(f"""d{r} AS MATERIALIZED (
  SELECT node, count(*) AS deg FROM (
    SELECT a AS node FROM e{r - 1}
    UNION ALL SELECT b AS node FROM e{r - 1}) t
  GROUP BY node)""")
        ctes.append(f"""x{r} AS MATERIALIZED (
  SELECT node FROM d{r} WHERE deg < {k})""")
        ctes.append(f"""e{r} AS MATERIALIZED (
  SELECT a, b FROM e{r - 1}
  WHERE a NOT IN (SELECT node FROM x{r})
    AND b NOT IN (SELECT node FROM x{r}))""")
    chain = ",\n".join(ctes)
    return f"""
WITH pairs AS (
{_minhash_lsh_oracle(8, 2, 0.7, max_id)}
), {chain}
SELECT CAST(node AS BIGINT) AS doc_id, CAST(count(*) AS BIGINT) AS degree
FROM (SELECT a AS node FROM e{rounds}
      UNION ALL SELECT b AS node FROM e{rounds}) t
GROUP BY node
"""


@_register("kcore_near_dup", _kcore_near_dup_oracle(2, 6, 200))
def q_kcore_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 2-core of the near-dup graph by iterative peeling (6 fixed rounds,
    # over-covering the fixpoint — extra rounds are no-ops on both
    # engines): strips degree-1 chains of pairwise-coincidental overlap
    # INCLUDING cascades, leaving the clique-ish template families —
    # the global density signal triangle_stats can't give (a long chain
    # has zero clustering coefficient everywhere yet still rides along).
    # Per round: endpoint-union degree count (map-side partials) + two
    # anti-joins against the small REMOVED set (AQE broadcasts it);
    # oracle unrolls the same rounds (operators/graph.py:k_core).
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    pairs = dd.minhash_lsh_pairs(
        docs, "text", "doc_id", num_hashes=8, band_size=2,
        jaccard_threshold=0.7,
    )
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    core = gr.k_core(edges, 2, rounds=6)
    return core.select(F.col("node").alias("doc_id"), "degree")


def _transition_pagerank_oracle(iters: int = 8,
                                damping: float = 0.85) -> str:
    # Directed + dangling-redistribution power iteration, unrolled (the
    # pagerank-oracle discipline). All literals CAST to DOUBLE (DuckDB
    # decimal trap). The dangling total is a scalar subquery per round.
    d = f"CAST({damping} AS DOUBLE)"
    steps = []
    for i in range(iters):
        steps.append(f"""dg{i + 1} AS (
  SELECT COALESCE(sum(rank), CAST(0 AS DOUBLE)) AS dang
  FROM pr{i} WHERE node NOT IN (SELECT src FROM deg))""")
        steps.append(f"""pr{i + 1} AS MATERIALIZED (
  SELECT nd.node,
    (1 - {d}) / (SELECT n FROM nn)
      + {d} * (COALESCE(m.mass, CAST(0 AS DOUBLE))
               + (SELECT dang FROM dg{i + 1}) / (SELECT n FROM nn))
      AS rank
  FROM nodes nd
  LEFT JOIN (
    SELECT e.dst AS node, sum(p.rank * e.w / dgr.outdeg) AS mass
    FROM pr{i} p
    JOIN edges e ON p.node = e.src
    JOIN deg dgr ON dgr.src = p.node
    GROUP BY e.dst) m ON m.node = nd.node)""")
    chain = ",\n".join(steps)
    return f"""
WITH ev AS (
  SELECT user_id, event_type, event_id FROM events
  WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
nxt AS (
  SELECT event_type AS src,
    lead(event_type) OVER (PARTITION BY user_id ORDER BY event_id)
      AS dst
  FROM ev),
edges AS MATERIALIZED (
  SELECT src, dst, CAST(count(*) AS DOUBLE) AS w
  FROM nxt WHERE dst IS NOT NULL AND src <> 'purchase'
  GROUP BY 1, 2),
deg AS (SELECT src, sum(w) AS outdeg FROM edges GROUP BY 1),
nodes AS (
  SELECT DISTINCT src AS node FROM edges
  UNION SELECT DISTINCT dst AS node FROM edges),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
pr0 AS (
  SELECT node, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS rank
  FROM nodes),
{chain}
SELECT node AS event_type, CAST(round(rank, 6) AS DOUBLE) AS rank
FROM pr{iters}
"""


@_register("event_transition_pagerank", _transition_pagerank_oracle(8, 0.85))
def q_event_transition_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DIRECTED PageRank with dangling-mass redistribution over the
    # per-user event-type transition graph, 'purchase' treated as an
    # ABSORBING state (its outgoing transitions removed) — the
    # Markov-chain stationary-weight analysis of a funnel, and the
    # graded pin for the r10-ADVICE directed path: purchase is a real
    # sink, so the dangling branch is EXERCISED (Σrank = 1 only because
    # its mass is redistributed each round; without the fix the sink
    # would be dropped from N and sources would lose their base). The
    # dangling total rides the plan as a broadcast 1-row aggregate —
    # no driver action; transitions order by event_id (unique), never
    # raw ns timestamps (the µs-truncation tie seam).
    e = _t(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    )
    from pyspark.sql import Window

    nxt = e.select(
        F.col("event_type").alias("src"),
        F.lead("event_type")
        .over(Window.partitionBy("user_id").orderBy("event_id"))
        .alias("dst"),
    )
    edges = (
        nxt.filter(F.col("dst").isNotNull() & (F.col("src") != "purchase"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
    )
    pr = gr.pagerank(
        edges, iters=8, damping=0.85, undirected=False,
        weight_col="w", redistribute_dangling=True,
    )
    return pr.select(F.col("node").alias("event_type"), "rank")


@_register("pagerank_near_dup", _pagerank_near_dup_oracle(10, 0.85, 200))
def q_pagerank_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Numeric-iterative graph analytics with a FULL oracle: PageRank
    # (10 synchronous power iterations, d=0.85) over the symmetrized
    # minhash-LSH near-dup graph — centrality picks the natural cluster
    # representative to keep in curation, the numeric sibling of the
    # connected-components dedup_groups queries. The oracle unrolls the
    # same 10 iterations in SQL over the same pairs CTE, so every rank
    # value is hash-compared. Iterative-Spark discipline (pinned
    # contribution table, lineage truncation every 3 iterations) is in
    # operators/graph.py.
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    pairs = dd.minhash_lsh_pairs(
        docs, "text", "doc_id", num_hashes=8, band_size=2,
        jaccard_threshold=0.7,
    )
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    pr = gr.pagerank(edges, iters=10, damping=0.85, undirected=True)
    return pr.select(F.col("node").alias("doc_id"), "rank")


@_register(
    "pagerank_weighted_near_dup",
    _pagerank_near_dup_oracle(10, 0.85, 200, weighted=True),
)
def q_pagerank_weighted_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Similarity-WEIGHTED PageRank over the same near-dup graph: each
    # neighbor's vote is proportional to the pair's exact Jaccard
    # (normalized by the voter's weight sum), so a 0.95-similarity
    # neighbor pulls the cluster representative harder than a 0.71 one
    # — the form curation keep-decisions actually want. Same unrolled
    # fixed-count oracle with w = jaccard; rank mass still conserved
    # (per-source normalization).
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    pairs = dd.minhash_lsh_pairs(
        docs, "text", "doc_id", num_hashes=8, band_size=2,
        jaccard_threshold=0.7,
    )
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst"), "jaccard"
    )
    pr = gr.pagerank(
        edges, iters=10, damping=0.85, undirected=True, weight_col="jaccard"
    )
    return pr.select(F.col("node").alias("doc_id"), "rank")


@_register(
    "triangle_count_near_dup",
    f"""
WITH pairs AS (
{_minhash_lsh_oracle(8, 2, 0.7, 200)}
), e AS (SELECT DISTINCT id_a AS a, id_b AS b FROM pairs),
allv AS (SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e),
deg AS (SELECT v, count(*) AS d FROM allv GROUP BY 1),
o AS (
  SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b)
           THEN e.a ELSE e.b END AS s,
         CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b)
           THEN e.b ELSE e.a END AS t,
         CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b)
           THEN db.d ELSE da.d END AS dt
  FROM e JOIN deg da ON da.v = e.a JOIN deg db ON db.v = e.b),
tri AS (
  SELECT w1.s AS u, w1.t AS v1, w2.t AS v2
  FROM o w1
  JOIN o w2 ON w1.s = w2.s
    AND (w1.dt < w2.dt OR (w1.dt = w2.dt AND w1.t < w2.t))
  JOIN o c ON c.s = w1.t AND c.t = w2.t),
tn AS (SELECT u AS v FROM tri UNION ALL SELECT v1 FROM tri
       UNION ALL SELECT v2 FROM tri),
tc AS (SELECT v, count(*) AS t FROM tn GROUP BY 1)
SELECT d.v AS doc_id, CAST(d.d AS BIGINT) AS degree,
  CAST(coalesce(tc.t, 0) AS BIGINT) AS n_triangles,
  CAST(round(CASE WHEN d.d >= 2
      THEN CAST(2 AS DOUBLE) * coalesce(tc.t, 0) / (d.d * (d.d - 1))
      ELSE CAST(0 AS DOUBLE) END, 6) AS DOUBLE) AS clustering_coeff
FROM deg d LEFT JOIN tc ON tc.v = d.v
""",
)
def q_triangle_count_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Exact per-node triangle counts + local clustering coefficient over
    # the symmetrized minhash-LSH near-dup graph — the density signal
    # that separates clique-like template families from chains of
    # pairwise-coincidental overlap (PageRank ranks, this certifies
    # cohesion). Degree-ordered orientation bounds the wedge join's
    # per-key fanout at O(sqrt(m)) — see operators/graph.py:
    # triangle_stats. The oracle replays the identical orientation and
    # wedge closure, so every count and coefficient is hash-compared.
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    pairs = dd.minhash_lsh_pairs(
        docs, "text", "doc_id", num_hashes=8, band_size=2,
        jaccard_threshold=0.7,
    )
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    return gr.triangle_stats(edges).select(
        F.col("node").alias("doc_id"),
        "degree",
        "n_triangles",
        "clustering_coeff",
    )


def _dedup_representatives_oracle(iters: int = 10, max_id: int = 200) -> str:
    # Composition oracle: the SAME pairs CTE feeds both the transitive
    # closure (components) and the unrolled PageRank; the
    # representative is chosen on the ROUNDED rank (round 6) before the
    # id tie-break — mathematically-equal ranks can differ by an ulp
    # across engines depending on summation order, so ordering raw
    # doubles would make the winner engine-dependent.
    d = "CAST(0.85 AS DOUBLE)"
    steps = ",\n".join(
        f"""pr{i + 1} AS (
  SELECT e.dst AS node,
    (1 - {d}) / (SELECT n FROM nn)
      + {d} * sum(p.rank / dg.outdeg) AS rank
  FROM pr{i} p
  JOIN edges e ON p.node = e.src
  JOIN deg dg ON dg.src = p.node
  GROUP BY e.dst
)"""
        for i in range(iters)
    )
    return f"""
WITH RECURSIVE
nodes_all AS (SELECT doc_id AS id FROM documents WHERE doc_id < {max_id}),
pairs AS (
{_minhash_lsh_oracle(8, 2, 0.7, max_id)}
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(id, label) AS (
  SELECT id, id FROM nodes_all
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id
),
groups AS (SELECT id, min(label) AS group_id FROM reach GROUP BY id),
deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY 1),
nodes AS (SELECT DISTINCT src AS node FROM edges),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
pr0 AS (
  SELECT node, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS rank FROM nodes
),
{steps},
ranked AS (
  SELECT g.group_id, g.id,
    round(coalesce(p.rank, 0), 6) AS r6,
    row_number() OVER (
      PARTITION BY g.group_id
      ORDER BY round(coalesce(p.rank, 0), 6) DESC, g.id ASC
    ) AS rn,
    count(*) OVER (PARTITION BY g.group_id) AS n_members
  FROM groups g LEFT JOIN pr{iters} p ON p.node = g.id
)
SELECT CAST(group_id AS BIGINT) AS group_id, CAST(id AS BIGINT) AS rep_id,
  CAST(n_members AS BIGINT) AS n_members, CAST(r6 AS DOUBLE) AS rep_rank
FROM ranked WHERE rn = 1
"""


@_register("dedup_representatives", _dedup_representatives_oracle(10, 200))
def q_dedup_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The full curation-resolution chain COMPOSED from graded operators:
    # LSH near-dup pairs → connected components (which docs are the same
    # cluster) → PageRank centrality (which member REPRESENTS the
    # cluster — the keep decision) → arg-max per component. Singletons
    # represent themselves with rank 0. The representative is chosen on
    # the ROUNDED rank before the id tie-break (raw-double ordering
    # would be engine-dependent for mathematically-equal ranks).
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    pairs = dd.minhash_lsh_pairs(
        docs, "text", "doc_id", num_hashes=8, band_size=2,
        jaccard_threshold=0.7,
    )
    comps = dd.connected_components(
        docs.select("doc_id"), pairs, id_col="doc_id"
    )
    pr = gr.pagerank(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
        iters=10, damping=0.85, undirected=True,
    )
    ranked = comps.join(pr, comps.id == pr.node, "left").select(
        F.col("id"),
        F.col("group_id"),
        F.coalesce(F.col("rank"), F.lit(0.0)).alias("r6"),
    )
    wg = Window.partitionBy("group_id")
    w = wg.orderBy(F.col("r6").desc(), F.col("id").asc())
    return (
        ranked.withColumn("rn", F.row_number().over(w))
        .withColumn("n_members", F.count(F.lit(1)).over(wg))
        .filter(F.col("rn") == 1)
        .select(
            F.col("group_id").cast("long").alias("group_id"),
            F.col("id").cast("long").alias("rep_id"),
            F.col("n_members").cast("long").alias("n_members"),
            F.col("r6").alias("rep_rank"),
        )
    )


def _simhash_pairs_oracle(bits: int = 16, radius: int = 3,
                          max_id: int = 300) -> str:
    # The oracle is the brute-force definition: all pairs with
    # bit_count(xor) <= radius over the same signatures. The Spark side
    # generates candidates via Manku block partitioning, which pigeonhole
    # guarantees is complete within the radius — so the two must match
    # EXACTLY, proving the blocking loses nothing.
    sig_query = _simhash_oracle(bits).replace(
        "FROM documents", f"FROM documents WHERE doc_id < {max_id}", 1
    )
    return f"""
WITH s AS (
{sig_query}
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM s a JOIN s b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {radius}
"""


@_register("simhash_near_dup_pairs", _simhash_pairs_oracle(16, 3, 300))
def q_simhash_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Hamming-radius near-dup retrieval (Manku WWW'07 block permutation):
    # equi-join per signature block, exact bit_count verify.
    return dd.simhash_near_dup_pairs(
        _t(spark, sf_dir, "documents"), "text", "doc_id",
        bits=16, radius=3, max_id=300,
    )


def _dedup_groups_oracle(bits: int = 16, radius: int = 3,
                         max_id: int = 300) -> str:
    # Min-reachable-label components, computed by brute-force transitive
    # closure (recursive CTE, UNION-distinct guarantees termination) over
    # the same simhash pair set. The Spark side's resolver (driver
    # union-find, or min-label then star) must land on identical group
    # ids.
    return f"""
WITH RECURSIVE
nodes AS (SELECT doc_id AS id FROM documents WHERE doc_id < {max_id}),
pairs AS ({_simhash_pairs_oracle(bits, radius, max_id)}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(id, label) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id
)
SELECT id, CAST(min(label) AS BIGINT) AS group_id FROM reach GROUP BY id
"""


@_register("dedup_groups_star", _dedup_groups_oracle(16, 3, 300))
def q_dedup_groups_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Same contract as dedup_groups, resolved by the alternating
    # large-star/small-star algorithm (Kiveris et al., SoCC 2014) — the
    # O(log^2 n)-round variant that survives chain-shaped components
    # where min-label needs ~diameter rounds. Identical group ids, so it
    # shares the transitive-closure oracle.
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    pairs = dd.simhash_near_dup_pairs(
        _t(spark, sf_dir, "documents"), "text", "doc_id",
        bits=16, radius=3, max_id=300,
    )
    return dd.connected_components_two_phase(
        docs.select("doc_id"), pairs, id_col="doc_id"
    ).select(F.col("id").cast("long").alias("id"),
             F.col("group_id").cast("long").alias("group_id"))


@_register("dedup_groups", _dedup_groups_oracle(16, 3, 300))
def q_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Pairs -> groups: the dedup-resolution step between LSH candidate
    # generation and canonical-doc retention. dd.connected_components
    # resolves a graph under its edge gate by driver union-find; above
    # it, min-label rounds (one equi-join + one min agg each) resolve
    # threshold near-dup graphs outright — their clusters have diameter
    # ~1-3 — and a long-diameter graph switches to label-contracted
    # large-star/small-star instead of iterating to the diameter.
    # Singleton docs keep their own id as group_id.
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    pairs = dd.simhash_near_dup_pairs(
        _t(spark, sf_dir, "documents"), "text", "doc_id",
        bits=16, radius=3, max_id=300,
    )
    return dd.connected_components(
        docs.select("doc_id"), pairs, id_col="doc_id"
    ).select(F.col("id").cast("long").alias("id"),
             F.col("group_id").cast("long").alias("group_id"))


# ---------------------------------------------------------------------------
# Union-by-name (U1/J9) — diagonal-concat semantics
# ---------------------------------------------------------------------------
@_register(
    "union_by_name_counts",
    """
WITH unioned AS (
  SELECT event_id, user_id, value, NULL::VARCHAR AS event_date FROM events
  WHERE event_type = 'click'
  UNION ALL BY NAME
  SELECT event_id, user_id, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS event_date
  FROM events WHERE event_type = 'purchase'
)
SELECT CAST(count(*) AS BIGINT) AS total_rows,
  CAST(count(value) AS BIGINT) AS rows_with_value,
  CAST(count(event_date) AS BIGINT) AS rows_with_date,
  round(sum(value), 6) AS value_total
FROM unioned
""",
)
def q_union_by_name_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # U1: pl.concat(how='diagonal') ≡ unionByName(allowMissingColumns=True)
    # (io_utils.py:66) — missing columns become typed nulls.
    events = _t(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "value"
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id",
        F.date_format("ts", "yyyy-MM-dd").alias("event_date"),
    )
    unioned = clicks.unionByName(purchases, allowMissingColumns=True)
    return unioned.agg(
        F.count(F.lit(1)).alias("total_rows"),
        F.count("value").alias("rows_with_value"),
        F.count("event_date").alias("rows_with_date"),
        F.round(F.sum("value"), 6).alias("value_total"),
    )


# ---------------------------------------------------------------------------
# Multimodal binary columns
# ---------------------------------------------------------------------------
@_register(
    "multimodal_metadata",
    """
SELECT doc_id,
  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
  md5(text) AS content_md5,
  lower(substring(hex(encode(text)), 1, 8)) AS magic_hex,
  'text/plain' AS media_type
FROM documents
""",
)
def q_multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Binary-payload metadata extraction: the documents text column stands
    # in for raw media bytes; the plumbing (binary column + typed metadata)
    # is the production shape.
    d = mm.attach_binary_payload(_t(spark, sf_dir, "documents"), "text")
    return mm.binary_metadata(d, "media", "doc_id")


@_register(
    "binary_frame_sample",
    """
WITH h AS (
  SELECT doc_id, lower(hex(encode(text))) AS hx,
         octet_length(encode(text)) AS n
  FROM documents
), f AS (
  SELECT doc_id, hx, n,
         unnest(range(0, CAST(ceil(n / 64.0) AS BIGINT))) AS i
  FROM h
)
SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
  CAST(least(64, n - i * 64) AS BIGINT) AS frame_len,
  substring(hx, CAST(i * 128 + 1 AS BIGINT), 16) AS frame_prefix_hex
FROM f WHERE i % 2 = 0
""",
)
def q_binary_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Frame/chunk sampling over an opaque byte stream (video/audio shape):
    # executor-side fan-out via sequence+posexplode, no driver loop.
    d = mm.attach_binary_payload(_t(spark, sf_dir, "documents"), "text")
    return mm.frame_sample(d, "media", "doc_id", frame_bytes=64, stride=2)


@_register(
    "byte_histogram_features",
    """
WITH h AS (
  SELECT doc_id, upper(hex(encode(text))) AS hx,
         octet_length(encode(text)) AS n
  FROM documents
), e AS (
  SELECT doc_id, n, hx, unnest(range(0, n)) AS i FROM h
), cnt AS (
  SELECT doc_id,
    (strpos('0123456789ABCDEF',
            substr(hx, CAST(i * 2 + 1 AS BIGINT), 1)) - 1) // 2 AS bucket,
    count(*) AS c
  FROM e GROUP BY 1, 2
), grid AS (
  SELECT doc_id, n, unnest(range(0, 8)) AS bucket FROM h
)
SELECT grid.doc_id, CAST(grid.bucket AS BIGINT) AS bucket,
  CASE WHEN grid.n = 0 THEN 0.0
       ELSE COALESCE(cnt.c, 0) / CAST(grid.n AS DOUBLE) END AS weight
FROM grid
LEFT JOIN cnt ON grid.doc_id = cnt.doc_id AND grid.bucket = cnt.bucket
""",
)
def q_byte_histogram_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    # mapInPandas featurizer seam, graded in LONG form: the wide
    # array<double> output crashes the driver's canonicalizer (pandas
    # sort_values over list cells), and the long (doc, bucket, weight)
    # shape is what unlocks a full SQL oracle — 8 buckets of byte // 32,
    # weight = count/total as raw float64 so the division is bit-identical
    # to the oracle's. The dense-vector form stays available via the
    # operator itself (media_knn_pipeline consumes it).
    d = mm.attach_binary_payload(_t(spark, sf_dir, "documents"), "text")
    feats = mm.byte_histogram_features(d, "media", "doc_id")
    return feats.select(
        "doc_id", F.posexplode("feature").alias("bucket", "weight")
    ).select(
        "doc_id", F.col("bucket").cast("long").alias("bucket"), "weight"
    )


@_register(
    "media_dimensions",
    """
SELECT doc_id AS asset_id,
  CAST((doc_id % 640) + 16 AS BIGINT) AS width,
  CAST((doc_id % 480) + 16 AS BIGINT) AS height,
  CASE doc_id % 5 WHEN 1 THEN 'P' ELSE 'RGB' END AS mode
FROM documents
""",
)
def q_media_dimensions(spark: SparkSession, sf_dir: str) -> DataFrame:
    # F9 media decode, end-to-end: build structurally valid PNG/GIF/BMP/
    # JPEG/WebP headers JVM-side, parse them back with the pure-Python
    # header decoder (mapInPandas; no PIL in this env, so the fallback IS
    # the graded path). The oracle recomputes dims from the generating
    # formula, so any byte-layout or parser error breaks the hash match.
    payloads = mm.synthesize_image_payloads(
        _t(spark, sf_dir, "documents"), "doc_id"
    )
    return mm.decode_media(payloads, "media", "asset_id")


@_register(
    "audio_metadata",
    """
SELECT doc_id AS asset_id,
  CAST(doc_id % 2 + 1 AS BIGINT) AS channels,
  CAST(CASE doc_id % 5 WHEN 0 THEN 8000 WHEN 1 THEN 16000
       WHEN 2 THEN 22050 WHEN 3 THEN 44100 ELSE 48000 END AS BIGINT)
    AS sample_rate,
  CAST(CASE doc_id % 3 WHEN 0 THEN 8 ELSE 16 END AS BIGINT)
    AS bits_per_sample,
  CAST(doc_id % 1000 + 100 AS BIGINT) AS n_samples,
  CAST(floor((doc_id % 1000 + 100) * 1000000
             / CASE doc_id % 5 WHEN 0 THEN 8000 WHEN 1 THEN 16000
               WHEN 2 THEN 22050 WHEN 3 THEN 44100 ELSE 48000 END)
       AS BIGINT) AS duration_us
FROM documents
""",
)
def q_audio_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    # F9 audio seam, end-to-end: build structurally valid PCM WAV
    # headers JVM-side (every 7th with a LIST/INFO chunk between fmt and
    # data, forcing a real RIFF chunk walk), parse them back with the
    # pure-Python parser (mapInPandas — no audio lib in this env, so the
    # header path IS the graded path, same stance as media_dimensions).
    # The oracle recomputes channels/rate/bits/samples/duration from the
    # generating formulas, so any byte-layout or parser error breaks the
    # hash. Duration is integer µs (floor of an exact double) — a
    # round-6 float here would be a STRUCTURAL banker-vs-half-up
    # divergence for odd sample counts at 16 kHz.
    payloads = mm.synthesize_audio_payloads(
        _t(spark, sf_dir, "documents"), "doc_id"
    )
    return mm.decode_audio(payloads, "media", "asset_id")


@_register(
    "video_metadata",
    """
SELECT doc_id AS asset_id,
  CAST(CASE doc_id % 5 WHEN 0 THEN 600 WHEN 1 THEN 1000
       WHEN 2 THEN 90000 WHEN 3 THEN 24000 ELSE 30000 END AS BIGINT)
    AS timescale,
  CAST(doc_id % 9000 + 600 AS BIGINT) AS duration_ticks,
  CAST((doc_id % 640) + 16 AS BIGINT) AS width,
  CAST((doc_id % 480) + 16 AS BIGINT) AS height,
  CAST(floor((doc_id % 9000 + 600) * 1000000
             / CASE doc_id % 5 WHEN 0 THEN 600 WHEN 1 THEN 1000
               WHEN 2 THEN 90000 WHEN 3 THEN 24000 ELSE 30000 END)
       AS BIGINT) AS duration_us
FROM documents
""",
)
def q_video_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    # F9 video seam, completing the image/audio/video triple: build
    # structurally valid MP4 headers JVM-side (ftyp + moov{mvhd, trak/
    # tkhd}; every 7th with free and udta boxes forcing a real nested
    # box walk), parse back with the pure-Python MP4 walker
    # (mapInPandas). The oracle recomputes timescale/duration/dims from
    # the generating formulas; duration_us is an exact integer floor
    # (same cross-engine rationale as audio_metadata).
    payloads = mm.synthesize_video_payloads(
        _t(spark, sf_dir, "documents"), "doc_id"
    )
    return mm.decode_video(payloads, "media", "asset_id")


# ---------------------------------------------------------------------------
# Approximate similarity + clustering. RNG/ML outputs are engine-specific
# (SURVEY.md §7.3 trap 7), so the registered queries grade STRUCTURAL
# invariants computed in-plan — coverage counts the oracle recomputes
# exactly, plus quality checks (recall vs the exact path, inertia vs the
# global centroid) asserted as booleans the oracle pins to TRUE. A quality
# collapse or coverage hole breaks the hash match; the raw assignments
# remain available from the operators themselves.
# ---------------------------------------------------------------------------
@_register(
    "kmeans_clusters",
    """
SELECT CAST(count(*) AS BIGINT) AS n_vectors,
  TRUE AS k_within_bound, TRUE AS inertia_improves
FROM embeddings
""",
)
def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # F6: KMeans k=20 seed=42 (prepare_visual_market_data.py:297-304).
    # Structural gate: every vector assigned once (n_vectors), 1..20
    # clusters used, and within-cluster inertia beats the single-centroid
    # baseline by >5% (measured ~0.87-0.91 across SFs) — a degenerate or
    # non-clustering run fails the boolean.
    emb = _t(spark, sf_dir, "embeddings")
    assigned = sim.kmeans_clusters(emb, "vec_id", "embedding", k=20, seed=42)
    ex = emb.join(assigned, "vec_id").select(
        "vec_id", "cluster_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "v"),
    )
    cent = ex.groupBy("cluster_id", "dim").agg(F.avg("v").alias("c"))
    ik = ex.join(cent, ["cluster_id", "dim"]).agg(
        F.sum((F.col("v") - F.col("c")) ** 2).alias("ik")
    )
    gmean = ex.groupBy("dim").agg(F.avg("v").alias("g"))
    ig = ex.join(gmean, "dim").agg(
        F.sum((F.col("v") - F.col("g")) ** 2).alias("ig")
    )
    stats = assigned.agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.countDistinct("cluster_id").alias("n_clusters"),
    )
    return (
        stats.crossJoin(ik).crossJoin(ig).select(
            "n_vectors",
            F.col("n_clusters").between(1, 20).alias("k_within_bound"),
            (F.col("ik") < 0.95 * F.col("ig")).alias("inertia_improves"),
        )
    )


def _ann_recall_query(
    approx: DataFrame,
    exact: DataFrame,
    floor: float,
    queries: DataFrame | None = None,
) -> DataFrame:
    """(n_queries, recall_ok) for an ANN result vs the exact top-k — the
    hash-comparable form of a recall floor. ``queries`` (the vector
    population, id col ``vec_id``) pins n_queries to the INPUT count so
    it matches the oracle's count(*) by construction — deriving it from
    the exact output would drift if a degenerate (zero-norm) vector is
    ever dropped from top-k (r14 knn guard); None keeps the legacy
    exact-output derivation."""
    ex = exact.select("query_id", "neighbor_id")
    hits = ex.join(
        approx.select("query_id", "neighbor_id"),
        ["query_id", "neighbor_id"],
        "left_semi",
    )
    base = (
        ex.agg(
            F.countDistinct("query_id").cast("long").alias("n_queries"),
            F.count(F.lit(1)).alias("_n_exact"),
        )
        if queries is None
        else ex.agg(F.count(F.lit(1)).alias("_n_exact")).crossJoin(
            queries.agg(
                F.count(F.lit(1)).cast("long").alias("n_queries")
            )
        )
    )
    return (
        base
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("_n_hit")))
        .select(
            "n_queries",
            (F.col("_n_hit") >= floor * F.col("_n_exact")).alias("recall_ok"),
        )
    )


@_register(
    "knn_topk_lsh",
    """
SELECT CAST(count(*) AS BIGINT) AS n_queries, TRUE AS recall_ok
FROM embeddings WHERE vec_id < 300
""",
)
def q_knn_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Hyperplane-LSH graded against the exact path IN-QUERY: recall vs
    # exact top-10 must hold a 0.45 floor (measured ~0.63-0.64 across SFs
    # at 4 planes x 8 tables; hyperplanes are seed-deterministic, so the
    # boolean is stable, not flaky).
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    dim = len(emb.select("embedding").first()[0])
    approx = sim.knn_topk_lsh(emb, "vec_id", "embedding", k=10, dim=dim)
    exact = sim.knn_topk_exact(emb, "vec_id", "embedding", k=10)
    return _ann_recall_query(approx, exact, floor=0.45, queries=emb)


@_register(
    "ann_ivf_topk",
    """
SELECT CAST(count(*) AS BIGINT) AS n_queries, TRUE AS recall_ok
FROM embeddings WHERE vec_id < 300
""",
)
def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # IVF probe path graded the same way (measured recall ~0.49-0.51 at
    # n_lists=8 n_probe=2; KMeans coarse quantizer is seed-deterministic).
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    approx = sim.ann_ivf(
        emb, "vec_id", "embedding", k=10, n_lists=8, n_probe=2
    )
    exact = sim.knn_topk_exact(emb, "vec_id", "embedding", k=10)
    return _ann_recall_query(approx, exact, floor=0.35, queries=emb)


@_register(
    "pq_topk",
    """
SELECT CAST(count(*) AS BIGINT) AS n_queries, TRUE AS twin_recall_ok
FROM embeddings WHERE vec_id < 50
""",
)
def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Product quantization graded by its falsifiable property: a planted
    # cos≈0.95 twin (deterministic in-plan perturbation, id+10000) must
    # survive ADC distortion (m=8, k=16 → 64-dim float32 256B → 8B codes)
    # and land in its query's top-10 for ≥90% of queries. Codebooks are
    # seeded-Lloyd deterministic, so the boolean is stable, not flaky.
    from .operators import ann_index as ai

    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    twins = emb.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 10_000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x * (1.0 + 0.3 * F.sin(i.cast("double") + 1.0)),
        ).cast("array<float>").alias("embedding"),
    )
    corpus = emb.select("vec_id", "embedding").unionByName(twins)
    idx = ai.build_pq_index(corpus, "vec_id", "embedding", m=8, k=16)
    res = ai.pq_probe(idx, corpus.filter(F.col("vec_id") < 50), k=10)
    return (
        res.agg(
            F.countDistinct("query_id").cast("long").alias("n_queries"),
            F.sum(
                (F.col("neighbor_id") == F.col("query_id") + 10_000).cast("int")
            ).alias("_twin_hits"),
        )
        .select(
            "n_queries",
            (F.col("_twin_hits") >= F.round(F.col("n_queries") * 0.9)).alias(
                "twin_recall_ok"
            ),
        )
    )


@_register(
    "ivfpq_topk",
    """
SELECT CAST(count(*) AS BIGINT) AS n_queries, TRUE AS twin_recall_ok
FROM embeddings WHERE vec_id < 50
""",
)
def q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The composed serving shape (IVF restricts WHICH codes are scanned,
    # PQ compresses WHAT is scanned) graded by the same falsifiable twin
    # gate as pq_topk, with only half the lists probed: the cos≈0.95
    # twin sits in (or next to) its query's own list, so n_probe=4 of 8
    # must still surface it for ≥90% of queries.
    from .operators import ann_index as ai

    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    twins = emb.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 10_000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x * (1.0 + 0.3 * F.sin(i.cast("double") + 1.0)),
        ).cast("array<float>").alias("embedding"),
    )
    corpus = emb.select("vec_id", "embedding").unionByName(twins)
    idx = ai.build_ivfpq_index(
        corpus, "vec_id", "embedding", n_lists=8, m=8, k=16
    )
    res = ai.ivfpq_probe(
        idx, corpus.filter(F.col("vec_id") < 50), k=10, n_probe=4
    )
    return (
        res.agg(
            F.countDistinct("query_id").cast("long").alias("n_queries"),
            F.sum(
                (F.col("neighbor_id") == F.col("query_id") + 10_000).cast("int")
            ).alias("_twin_hits"),
        )
        .select(
            "n_queries",
            (F.col("_twin_hits") >= F.round(F.col("n_queries") * 0.9)).alias(
                "twin_recall_ok"
            ),
        )
    )


@_register(
    "ann_index_lifecycle",
    """
SELECT CAST(count(*) AS BIGINT) AS n_vectors,
  TRUE AS lsh_roundtrip_ok, TRUE AS ivf_roundtrip_ok,
  TRUE AS pq_roundtrip_ok
FROM embeddings WHERE vec_id < 300
""",
)
def q_ann_index_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The r6 build/probe split graded end-to-end: build both ANN indexes,
    # persist to parquet, read back, probe — the persisted probe must
    # return EXACTLY the in-memory probe's (query, neighbor, rank) set
    # (symmetric difference via two left_anti counts), hash-comparable.
    import tempfile

    from .operators import ann_index as ai

    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)

    def roundtrip_ok(in_mem: DataFrame, persisted: DataFrame) -> F.Column:
        cols = ["query_id", "neighbor_id", "rank"]
        a, b = in_mem.select(*cols), persisted.select(*cols)
        diff = a.join(b, cols, "left_anti").count() + b.join(
            a, cols, "left_anti"
        ).count()
        return F.lit(diff == 0)

    lsh = ai.build_lsh_index(emb, "vec_id", "embedding")
    lsh_path = tempfile.mkdtemp(prefix="ann_lsh_idx_")
    ai.write_index(lsh, lsh_path)
    lsh_ok = roundtrip_ok(
        ai.lsh_probe(lsh, k=5), ai.lsh_probe(ai.read_index(spark, lsh_path), k=5)
    )

    ivf = ai.build_ivf_index(emb, "vec_id", "embedding", n_lists=8)
    ivf_path = tempfile.mkdtemp(prefix="ann_ivf_idx_")
    ai.write_index(ivf, ivf_path)
    ivf_ok = roundtrip_ok(
        ai.ivf_probe(ivf, k=5, n_probe=2),
        ai.ivf_probe(ai.read_index(spark, ivf_path), k=5, n_probe=2),
    )

    pq = ai.build_pq_index(emb, "vec_id", "embedding", m=8, k=16)
    pq_path = tempfile.mkdtemp(prefix="ann_pq_idx_")
    ai.write_index(pq, pq_path)
    pq_queries = emb.filter(F.col("vec_id") < 50)
    pq_ok = roundtrip_ok(
        ai.pq_probe(pq, pq_queries, k=5),
        ai.pq_probe(ai.read_index(spark, pq_path), pq_queries, k=5),
    )

    return emb.agg(F.count(F.lit(1)).alias("n_vectors")).select(
        "n_vectors",
        lsh_ok.alias("lsh_roundtrip_ok"),
        ivf_ok.alias("ivf_roundtrip_ok"),
        pq_ok.alias("pq_roundtrip_ok"),
    )


# one persisted serving index per (process, sf_dir): the bench and the
# grading driver pay the build+write once, every later call is probe-only
_ANN_SERVING_IDX: dict[str, str] = {}


@_register(
    "ann_persisted_probe",
    """
SELECT CAST(count(*) AS BIGINT) AS n_queries, TRUE AS twin_recall_ok
FROM embeddings WHERE vec_id < 50
""",
)
def q_ann_persisted_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The serving path in the bench HEADLINE (VERDICT r6 #7): a residual
    # IVF-PQ index over the full embeddings table (+planted cos~0.95
    # twins) is built and persisted ONCE per process; every call reads
    # the parquet artifact and probes — list_id partition pruning + ADC
    # + twin-recall gate, the regression surface a 100 TB serving tier
    # cares about. min-of-N bench passes therefore time the PROBE, with
    # the one-off build amortized out exactly as in production.
    import tempfile

    from .operators import ann_index as ai

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    twins = emb.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 10_000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x * (1.0 + 0.3 * F.sin(i.cast("double") + 1.0)),
        ).cast("array<float>").alias("embedding"),
    )
    corpus = emb.unionByName(twins)
    path = _ANN_SERVING_IDX.get(sf_dir)
    if path is None:
        idx = ai.build_ivfpq_index(
            corpus, "vec_id", "embedding", n_lists=16, m=8, k=16,
            residual=True,
        )
        path = tempfile.mkdtemp(prefix="ann_serving_idx_")
        ai.write_index(idx, path)
        _ANN_SERVING_IDX[sf_dir] = path
    loaded = ai.read_index(spark, path)
    res = ai.ivfpq_probe(
        loaded, corpus.filter(F.col("vec_id") < 50), k=10, n_probe=8
    )
    return (
        res.agg(
            F.countDistinct("query_id").cast("long").alias("n_queries"),
            F.sum(
                (F.col("neighbor_id") == F.col("query_id") + 10_000).cast("int")
            ).alias("_twin_hits"),
        )
        .select(
            "n_queries",
            (F.col("_twin_hits") >= F.round(F.col("n_queries") * 0.9)).alias(
                "twin_recall_ok"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Structured Streaming (stretch scope, SURVEY.md §7.2 step 9): the daily
# aggregate as a watermarked tumbling-window stream; AvailableNow over the
# static table makes it deterministic and oracle-comparable.
# ---------------------------------------------------------------------------
@_register(
    "streaming_daily_stats",
    """
SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS event_date,
  CAST(count(*) AS BIGINT) AS total_transactions,
  sum(value) AS volume_total,
  min(value) AS value_min,
  max(value) AS value_max
FROM events GROUP BY 1
""",
)
def q_streaming_daily_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.agg import run_streaming_daily_stats

    out = run_streaming_daily_stats(
        spark, f"{sf_dir}/events.parquet",
        table_name="streaming_daily_stats_q",
    )
    # approx_unique_users is HLL-approximate — excluded from oracle parity.
    return out.select(
        "event_date", "total_transactions", "volume_total", "value_min", "value_max"
    )


@_register(
    "streaming_click_attribution",
    """
SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id,
  CAST(date_diff('microsecond', c.ts, p.ts) AS BIGINT) AS gap_us,
  p.value AS purchase_value
FROM events p JOIN events c
  ON c.user_id = p.user_id
 AND p.event_type = 'purchase' AND c.event_type = 'click'
 AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
""",
)
def q_streaming_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Watermarked stream-stream interval join (the bounded-state form:
    # the interval predicate + both watermarks give Spark an eviction
    # bound for each side's join state). AvailableNow over the static
    # log makes the inner join equal the batch join — graded with a FULL
    # oracle.
    from .streaming.join import run_streaming_click_attribution

    return run_streaming_click_attribution(
        spark, f"{sf_dir}/events.parquet",
        table_name="streaming_click_attribution_q",
    )


@_register(
    "streaming_bloom_dedup_keys",
    """
SELECT DISTINCT md5(concat_ws(chr(31), CAST(user_id AS VARCHAR),
  event_type, CAST(CAST(ts AS DATE) AS VARCHAR))) AS dedup_key
FROM events WHERE user_id IS NOT NULL
""",
)
def q_streaming_bloom_dedup_keys(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # Bloom-GATED streaming dedup, graded with a full oracle: per
    # micro-batch the literal mask rejects definitely-new keys without
    # touching the seen store (zero false negatives by shared-hash
    # construction); only maybe-seen keys pay the exact anti-join that
    # removes the sketch's false positives — so the accumulated key set
    # is EXACTLY the batch distinct, which is what the oracle asserts.
    # The sketch family applied to streaming state
    # (streaming/bloom_gate.py; prune telemetry asserted in pytest).
    import os
    import tempfile

    from .streaming.bloom_gate import run_bloom_gated_dedup

    src = f"{sf_dir}/events.parquet"
    stream_dir = tempfile.mkdtemp(prefix="sbloomdedup_src_")
    os.symlink(src, os.path.join(stream_dir, "events.parquet"))
    work = tempfile.mkdtemp(prefix="sbloomdedup_state_")
    out = run_bloom_gated_dedup(
        spark,
        stream_dir,
        ["user_id", "event_type", "CAST(ts AS DATE)"],
        seen_dir=os.path.join(work, "seen"),
        checkpoint_dir=os.path.join(work, "ckpt"),
        # match the oracle's WHERE: concat_ws would otherwise SKIP a
        # null user_id and emit md5(type\x1f date) keys the oracle
        # never sees (latent: testdata has no null user_id today)
        filter_expr="user_id IS NOT NULL",
    )
    return out["seen"].distinct()


@_register(
    "streaming_dedup_keys",
    """
SELECT DISTINCT md5(concat_ws(chr(31), CAST(user_id AS VARCHAR), event_type))
  AS dedup_key
FROM events
""",
)
def q_streaming_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Stateful streaming dedup, graded with a FULL oracle: which physical
    # row survives per key is arrival-order-dependent, but the surviving
    # KEY SET is exactly the batch distinct — so the query returns the
    # keys. State lives in the dropDuplicates store across micro-batches.
    import os
    import tempfile

    from .streaming.dedup import run_streaming_dedup

    src = f"{sf_dir}/events.parquet"
    stream_dir = tempfile.mkdtemp(prefix="sdedup_src_")
    os.symlink(src, os.path.join(stream_dir, "events.parquet"))
    out = run_streaming_dedup(
        spark, stream_dir, ["user_id", "event_type"],
        table_name="streaming_dedup_keys_q",
    )
    return out.select("dedup_key").distinct()


@_register(
    "incremental_gold_daily",
    """
SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS event_date,
  CAST(count(*) AS BIGINT) AS total_transactions,
  CAST(sum(CAST(value AS DECIMAL(22,8))) AS DOUBLE) AS volume_total,
  min(value) AS value_min,
  max(value) AS value_max
FROM events GROUP BY 1
""",
)
def q_incremental_gold_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    # foreachBatch incremental gold table, graded with a FULL oracle: the
    # input is split into 3 files streamed one per trigger, so the final
    # table is the result of repeated monoid merges — which must equal the
    # one-shot batch aggregate exactly (decimal accumulation makes the sum
    # independent of the batch slicing; the HLL column is approximate and
    # excluded here).
    import tempfile

    from .sources.readers import load_table
    from .streaming.gold import run_incremental_gold_daily

    src = tempfile.mkdtemp(prefix="gold_src_")
    load_table(spark, sf_dir, "events").select(
        "ts", "user_id", "value"
    ).repartition(3).write.mode("overwrite").parquet(src)
    gold = run_incremental_gold_daily(
        spark, src,
        tempfile.mkdtemp(prefix="gold_tbl_"),
        tempfile.mkdtemp(prefix="gold_ckpt_"),
    )
    return gold.select(
        "event_date", "total_transactions", "volume_total",
        "value_min", "value_max",
    )


@_register(
    "streaming_topk_users",
    """
SELECT user_id, CAST(count(*) AS BIGINT) AS n_rows
FROM events GROUP BY 1
ORDER BY n_rows DESC, user_id ASC LIMIT 10
""",
)
def q_streaming_topk_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Streaming heavy hitters: the Misra-Gries count table maintained
    # across 3 idempotent foreachBatch merges (streaming/topk.py). The
    # cap exceeds sf cardinality here, so eps stays 0 and the state is
    # EXACT — the final top-10 must equal the one-shot batch aggregate
    # (same full oracle as heavy_hitter_users; batch slicing must not
    # change a single count). The bounded-state regime (cap ≪ distinct,
    # eps > 0, sketch bounds) is pinned by the planted-skew pytest.
    import tempfile

    from .sources.readers import load_table
    from .streaming.topk import run_streaming_topk

    src = tempfile.mkdtemp(prefix="topk_src_")
    load_table(spark, sf_dir, "events").select(
        "ts", "user_id", "value"
    ).repartition(3).write.mode("overwrite").parquet(src)
    state = run_streaming_topk(
        spark, src,
        tempfile.mkdtemp(prefix="topk_state_"),
        tempfile.mkdtemp(prefix="topk_ckpt_"),
        key_col="user_id", cap=1_000_000,
    )
    return (
        state.select(F.col("key").alias("user_id"), F.col("cnt").alias("n_rows"))
        .orderBy(F.col("n_rows").desc(), F.col("user_id").asc())
        .limit(10)
    )


@_register(
    "streaming_kmv_distinct_users",
    """
WITH h AS (
  SELECT DISTINCT CAST(concat('0x', substr(md5(concat('kmv-v1_',
    CAST(user_id AS VARCHAR))), 1, 15)) AS BIGINT) AS h
  FROM events WHERE user_id IS NOT NULL),
bot AS (SELECT h FROM h ORDER BY h LIMIT 64),
kth AS (SELECT CAST(count(*) AS BIGINT) AS n_kept, max(h) AS m_k FROM bot)
SELECT CAST(64 AS BIGINT) AS k, kth.m_k,
  CAST(round(CASE WHEN kth.n_kept < 64 THEN CAST(kth.n_kept AS DOUBLE)
    ELSE CAST(63 AS DOUBLE)
      / (CAST(kth.m_k AS DOUBLE) / CAST(1152921504606846976 AS DOUBLE))
    END, 6) AS DOUBLE) AS estimate
FROM kth
""",
)
def q_streaming_kmv_distinct_users(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # Streaming KMV: the bottom-k hash state maintained across 3
    # idempotent foreachBatch merges (streaming/sketch.py). Bottom-k
    # summaries merge losslessly, so the final estimate must equal the
    # one-shot batch sketch EXACTLY — the oracle replays the batch
    # sketch over all events; batch slicing must not move m_k at all.
    import tempfile

    from .sources.readers import load_table
    from .streaming.sketch import run_streaming_kmv

    src = tempfile.mkdtemp(prefix="kmv_src_")
    load_table(spark, sf_dir, "events").select(
        "ts", "user_id", "value"
    ).repartition(3).write.mode("overwrite").parquet(src)
    return run_streaming_kmv(
        spark, src,
        tempfile.mkdtemp(prefix="kmv_state_"),
        tempfile.mkdtemp(prefix="kmv_ckpt_"),
        key_col="user_id", k=64,
    )


@_register(
    "streaming_ddsketch_value_quantiles",
    """
WITH v AS (
  SELECT value FROM events WHERE value IS NOT NULL AND value > 0),
b AS (
  SELECT CAST(ceil(round(ln(value) / ln(CAST(1.02 AS DOUBLE)), 9))
    AS BIGINT) AS bucket
  FROM v),
bc AS (SELECT bucket, count(*) AS c FROM b GROUP BY 1),
cum AS (
  SELECT bucket,
    sum(c) OVER (ORDER BY bucket) AS cum,
    sum(c) OVER () AS n
  FROM bc),
qs AS (SELECT CAST(unnest([0.5, 0.9, 0.99]) AS DOUBLE) AS q),
hit AS (
  SELECT q.q, c.bucket, c.n
  FROM cum c, qs q
  WHERE c.cum >= floor(q.q * (c.n - 1)) + 1),
sel AS (SELECT q, min(bucket) AS bucket, max(n) AS n FROM hit GROUP BY 1)
SELECT q, bucket,
  round(2.0 * power(CAST(1.02 AS DOUBLE), bucket)
    / (CAST(1.02 AS DOUBLE) + 1.0), 6) AS estimate,
  CAST(n AS BIGINT) AS n
FROM sel
""",
)
def q_streaming_ddsketch_value_quantiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # Streaming quantile monitor: the DDSketch bucket table maintained
    # across 3 idempotent foreachBatch merges (streaming/sketch.py).
    # Bucket counts are plain sums — the textbook mergeable summary —
    # so the final extraction must equal the one-shot batch sketch
    # EXACTLY under arbitrary batch slicing; the oracle replays the
    # batch sketch over all events. State is bounded by the value
    # range (~log_gamma(max/min) buckets), not the stream length.
    import tempfile

    from .sources.readers import load_table
    from .streaming.sketch import run_streaming_ddsketch

    src = tempfile.mkdtemp(prefix="dd_src_")
    load_table(spark, sf_dir, "events").select(
        "ts", "user_id", "value"
    ).repartition(3).write.mode("overwrite").parquet(src)
    return run_streaming_ddsketch(
        spark, src,
        tempfile.mkdtemp(prefix="dd_state_"),
        tempfile.mkdtemp(prefix="dd_ckpt_"),
        value_col="value", qs=[0.5, 0.9, 0.99], gamma=1.02,
    )


# ---------------------------------------------------------------------------
# As-of join, sessionization, neighbor peer windows (operators Spark lacks,
# composed from primitives — SURVEY.md §2.3 J7/J8 + streaming-shaped batch)
# ---------------------------------------------------------------------------
@_register(
    "asof_last_click",
    """
WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
c AS (SELECT * FROM events WHERE event_type = 'click')
SELECT p.event_id, p.user_id,
  CAST(floor(epoch(p.ts)) AS BIGINT) AS ts_epoch, p.value,
  c.value AS asof_value,
  CAST(floor(epoch(c.ts)) AS BIGINT) AS asof_ts_epoch
FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
""",
)
def q_asof_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Backward as-of join: each purchase picks the user's most recent
    # click. Spark lacks ASOF JOIN; composed as union + running
    # last_value window (one shuffle, no row explosion).
    events = _t(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase")
    clicks = events.filter(F.col("event_type") == "click")
    out = jn.asof_join_backward(
        purchases, clicks, "user_id", "ts", ["value"], "event_id"
    )
    return out.select(
        "event_id", "user_id",
        F.unix_timestamp("ts").cast("long").alias("ts_epoch"),
        "value",
        F.col("asof_value"),
        "asof_ts_epoch",
    )


@_register(
    "sessionization",
    """
WITH s AS (
  SELECT user_id, event_id, ts, value,
    CASE WHEN lag(ts) OVER w IS NULL
              OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
         THEN 1 ELSE 0 END AS new_s
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), t AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS session_id
  FROM s
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
  CAST(count(*) AS BIGINT) AS n_events,
  CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
  CAST(floor(epoch(max(ts))) AS BIGINT) AS session_end,
  round(sum(value), 6) AS total_value
FROM t GROUP BY 1, 2
""",
)
def q_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Gap-based sessions (30 min) — batch twin of session_window(ts, gap).
    events = _t(spark, sf_dir, "events")
    sessions = win.sessionize(events, "user_id", "ts", 1800, "event_id")
    return sessions.groupBy("user_id", F.col("session_id").cast("long").alias("session_id")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.unix_timestamp(F.min("ts")).cast("long").alias("session_start"),
        F.unix_timestamp(F.max("ts")).cast("long").alias("session_end"),
        F.round(F.sum("value"), 6).alias("total_value"),
    )


@_register(
    "neighbor_peer_window",
    """
WITH users AS (SELECT DISTINCT user_id FROM events),
nbr AS (
  SELECT u.user_id, v.user_id AS neighbor_id
  FROM users u JOIN users v
    ON v.user_id = u.user_id + 1 OR v.user_id = u.user_id - 1
)
SELECT a.event_id, a.user_id,
  CAST(floor(epoch(a.ts)) AS BIGINT) AS ts_epoch,
  CAST(count(b.event_id) AS BIGINT) AS peer_sales,
  round(sum(b.value), 6) / count(b.value) AS peer_mean_price,
  median(b.value) AS peer_median_price,
  max(b.value) AS peer_max_price,
  CAST(count(DISTINCT b.user_id) AS BIGINT) AS peer_tokens
FROM events a
JOIN nbr ON a.user_id = nbr.user_id
JOIN events b ON b.user_id = nbr.neighbor_id
  AND b.ts >= a.ts - INTERVAL 1 HOUR AND b.ts < a.ts
GROUP BY 1, 2, 3
""",
)
def q_neighbor_peer_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    # J7 full form (analyze_peer_effects.py:128-237): peer aggregates over
    # a neighbor map. Neighbor map here is the deterministic ±1 ring over
    # user ids (stands in for the KNN map, which is itself q knn_topk).
    events = _t(spark, sf_dir, "events")
    # pinned (r16): the distinct-user table feeds the two shifted
    # branches AND the existence semi-join — unpinned, the before-plan
    # ran the events scan + distinct aggregation three times (plan
    # operators 5-9 / 17-21 duplicated). The pin is user-cardinality
    # bounded (ids only) — the same table any materialized neighbor
    # map is built from.
    users = events.select("user_id").distinct().localCheckpoint(eager=True)
    shifted = users.select(
        "user_id", (F.col("user_id") + 1).alias("neighbor_id")
    ).unionByName(
        users.select("user_id", (F.col("user_id") - 1).alias("neighbor_id"))
    )
    neighbors = shifted.join(
        users.select(F.col("user_id").alias("neighbor_id")),
        "neighbor_id", "left_semi",
    )
    out = jn.neighbor_window_aggregate(
        events, neighbors,
        token_col="user_id", neighbor_col="neighbor_id",
        ts_col="ts", value_col="value", id_col="event_id",
        window_seconds=3600,
    )
    return out.select(
        "event_id", "user_id",
        F.unix_timestamp("ts").cast("long").alias("ts_epoch"),
        F.col("peer_sales").cast("long").alias("peer_sales"),
        "peer_mean_price", "peer_median_price", "peer_max_price",
        F.col("peer_tokens").cast("long").alias("peer_tokens"),
    )


@_register(
    "json_explode_pivot",
    """
SELECT event_type,
  round(sum(CAST(json_extract_string(props, '$.k') AS DOUBLE)), 6)
    / count(json_extract_string(props, '$.k')) AS k
FROM events GROUP BY 1
""",
)
def q_json_explode_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    # F3 (analyze_cluster_traits.py:58-97): JSON payload → from_json →
    # explode → pivot to wide per-trait columns. The reference's trait
    # arrays are ArrayType(StructType(trait_type, value)) + the same
    # explode/pivot shape; props here is the map form.
    e = _t(spark, sf_dir, "events")
    exploded = e.withColumn(
        "m", F.from_json("props", "map<string,string>")
    ).select("event_type", F.explode("m").alias("trait_type", "trait_value"))
    return (
        exploded.groupBy("event_type")
        .pivot("trait_type", ["k"])
        .agg(agg.det_mean(F.col("trait_value").cast("double")))
    )


# ---------------------------------------------------------------------------
# Grouping sets + range frames (beyond-reference capability: the reference
# has no rollup/cube and only row-based frames, SURVEY.md §2.4/§2.5)
# ---------------------------------------------------------------------------
@_register(
    "order_status_rollup",
    """
SELECT o_orderstatus, CAST(year(o_orderdate) AS BIGINT) AS order_year,
  CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
  CAST(grouping(year(o_orderdate)) AS BIGINT) AS g_year,
  sum(o_totalprice) AS total_price,
  CAST(count(*) AS BIGINT) AS n_orders
FROM orders
GROUP BY ROLLUP (o_orderstatus, year(o_orderdate))
""",
)
def q_order_status_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Hierarchical subtotals in one pass: Spark expands the rollup into
    # grouping sets inside a single aggregate (one shuffle), vs running
    # three separate groupBys.
    o = _t(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate").cast("long")
    )
    return o.rollup("o_orderstatus", "order_year").agg(
        F.grouping("o_orderstatus").cast("long").alias("g_status"),
        F.grouping("order_year").cast("long").alias("g_year"),
        F.sum("o_totalprice").alias("total_price"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@_register(
    "time_range_rolling_mean",
    """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, round(sum(value), 6) AS daily_value
  FROM events GROUP BY 1
), idx AS (
  SELECT d, daily_value,
    date_diff('day', DATE '2020-01-01', d) AS day_idx
  FROM daily
)
SELECT strftime(d, '%Y-%m-%d') AS d, daily_value,
  avg(daily_value) OVER (ORDER BY day_idx
    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS range_mean_7d
FROM idx
""",
)
def q_time_range_rolling_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    # RANGE frame keyed on calendar days (not row counts): a gap in the
    # series shrinks the window instead of silently reaching further back
    # — the correct rolling semantics for sparse daily data. The reference
    # only has row frames (W3/W4).
    from pyspark.sql import Window

    events = _t(spark, sf_dir, "events").withColumn("d", F.to_date("ts"))
    daily = events.groupBy("d").agg(F.round(F.sum("value"), 6).alias("daily_value"))
    idx = daily.withColumn(
        "day_idx", F.datediff(F.col("d"), F.lit("2020-01-01").cast("date"))
    )
    w = Window.orderBy("day_idx").rangeBetween(-6, 0)
    return idx.select(
        F.date_format("d", "yyyy-MM-dd").alias("d"),
        "daily_value",
        F.avg("daily_value").over(w).alias("range_mean_7d"),
    )


# ---------------------------------------------------------------------------
# TPC-H Q5/Q18 shapes: deep multi-join + having-semi-join (bench headliners)
# ---------------------------------------------------------------------------
@_register(
    "local_supplier_revenue",
    """
SELECT n.n_name AS nation,
  CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(22,8))) AS DOUBLE) AS revenue,
  CAST(count(*) AS BIGINT) AS n_lineitems
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE s.s_nationkey = c.c_nationkey AND r.r_name = 'ASIA'
GROUP BY 1
""",
)
def q_local_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q5 shape: 6-way join; nation/region/supplier broadcast, the
    # lineitem⨝orders shuffle carries the region filter pushed through the
    # dimension chain (dynamic partition pruning territory at real scale).
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        # merge-pinned (r16): same small-SF estimate pathology as
        # segment_revenue — the planner broadcast LINEITEM into the
        # c⨝o stream; the fact-fact join shuffles at any real scale
        .join(li.hint("merge"), o.o_orderkey == li.l_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .filter((s.s_nationkey == c.c_nationkey) & (F.col("r_name") == "ASIA"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount")))
                  .cast("decimal(22,8)")).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


@_register(
    "order_shipping_priority",
    """
SELECT l.l_orderkey AS o_orderkey,
  CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(22,8)))
       AS DOUBLE) AS revenue,
  strftime(CAST(o.o_orderdate AS DATE), '%Y-%m-%d') AS order_date,
  o.o_orderpriority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-06-01'
  AND l.l_shipdate > TIMESTAMP '1998-06-01'
GROUP BY 1, 3, 4
ORDER BY revenue DESC, o_orderkey LIMIT 10
""",
)
def q_order_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q3 shape (o_orderpriority standing in for shippriority):
    # segment filter pushed to the customer scan, date filters pushed to
    # both fact scans, customer side broadcast after filtering, one
    # lineitem⨝orders shuffle, global top-10 via TakeOrderedAndProject
    # (per-partition heaps, no full sort). Deterministic tie-break on
    # order key keeps the LIMIT stable across engines.
    cutoff = "1998-06-01"
    c = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("l_orderkey").alias("o_orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "o_orderpriority",
        )
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount")))
                .cast("decimal(22,8)")
            ).cast("double").alias("revenue")
        )
        .select("o_orderkey", "revenue", "order_date", "o_orderpriority")
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(10)
    )


@_register(
    "returned_item_losses",
    """
SELECT c.c_custkey, c.c_name, n.n_name AS nation,
  CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(22,8)))
       AS DOUBLE) AS revenue_lost,
  CAST(count(*) AS BIGINT) AS n_items
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE l.l_returnflag = 'R'
  AND o.o_orderdate >= TIMESTAMP '1997-01-01'
  AND o.o_orderdate < TIMESTAMP '1997-07-01'
GROUP BY 1, 2, 3
ORDER BY revenue_lost DESC, c_custkey LIMIT 20
""",
)
def q_returned_item_losses(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q10 shape: returned-item revenue loss per customer over a
    # quarter. Return-flag and date filters reach the fact scans, nation
    # broadcast, single fact shuffle, top-20 losers via per-partition
    # heaps with a key tie-break.
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01")
        & (F.col("o_orderdate") < "1997-07-01")
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"))
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount")))
                .cast("decimal(22,8)")
            ).cast("double").alias("revenue_lost"),
            F.count(F.lit(1)).cast("long").alias("n_items"),
        )
        .orderBy(F.desc("revenue_lost"), "c_custkey")
        .limit(20)
    )


@_register(
    "large_orders",
    """
WITH big AS (
  SELECT l_orderkey FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 150
)
SELECT c.c_name, o.o_orderkey,
  strftime(CAST(o.o_orderdate AS DATE), '%Y-%m-%d') AS o_orderdate,
  o.o_totalprice, sum(l.l_quantity) AS total_qty
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderkey IN (SELECT l_orderkey FROM big)
GROUP BY 1, 2, 3, 4
""",
)
def q_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q18 shape: having-filtered aggregate reused as a semi-join
    # filter before the expensive 3-way join — the aggregate runs once,
    # and only qualifying orders reach the join.
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 150)
        .select("l_orderkey")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        # merge-pinned (r16): the planner's small-SF estimate broadcast
        # LINEITEM here (the fact table — same pathology as
        # segment_revenue); a fact-fact join on the order key is a
        # shuffle join at any real scale, and AQE still upgrades it at
        # runtime when the filtered build side is genuinely tiny
        .join(li.hint("merge"), o.o_orderkey == li.l_orderkey)
        .join(big.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey", "left_semi")
        .groupBy(
            "c_name", "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_totalprice",
        )
        .agg(F.sum("l_quantity").alias("total_qty"))
    )


@_register(
    "nation_trade_volume",
    """
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
  CAST(year(l.l_shipdate) AS BIGINT) AS ship_year,
  CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(22,8)))
       AS DOUBLE) AS volume,
  CAST(count(*) AS BIGINT) AS n_lineitems
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation sn ON s.s_nationkey = sn.n_nationkey
JOIN nation cn ON c.c_nationkey = cn.n_nationkey
WHERE ((sn.n_name = 'NATION_5' AND cn.n_name = 'NATION_13')
    OR (sn.n_name = 'NATION_13' AND cn.n_name = 'NATION_5'))
GROUP BY 1, 2, 3
""",
)
def q_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q7 shape (volume shipping): fact table joined out to TWO
    # nation lookups through different dimension chains, filtered to a
    # nation pair, grouped by (supp_nation, cust_nation, year). supplier/
    # nation broadcast; lineitem⨝orders is the only big shuffle, and the
    # nation-pair predicate prunes it early via the broadcast joins.
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    # r7: the nation pair must EXIST in the testdata (NATION_0..24) — the
    # TPC-H-spec FRANCE/GERMANY literals made every shipped row 0=0
    # (vacuous green, VERDICT r6 #1). NATION_5/NATION_13 join real rows.
    pair = (
        (F.col("supp_nation") == "NATION_5") & (F.col("cust_nation") == "NATION_13")
    ) | ((F.col("supp_nation") == "NATION_13") & (F.col("cust_nation") == "NATION_5"))
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation",
            F.year("l_shipdate").cast("long").alias("ship_year"),
        )
        .agg(
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount")))
                  .cast("decimal(22,8)")).cast("double").alias("volume"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


@_register(
    "late_supplier_blame",
    """
WITH per_order AS (
  SELECT l_orderkey,
    count(DISTINCT l_suppkey) AS n_supp,
    min(l_shipdate) AS first_ship
  FROM lineitem GROUP BY 1
), late AS (
  SELECT DISTINCT l.l_orderkey, l.l_suppkey
  FROM lineitem l JOIN per_order p ON l.l_orderkey = p.l_orderkey
  WHERE date_diff('day', CAST(p.first_ship AS DATE),
                  CAST(l.l_shipdate AS DATE)) > 30
), sole_late AS (
  SELECT l_orderkey, min(l_suppkey) AS l_suppkey
  FROM late GROUP BY 1 HAVING count(*) = 1
)
SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
FROM sole_late sl
JOIN per_order p ON sl.l_orderkey = p.l_orderkey AND p.n_supp >= 2
JOIN supplier s ON sl.l_suppkey = s.s_suppkey
GROUP BY 1
""",
)
def q_late_supplier_blame(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q21 shape (suppliers who kept orders waiting), adapted to this
    # schema: no commit/receipt dates, so "late" = shipped >30 days after
    # the order's first shipment. Q21's EXISTS (another supplier on the
    # order) and NOT EXISTS (another LATE supplier) decorrelate into ONE
    # windowed pass: per-order min ship date via a keyed window, then a
    # per-order aggregate that the planner runs WITHOUT a second exchange
    # (the window already partitioned by l_orderkey). One lineitem scan
    # and one fact shuffle total — the naive aggregate+rejoin form scans
    # the 100 TB table four times.
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    # pass 1 (the ONLY fact-table shuffle, map-side combined): reduce
    # lineitem to (order, supplier) pairs with their ship-date span
    pairs = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("l_shipdate").alias("last_ship_supp"),
        F.min("l_shipdate").alias("first_ship_supp"),
    )
    # pass 2 over the reduced pair table: order-level window gives the
    # order's first shipment + supplier count; a pair is "late" iff its
    # latest line shipped >30 days after that
    w = Window.partitionBy("l_orderkey")
    scored = pairs.select(
        "l_orderkey",
        "l_suppkey",
        F.count(F.lit(1)).over(w).alias("n_supp"),
        (
            F.datediff(
                F.col("last_ship_supp"), F.min("first_ship_supp").over(w)
            )
            > 30
        ).alias("is_late"),
    )
    per_order = scored.groupBy("l_orderkey").agg(
        F.max("n_supp").alias("n_supp"),
        F.count(F.when(F.col("is_late"), 1)).alias("n_late"),
        F.min(F.when(F.col("is_late"), F.col("l_suppkey"))).alias("late_suppkey"),
    )
    return (
        per_order.filter((F.col("n_late") == 1) & (F.col("n_supp") >= 2))
        .join(F.broadcast(s), F.col("late_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@_register(
    "stratified_sample",
    # which rows Bernoulli sampling keeps is engine RNG — but the
    # per-stratum totals are exact and the sampled counts obey binomial
    # bounds; grade those (fraction-1.0 strata must be kept verbatim).
    """
SELECT lang, CAST(count(*) AS BIGINT) AS n_total, TRUE AS within_bounds
FROM documents WHERE lang IN ('en', 'de', 'fr', 'es')
GROUP BY lang
""",
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Structural gate: sampled size per stratum within 4 sigma of the
    # binomial expectation (deterministic for a fixed seed — the check
    # either always passes or flags a real sampler defect), and keep-all
    # strata preserved exactly.
    fractions = {"en": 0.5, "de": 1.0, "fr": 1.0, "es": 1.0}
    d = _t(spark, sf_dir, "documents").filter(
        F.col("lang").isin(*fractions)
    )
    sample = tx.stratified_sample(d, "lang", fractions, seed=42)
    totals = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_total"))
    sampled = sample.groupBy("lang").agg(F.count(F.lit(1)).alias("n_sampled"))
    frac = F.when(F.col("lang") == "en", F.lit(0.5)).otherwise(F.lit(1.0))
    mean = frac * F.col("n_total")
    tol = 4.0 * F.sqrt(F.col("n_total") * frac * (1.0 - frac)) + 1.0
    return (
        totals.join(sampled, "lang", "left")
        .na.fill({"n_sampled": 0})
        .select(
            "lang",
            F.col("n_total").cast("long").alias("n_total"),
            F.when(frac == 1.0, F.col("n_sampled") == F.col("n_total"))
            .otherwise(F.abs(F.col("n_sampled") - mean) <= tol)
            .alias("within_bounds"),
        )
    )


@_register(
    "train_test_split",
    # md5 bucketing is engine-portable: the oracle recomputes the exact
    # assignment (threshold = floor(0.1 * 16^8) = 0x19999999).
    """
SELECT doc_id,
  CASE WHEN substr(md5(concat('split-v1', '_', CAST(doc_id AS VARCHAR))), 1, 8)
            < '19999999'
       THEN 'test' ELSE 'train' END AS split
FROM documents
""",
)
def q_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return tx.train_test_split(d, "doc_id", test_fraction=0.1).select(
        "doc_id", "split"
    )


@_register(
    "domain_mix_resample",
    # Temperature-based domain mixing (count^alpha shares, alpha=0.5):
    # the oracle replays the exact rate arithmetic (sqrt is IEEE-exact
    # cross-engine; rates rounded to 6dp before thresholding) and the
    # same portable md5-threshold keep rule. Fixed-width UPPERCASE hex
    # compares lexicographically == numerically in both engines.
    """
WITH c AS (
  SELECT lang, CAST(count(*) AS DOUBLE) AS n FROM documents GROUP BY 1
), w AS (
  SELECT lang, n, sqrt(n) AS wt FROM c
), t AS (
  SELECT sum(wt) AS sw, sum(n) AS tot FROM w
), r AS (
  SELECT lang, round(least(1.0, 0.5 * tot * wt / sw / n), 6) AS rate
  FROM w CROSS JOIN t
), k AS (
  SELECT d.lang, r.rate,
    CASE WHEN r.rate >= 1.0 THEN TRUE
         ELSE upper(substr(md5(concat('mix-v1', '_', CAST(d.doc_id AS VARCHAR))), 1, 8))
              < lpad(to_hex(CAST(floor(r.rate * 4294967296.0) AS BIGINT)), 8, '0')
    END AS kept
  FROM documents d JOIN r USING (lang)
)
SELECT lang,
  CAST(count(*) AS BIGINT) AS total_docs,
  CAST(count(*) FILTER (WHERE kept) AS BIGINT) AS kept_docs,
  min(rate) AS rate
FROM k GROUP BY 1
""",
)
def q_domain_mix_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Data-mixing for multi-source training corpora: shares ∝ count^0.5
    # flatten the lang distribution (en is ~3× de here; after mixing the
    # ratio is ~sqrt(3)). One thin count agg + broadcast join + per-row
    # hash — no fact-side shuffle beyond the final summary.
    d = _t(spark, sf_dir, "documents")
    mixed = tx.temperature_resample(
        d, "lang", "doc_id", alpha=0.5, target_fraction=0.5
    )
    return mixed.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("total_docs"),
        F.sum(F.col("kept").cast("int")).cast("long").alias("kept_docs"),
        F.min("rate").alias("rate"),
    )


@_register(
    "training_shard_stats",
    # Portable shard assignment (24-bit md5 prefix mod 8) replayed by the
    # oracle via DuckDB's hex-string cast; min/max of the full digest
    # pin the intra-shard deterministic shuffle order at both ends.
    """
WITH s AS (
  SELECT doc_id, lang,
    md5(concat('shard-v1', '_', CAST(doc_id AS VARCHAR))) AS digest
  FROM documents
), a AS (
  SELECT doc_id, lang, digest,
    CAST(concat('0x', substr(digest, 1, 6)) AS BIGINT) % 8 AS shard
  FROM s
)
SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
  min(digest) AS first_key, max(digest) AS last_key
FROM a GROUP BY 1
""",
)
def q_training_shard_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The shard manifest a training loader reads: per-shard sizes (hash
    # balance), lang coverage (every shard sees the full mix), and the
    # deterministic shuffle-key span. Same expression the shard sink
    # (`sources.writers.write_training_shards`) partitions by.
    d = _t(spark, sf_dir, "documents")
    shard, key = tx.shard_assignment("doc_id", 8)
    return (
        d.select("doc_id", "lang", shard, key)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
            F.min("_shuffle_key").alias("first_key"),
            F.max("_shuffle_key").alias("last_key"),
        )
    )


@_register(
    "psi_value_drift",
    # PSI drift monitor: integer bucket counts feed Laplace-smoothed
    # shares, so the float math is engine-exact; ln() is natural log in
    # both engines; 6dp rounding guards summation-order ULPs in the
    # whole-table total.
    """
WITH e AS (
  SELECT CASE WHEN day(CAST(ts AS DATE)) <= 15 THEN 'base' ELSE 'curr' END AS period,
    CAST(greatest(0, least(floor(value / 25.0), 8)) AS BIGINT) AS bucket
  FROM events WHERE value IS NOT NULL
), c AS (
  SELECT bucket,
    CAST(count(*) FILTER (WHERE period = 'base') AS BIGINT) AS n_base,
    CAST(count(*) FILTER (WHERE period = 'curr') AS BIGINT) AS n_curr
  FROM e GROUP BY 1
), t AS (
  SELECT sum(n_base) AS tb, sum(n_curr) AS tc, count(*) AS nb FROM c
), s AS (
  SELECT bucket, n_base, n_curr,
    (n_base + 0.5) / (tb + 0.5 * nb) AS pb,
    (n_curr + 0.5) / (tc + 0.5 * nb) AS pc
  FROM c CROSS JOIN t
)
SELECT bucket, n_base, n_curr,
  round(pb, 6) AS p_base, round(pc, 6) AS p_curr,
  round((pc - pb) * ln(pc / pb), 6) AS psi_term,
  round(sum((pc - pb) * ln(pc / pb)) OVER (), 6) AS psi_total
FROM s
""",
)
def q_psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Drift monitoring for a long-running ingest: PSI of the value
    # distribution, first half of the month (base) vs second (curr).
    e = _t(spark, sf_dir, "events").withColumn(
        "period",
        F.when(F.dayofmonth(F.col("ts").cast("date")) <= 15, "base").otherwise(
            "curr"
        ),
    )
    return agg.population_stability(
        e, "value", "period", bucket_width=25.0, max_bucket=8
    )


@_register(
    "value_histogram",
    """
SELECT CAST(floor(value / 10.0) AS BIGINT) AS bucket,
  CAST(count(*) AS BIGINT) AS n,
  min(value) AS bucket_min, max(value) AS bucket_max
FROM events WHERE value IS NOT NULL
GROUP BY 1
""",
)
def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Fixed-width binning (score/length histograms for corpus curation):
    # pure projection + one aggregate — the shape quality dashboards run
    # over the whole corpus.
    e = _t(spark, sf_dir, "events")
    return (
        e.filter(F.col("value").isNotNull())
        .groupBy(F.floor(F.col("value") / 10.0).cast("long").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("value").alias("bucket_min"),
            F.max("value").alias("bucket_max"),
        )
    )


@_register(
    "small_quantity_revenue",
    """
WITH part_avg AS (
  SELECT l_partkey, 0.2 * (round(sum(l_quantity), 6) / count(l_quantity)) AS qty_limit
  FROM lineitem GROUP BY 1
)
SELECT CAST(sum(CAST(l.l_extendedprice AS DECIMAL(22,8))) AS DOUBLE) / 7.0
    AS avg_yearly,
  CAST(count(*) AS BIGINT) AS n_small
FROM lineitem l JOIN part_avg p ON l.l_partkey = p.l_partkey
WHERE l.l_quantity < p.qty_limit
""",
)
def q_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q17 shape: correlated scalar subquery decorrelated into an
    # aggregate + self-join — the per-part average is computed once and
    # joined back, not re-evaluated per row.
    li = _t(spark, sf_dir, "lineitem")
    part_avg = li.groupBy("l_partkey").agg(
        (F.lit(0.2) * agg.det_mean("l_quantity")).alias("qty_limit")
    )
    return (
        li.join(part_avg, "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_limit"))
        .agg(
            (F.sum(F.col("l_extendedprice").cast("decimal(22,8)"))
             .cast("double") / 7.0).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_small"),
        )
    )


@_register(
    "order_priority_check",
    """
SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS n_late_orders
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-07-01'
  AND o.o_orderdate < TIMESTAMP '1996-10-01'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
GROUP BY 1
""",
)
def q_order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q4 shape (order priority checking), adapted to this schema:
    # no commit/receipt dates, so the EXISTS predicate is "some lineitem
    # shipped >30 days after the order date". The correlated EXISTS is a
    # LEFT SEMI join whose equi conjunct (orderkey) drives a shuffled
    # hash semi-join; the date window prunes the orders scan first.
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-07-01")
        & (F.col("o_orderdate") < "1996-10-01")
    )
    li = _t(spark, sf_dir, "lineitem")
    late = o.join(
        li,
        (o.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 30 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_late_orders")
    )


@_register(
    "min_cost_supplier",
    """
WITH ps AS (
  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
), ranked AS (
  SELECT ps.l_partkey, s.s_name, s.s_acctbal, n.n_name,
    row_number() OVER (PARTITION BY ps.l_partkey
                       ORDER BY s.s_acctbal DESC, ps.l_suppkey) AS rn
  FROM ps
  JOIN supplier s ON ps.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey AND r.r_name = 'EUROPE'
)
SELECT p.p_partkey, p.p_name, rk.s_name AS supplier_name,
  round(rk.s_acctbal, 6) AS s_acctbal, rk.n_name AS nation
FROM ranked rk JOIN part p ON rk.l_partkey = p.p_partkey
WHERE rk.rn = 1 AND p.p_size = 30 AND p.p_type = 'LARGE'
""",
)
def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q2 shape (best supplier per part in a region), adapted: no
    # partsupp table, so the part-supplier relation is the DISTINCT
    # (l_partkey, l_suppkey) projection of lineitem and "best" is max
    # s_acctbal (supplycost stand-in). The correlated min-subquery is
    # decorrelated into a per-part row_number window with a key
    # tie-break; supplier/nation/region broadcast, one shuffle on
    # partkey for the window.
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_size") == 30) & (F.col("p_type") == "LARGE")
    )
    from pyspark.sql import Window

    ps = li.select("l_partkey", "l_suppkey").distinct()
    ranked = (
        ps.join(F.broadcast(s), ps.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("l_partkey")
                .orderBy(F.desc("s_acctbal"), "l_suppkey")
            ),
        )
        .filter(F.col("rn") == 1)
    )
    return ranked.join(p, ranked.l_partkey == p.p_partkey).select(
        "p_partkey", "p_name",
        F.col("s_name").alias("supplier_name"),
        F.round("s_acctbal", 6).alias("s_acctbal"),
        F.col("n_name").alias("nation"),
    )


@_register(
    "market_share",
    """
WITH base AS (
  SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
    CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(22,8)) AS volume,
    sn.n_name AS supp_nation
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey AND p.p_type = 'PROMO'
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation sn ON s.s_nationkey = sn.n_nationkey
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
  JOIN region r ON cn.n_regionkey = r.r_regionkey AND r.r_name = 'EUROPE'
)
SELECT o_year,
  round(CAST(sum(CASE WHEN supp_nation = 'NATION_5' THEN volume
                      ELSE CAST(0 AS DECIMAL(22,8)) END) AS DOUBLE)
        / CAST(sum(volume) AS DOUBLE), 6) AS mkt_share,
  CAST(count(*) AS BIGINT) AS n_lineitems
FROM base GROUP BY 1
""",
)
def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q8 shape (national market share): NATION_5's share of PROMO
    # part revenue sold into EUROPE-region customers, per order year.
    # Part/supplier/nation/region broadcast; lineitem⨝orders is the one
    # big shuffle. Both sums staged as DECIMAL so the share division is
    # bit-identical cross-engine, then rounded to 6dp.
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    sn = n.select(F.col("n_nationkey").alias("sn_key"),
                  F.col("n_name").alias("supp_nation"))
    cn = n.select(F.col("n_nationkey").alias("cn_key"), "n_regionkey")
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(22,8)"
    )
    base = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            vol.alias("volume"),
            "supp_nation",
        )
    )
    zero = F.lit(0).cast("decimal(22,8)")
    return base.groupBy("o_year").agg(
        F.round(
            F.sum(F.when(F.col("supp_nation") == "NATION_5",
                         F.col("volume")).otherwise(zero)).cast("double")
            / F.sum("volume").cast("double"),
            6,
        ).alias("mkt_share"),
        F.count(F.lit(1)).alias("n_lineitems"),
    )


@_register(
    "product_profit",
    """
SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
  CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(22,8)))
       AS DOUBLE) AS profit,
  CAST(count(*) AS BIGINT) AS n_lineitems
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey AND p.p_name LIKE '%red%'
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY 1, 2
""",
)
def q_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q9 shape (product-type profit): revenue on 'red' parts by
    # supplier nation × order year (no partsupp, so profit = revenue
    # without the supplycost term). The p_name LIKE filter lands on the
    # broadcast part side before the fact join.
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").contains("red"))
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount")))
                  .cast("decimal(22,8)")).cast("double").alias("profit"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


@_register(
    "customer_distribution",
    """
WITH c_orders AS (
  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
  GROUP BY 1
)
SELECT CAST(c_count AS BIGINT) AS c_count,
  CAST(count(*) AS BIGINT) AS custdist
FROM c_orders GROUP BY 1
""",
)
def q_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q13 shape (customer order-count distribution): LEFT OUTER
    # join so zero-order customers survive with c_count 0, count of the
    # NON-NULL order key per customer, then the histogram of counts.
    # Two shuffles (custkey, then c_count) — the second one's input is
    # one row per customer, already collapsed.
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


@_register(
    "promo_revenue",
    """
SELECT round(
    100.0 * CAST(sum(CASE WHEN p.p_type = 'PROMO'
        THEN CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(22,8))
        ELSE CAST(0 AS DECIMAL(22,8)) END) AS DOUBLE)
    / CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
               AS DECIMAL(22,8))) AS DOUBLE), 6) AS promo_pct,
  CAST(count(*) AS BIGINT) AS n_lineitems
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1996-09-01'
  AND l.l_shipdate < TIMESTAMP '1996-10-01'
""",
)
def q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q14 shape (promotion effect): PROMO share of one ship-month's
    # revenue as a single percentage row. Decimal-staged conditional sum
    # over a broadcast part join; the month filter reaches the lineitem
    # scan as PushedFilters.
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-09-01")
        & (F.col("l_shipdate") < "1996-10-01")
    )
    p = _t(spark, sf_dir, "part")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(22,8)"
    )
    zero = F.lit(0).cast("decimal(22,8)")
    return li.join(F.broadcast(p), li.l_partkey == p.p_partkey).agg(
        F.round(
            F.lit(100.0)
            * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(zero))
            .cast("double")
            / F.sum(rev).cast("double"),
            6,
        ).alias("promo_pct"),
        F.count(F.lit(1)).alias("n_lineitems"),
    )


@_register(
    "top_supplier_revenue",
    """
WITH rev AS (
  SELECT l_suppkey,
    sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,8)))
      AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY 1
)
SELECT s.s_suppkey, s.s_name, CAST(r.total_rev AS DOUBLE) AS total_revenue
FROM rev r JOIN supplier s ON s.s_suppkey = r.l_suppkey
WHERE r.total_rev = (SELECT max(total_rev) FROM rev)
""",
)
def q_top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q15 shape (top supplier): quarterly revenue per supplier,
    # keep the supplier(s) at the max. Revenue stays DECIMAL through the
    # max-equality comparison so the tie test is exact cross-engine (a
    # double sum would make "equals max" float-order-dependent); the max
    # is a 1-row broadcast joined back — no second scan of lineitem.
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1996-04-01")
    )
    s = _t(spark, sf_dir, "supplier")
    rev = li.groupBy("l_suppkey").agg(
        F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount")))
              .cast("decimal(22,8)")).alias("total_rev")
    )
    mx = rev.agg(F.max("total_rev").alias("mx"))
    return (
        rev.join(F.broadcast(mx), rev.total_rev == F.col("mx"))
        .join(F.broadcast(s), rev.l_suppkey == s.s_suppkey)
        .select(
            "s_suppkey", "s_name",
            F.col("total_rev").cast("double").alias("total_revenue"),
        )
    )


@_register(
    "parts_supplier_stats",
    """
WITH ps AS (
  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
)
SELECT p.p_brand, p.p_type, CAST(p.p_size AS BIGINT) AS p_size,
  CAST(count(DISTINCT ps.l_suppkey) AS BIGINT) AS supplier_cnt
FROM ps
JOIN part p ON p.p_partkey = ps.l_partkey
WHERE p.p_brand <> 'Brand#1' AND p.p_type <> 'PROMO'
  AND p.p_size IN (1, 4, 7, 10, 13, 16, 19, 22, 25)
  AND ps.l_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
""",
)
def q_parts_supplier_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q16 shape (parts/supplier relationship): distinct supplier
    # count per (brand, type, size) bucket with an excluded-supplier
    # NOT IN (negative acctbal standing in for the complaints filter;
    # no partsupp, so the relation is lineitem's distinct pairs). The
    # exclusion is a broadcast LEFT ANTI join — never a per-row
    # subquery — and the part filters ride the broadcast side.
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22, 25)
    )
    bad = _t(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    ps = li.select("l_partkey", "l_suppkey").distinct()
    return (
        ps.join(F.broadcast(bad), ps.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), ps.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", F.col("p_size").cast("long").alias("p_size"))
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@_register(
    "discounted_revenue",
    """
SELECT CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
               AS DECIMAL(22,8))) AS DOUBLE) AS revenue,
  CAST(count(*) AS BIGINT) AS n_matched
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
       AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
       AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 20 AND 30)
""",
)
def q_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q19 shape (disjunctive predicate revenue): three OR'd
    # (brand, size, quantity) branches. The scale move is deriving the
    # IMPLIED superset predicates — brand IN (...) on the broadcast part
    # side and quantity BETWEEN 1 AND 30 on the fact scan — so both
    # scans prune before the join evaluates the exact disjunction.
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity").between(1, 30)
    )
    p = _t(spark, sf_dir, "part").filter(
        F.col("p_brand").isin("Brand#12", "Brand#23", "Brand#3")
    )
    branch = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5)
         & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 10)
           & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 15)
           & F.col("l_quantity").between(20, 30))
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(branch)
        .agg(
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount")))
                  .cast("decimal(22,8)")).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_matched"),
        )
    )


@_register(
    "dormant_high_value_customers",
    """
WITH eligible AS (
  SELECT c_custkey, c_nationkey, c_acctbal FROM customer
  WHERE c_nationkey IN (0, 1, 2, 3, 4, 5, 6)
), threshold AS (
  SELECT round(sum(c_acctbal), 6) / count(*) AS avg_bal
  FROM eligible WHERE c_acctbal > 0
)
SELECT CAST(e.c_nationkey AS BIGINT) AS nationkey,
  CAST(count(*) AS BIGINT) AS numcust,
  CAST(sum(CAST(e.c_acctbal AS DECIMAL(22,8))) AS DOUBLE) AS totacctbal
FROM eligible e, threshold t
WHERE e.c_acctbal > t.avg_bal
  AND NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = e.c_custkey
      AND o.o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY 1
""",
)
def q_dormant_high_value_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q22 shape (global sales opportunity), adapted: nation-key
    # set stands in for phone country codes, and — since every customer
    # in this data has SOME order — "never ordered" becomes "no order
    # since 2000-01-01" (dormant). Scalar threshold = deterministic mean
    # (round(sum,6)/count, the cross-engine-stable form) broadcast as a
    # 1-row cross join; the NOT EXISTS is a LEFT ANTI join against the
    # date-pruned orders scan.
    c = _t(spark, sf_dir, "customer").filter(
        F.col("c_nationkey").isin(0, 1, 2, 3, 4, 5, 6)
    ).select("c_custkey", "c_nationkey", "c_acctbal")
    thr = c.filter(F.col("c_acctbal") > 0).agg(
        (F.round(F.sum("c_acctbal"), 6) / F.count(F.lit(1))).alias("avg_bal")
    )
    recent = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= "2000-01-01"
    ).select("o_custkey")
    return (
        c.crossJoin(F.broadcast(thr))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, c.c_custkey == recent.o_custkey, "left_anti")
        .groupBy(F.col("c_nationkey").cast("long").alias("nationkey"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(F.col("c_acctbal").cast("decimal(22,8)"))
            .cast("double").alias("totacctbal"),
        )
    )


@_register(
    "retention_matrix",
    """
WITH pur AS (
  SELECT user_id, date_trunc('week', CAST(ts AS DATE)) AS wk
  FROM events WHERE event_type = 'purchase'
), fp AS (
  SELECT user_id, min(wk) AS cohort_wk FROM pur GROUP BY 1
)
SELECT strftime(f.cohort_wk, '%Y-%m-%d') AS cohort_week,
  CAST(date_diff('week', f.cohort_wk, p.wk) AS BIGINT) AS week_offset,
  CAST(count(DISTINCT p.user_id) AS BIGINT) AS active_users
FROM fp f JOIN pur p ON f.user_id = p.user_id
GROUP BY 1, 2
""",
)
def q_retention_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The full retention triangle (cohort week × weeks-since-first):
    # distinct purchasers per (cohort, age) cell — the generalization of
    # cohort_retention's single 7-day window. Both date_trunc('week')s
    # are ISO-Monday in Spark and DuckDB. One shuffle for the per-user
    # first week, one equi-join back on user_id, one count-distinct agg.
    pur = _t(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    ).select("user_id", F.date_trunc("week", F.to_date("ts")).alias("wk"))
    fp = pur.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    return (
        pur.join(fp, "user_id")
        .groupBy(
            F.date_format("cohort_wk", "yyyy-MM-dd").alias("cohort_week"),
            F.floor(
                F.datediff(F.col("wk"), F.col("cohort_wk")) / 7
            ).cast("long").alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


@_register(
    "containment_dedup_counts",
    """
WITH d AS (
  SELECT doc_id, list_distinct(regexp_split_to_array(
    trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS ws
  FROM documents WHERE doc_id < 150
), pairs AS (
  SELECT a.doc_id
  FROM d a JOIN d b ON a.doc_id <> b.doc_id
  WHERE len(list_intersect(a.ws, b.ws)) = len(a.ws)
), cnt AS (
  SELECT doc_id, count(*) AS n FROM pairs GROUP BY 1
)
SELECT d.doc_id, CAST(coalesce(cnt.n, 0) AS BIGINT) AS n_containers
FROM d LEFT JOIN cnt ON d.doc_id = cnt.doc_id
""",
)
def q_containment_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # CONTAINMENT dedup analysis (asymmetric Jaccard): per doc, how many
    # OTHER docs' word sets fully contain it — a doc contained elsewhere
    # is an excerpt/quote candidate that symmetric-Jaccard dedup misses
    # when sizes differ (high containment does NOT bound Jaccard when
    # |b| >> |a|, so symmetric LSH banding legitimately misses these).
    # Exact bounded form is the graded contract (the same small-N-oracle
    # rule as embedding_near_dup); the documented scale path blocks on
    # the SMALLER set's shingles (every shingle of a must appear in b,
    # so any single shingle of a is a lossless block key for full
    # containment — prefix filtering, the standard set-similarity-join
    # technique), keeping the asymmetric semantics without N².
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    d = docs.select(
        "doc_id",
        F.array_distinct(split_words("text")).alias("ws"),
    )
    a = d.select(F.col("doc_id").alias("id_a"), F.col("ws").alias("wa"))
    b = d.select(F.col("doc_id").alias("id_b"), F.col("ws").alias("wb"))
    pairs = (
        a.crossJoin(b)
        .filter(F.col("id_a") != F.col("id_b"))
        .filter(
            F.size(F.array_intersect("wa", "wb")) == F.size("wa")
        )
        .select(F.col("id_a").alias("doc_id"))
    )
    cnt = pairs.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    return d.join(cnt, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n", F.lit(0)).cast("long").alias("n_containers"),
    )


@_register(
    "containment_dedup_blocked",
    """
WITH d AS (
  SELECT doc_id, list_distinct(regexp_split_to_array(
    trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS ws
  FROM documents
), pairs AS (
  SELECT a.doc_id
  FROM d a JOIN d b ON a.doc_id <> b.doc_id
  WHERE len(list_intersect(a.ws, b.ws)) = len(a.ws)
), cnt AS (
  SELECT doc_id, count(*) AS n FROM pairs GROUP BY 1
)
SELECT d.doc_id, CAST(coalesce(cnt.n, 0) AS BIGINT) AS n_containers
FROM d LEFT JOIN cnt ON d.doc_id = cnt.doc_id
""",
)
def q_containment_dedup_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The SCALE path for containment dedup (VERDICT r8 #5 / r9 #3): the
    # SAME per-doc container counts as containment_dedup_counts but over
    # the WHOLE corpus — no id cap — via lossless prefix-filter blocking
    # (rarest-element block key + exact intersect verification,
    # operators/dedup.py:containment_pairs_blocked) instead of the N²
    # cross join. The oracle stays brute-force N², so the driver grade
    # itself proves blocked ≡ exact on every doc; the property test
    # (tests/test_properties.py) proves it on adversarial corpora.
    docs = _t(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        F.array_distinct(split_words("text")).alias("ws"),
    )
    pairs = dd.containment_pairs_blocked(d, "doc_id", "ws")
    cnt = pairs.groupBy(F.col("id_a").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return d.join(cnt, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n", F.lit(0)).cast("long").alias("n_containers"),
    )


@_register(
    "containment_near_pairs",
    """
WITH d AS (
  SELECT doc_id, list_distinct(regexp_split_to_array(
    trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS ws
  FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
  CAST(round(CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE)
             / len(a.ws), 6) AS DOUBLE) AS containment
FROM d a JOIN d b ON a.doc_id <> b.doc_id
WHERE CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE) >= 0.9 * len(a.ws)
""",
)
def q_containment_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # THRESHOLDED containment (|a∩b| >= 0.9·|a|): near-excerpt
    # detection — the general set-similarity-join form, via the same
    # lossless prefix-filter blocking with a k-element prefix
    # (k = |a| - ceil(0.9·|a|) + 1 rarest elements; pigeonhole: a
    # qualifying container cannot miss the whole prefix). Full corpus,
    # brute-force N² oracle — the grade itself proves lossless blocking
    # at threshold < 1. k derives from the SAME ceil expression the
    # verification comparison uses, so float rounding can never
    # under-block relative to what verification accepts.
    docs = _t(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        F.array_distinct(split_words("text")).alias("ws"),
    )
    pairs = dd.containment_pairs_blocked(d, "doc_id", "ws", threshold=0.9)
    return pairs.select(
        "id_a", "id_b", F.round("containment", 6).alias("containment")
    )


@_register(
    "nb_quality_classifier",
    """
WITH d AS (
  SELECT doc_id, lang = 'en' AS y, unnest(string_split(text, ' ')) AS tok
  FROM documents WHERE text IS NOT NULL),
tc AS (
  SELECT tok,
    count(*) FILTER (WHERE y) AS cp,
    count(*) FILTER (WHERE NOT y) AS cn
  FROM d GROUP BY 1),
tot AS (SELECT sum(cp) AS np, sum(cn) AS nn, count(*) AS v FROM tc),
pri AS (
  SELECT ln(CAST(count(*) FILTER (WHERE lang = 'en') AS DOUBLE)
            / count(*) FILTER (WHERE lang <> 'en')) AS b
  FROM documents WHERE text IS NOT NULL)
SELECT d.doc_id,
  CAST(count(*) AS BIGINT) AS n_tokens,
  CAST(round(sum(ln((CAST(tc.cp AS DOUBLE) + 1) / (tot.np + tot.v))
                 - ln((CAST(tc.cn AS DOUBLE) + 1) / (tot.nn + tot.v)))
             + max(pri.b), 6) AS DOUBLE) AS score,
  round(sum(ln((CAST(tc.cp AS DOUBLE) + 1) / (tot.np + tot.v))
            - ln((CAST(tc.cn AS DOUBLE) + 1) / (tot.nn + tot.v)))
        + max(pri.b), 6) > 0 AS pred
FROM d JOIN tc USING (tok) CROSS JOIN tot CROSS JOIN pri
GROUP BY 1
""",
)
def q_nb_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fastText-style linear BOW filter, self-trained in-plan (the
    # CCNet/LLaMA curation shape): naive-Bayes token log-odds vs the
    # lang='en' label, per-doc score + NB decision. On this synthetic
    # corpus the vocab is shared across langs so accuracy is near the
    # prior — the graded contract is the trained model's scores, which
    # are exact; on a real corpus the same plan separates languages /
    # quality tiers. See operators/text.py:nb_token_classifier_scores
    # for the 100 TB plan shape (1-row broadcast totals, token-key
    # model join, no global windows).
    d = _t(spark, sf_dir, "documents").withColumn(
        "_lab", F.col("lang") == "en"
    )
    return tx.nb_token_classifier_scores(d, "_lab")


@_register(
    "llm_corpus_pipeline",
    # Full SQL replay of the end-to-end curation chain; every stage's
    # fragment is the same one its individually-graded query uses.
    """
WITH w AS (
  SELECT doc_id, lang, text,
    regexp_split_to_array(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')
      AS words
  FROM documents
), scored AS (
  SELECT doc_id, lang, text, words, len(words) AS n_words FROM w
), quality AS (
  SELECT * FROM scored WHERE n_words >= 20 AND length(text) >= 100
), dedup1 AS (
  SELECT *, row_number() OVER (
      PARTITION BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
      ORDER BY doc_id) AS rn
  FROM quality
), d AS (
  SELECT doc_id, lang, n_words, words FROM dedup1 WHERE rn = 1
), train AS (
  SELECT * FROM d WHERE doc_id < 400 OR doc_id >= 450
), ew AS (
  SELECT words AS w FROM scored WHERE doc_id >= 400 AND doc_id < 450
), eg AS (
  SELECT DISTINCT unnest(list_distinct(
    [array_to_string(w[i:i+4], ' ') for i in range(1, greatest(len(w) - 4, 0) + 1)]
  )) AS gram FROM ew
), tg AS (
  SELECT doc_id, unnest(list_distinct(
    [array_to_string(words[i:i+4], ' ')
     for i in range(1, greatest(len(words) - 4, 0) + 1)]
  )) AS gram FROM train
), contaminated AS (
  SELECT DISTINCT tg.doc_id FROM tg JOIN eg ON tg.gram = eg.gram
), clean AS (
  SELECT t.doc_id, t.n_words FROM train t
  LEFT JOIN contaminated c ON t.doc_id = c.doc_id
  WHERE c.doc_id IS NULL
), packed AS (
  SELECT doc_id, n_words,
    (CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 32)
      * 1099511627776
    + CAST(floor(COALESCE(sum(n_words) OVER (
        PARTITION BY CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                     AS BIGINT) % 32
        ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        / 512.0) AS BIGINT) AS bin_id
  FROM clean
)
SELECT
  (SELECT CAST(count(*) AS BIGINT) FROM quality) AS n_quality,
  (SELECT CAST(count(*) AS BIGINT) FROM d) AS n_deduped,
  (SELECT CAST(count(*) AS BIGINT) FROM contaminated) AS n_contaminated,
  (SELECT CAST(count(*) AS BIGINT) FROM clean) AS kept_docs,
  (SELECT CAST(sum(n_words) AS BIGINT) FROM clean) AS total_tokens,
  (SELECT CAST(count(DISTINCT bin_id) AS BIGINT) FROM packed) AS n_bins
""",
)
def q_llm_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The flagship LLM-corpus chain END-TO-END, each stage the registered
    # scale operator: quality filter → exact dedup (keep-first) →
    # benchmark decontamination (5-gram overlap vs the eval slice,
    # gram-equi-join, never doc×doc) → sequence packing (md5-sharded
    # prefix-sum bins). Single-row audit: stage survivor counts + packed
    # bin count — the numbers a curation run reports to its training job.
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    n_words = F.size(split_words("text"))
    scored = docs.select("doc_id", "lang", "text", n_words.alias("n_words"))
    quality = scored.filter(
        (F.col("n_words") >= 20) & (F.length("text") >= 100)
    )
    # stage flags on ONE frame instead of re-deriving the lineage per
    # audit column — the naive 5-branch form re-scans documents five
    # times; this aggregates every stage count in ONE pass over the
    # staged frame (+ one more for the packing branch)
    ranked = quality.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy(
                F.md5(normalize_whitespace("text"))
            ).orderBy("doc_id")
        ),
    ).withColumn(
        "in_train",
        (F.col("rn") == 1)
        & ((F.col("doc_id") < 400) | (F.col("doc_id") >= 450)),
    )
    eval_set = docs.filter(
        (F.col("doc_id") >= 400) & (F.col("doc_id") < 450)
    )
    flagged = tx.contamination_flags(
        ranked.filter("in_train"), eval_set, n=5
    ).select("doc_id", F.lit(1).alias("is_contam"))
    # Pinned WITHOUT text (r16): staged feeds both the audit aggregate
    # and the packing branch — unpinned, the whole quality → dedup
    # window → contamination join pipeline planned (and shuffled)
    # twice. The pin carries only the per-doc decision columns (the
    # guide-§8 proxy-rows discipline: ids, counts, flags — never the
    # payload), so the materialization is rows × ~40 bytes while both
    # consumers read it for free.
    staged = (
        ranked.join(flagged, "doc_id", "left")
        .select("doc_id", "n_words", "rn", "in_train", "is_contam")
        .localCheckpoint(eager=True)
    )
    kept = F.col("in_train") & F.col("is_contam").isNull()
    audit = staged.agg(
        F.count(F.lit(1)).alias("n_quality"),
        F.sum((F.col("rn") == 1).cast("long")).alias("n_deduped"),
        F.sum(F.col("is_contam").isNotNull().cast("long")).alias(
            "n_contaminated"
        ),
        F.sum(kept.cast("long")).alias("kept_docs"),
        F.sum(F.when(kept, F.col("n_words"))).cast("long").alias(
            "total_tokens"
        ),
    )
    packed = tx.pack_documents(
        staged.filter(kept).select(
            "doc_id", F.col("n_words").alias("n_tokens")
        ),
        "doc_id", "n_tokens", target_tokens=512,
    )
    return audit.crossJoin(
        packed.agg(F.countDistinct("bin_id").alias("n_bins"))
    )


@_register(
    "weighted_sample_docs",
    """
WITH w AS (
  SELECT doc_id,
    len(regexp_split_to_array(
      trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS n_words,
    CAST(CAST('0x' || substr(md5('ws-v1_' || CAST(doc_id AS VARCHAR)), 1, 15)
         AS BIGINT) AS DOUBLE) AS ui
  FROM documents
), k AS (
  SELECT doc_id, n_words,
    round(ln((ui + 1) / 1152921504606846977.0)
          / greatest(1, n_words), 6) AS sample_key
  FROM w
)
SELECT doc_id, CAST(n_words AS BIGINT) AS n_words, sample_key FROM k
QUALIFY row_number() OVER (ORDER BY sample_key DESC, doc_id) <= 50
""",
)
def q_weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Weighted sampling WITHOUT replacement (Efraimidis-Spirakis A-Res,
    # public method): each doc draws key = u^(1/w) and the top-k keys
    # are the sample — here ranked by the monotone-equivalent ln(u)/w so
    # no engine evaluates pow (not IEEE-exactness-specified; ln + the
    # 6dp key rounding + doc_id tiebreak keep the selection stable
    # cross-engine). u derives from md5 — deterministic, repartition-
    # stable, replayable by the oracle — and w = word count, so longer
    # docs are proportionally likelier: the quality/length-weighted
    # subsample every curation pipeline draws. The top-k is
    # orderBy+limit, which Catalyst plans as TakeOrderedAndProject —
    # per-partition k-heaps then a k-row merge, never a global
    # row_number window funneling the corpus through one task.
    docs = _t(spark, sf_dir, "documents")
    n_words = F.size(split_words("text"))
    ui = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("ws-v1_"), F.col("doc_id").cast("string"))),
            1, 15,
        ),
        16, 10,
    ).cast("double")
    key = F.round(
        F.log((ui + 1) / F.lit(1152921504606846977.0))
        / F.greatest(F.lit(1), n_words).cast("double"),
        6,
    )
    return (
        docs.select(
            "doc_id",
            n_words.cast("long").alias("n_words"),
            key.alias("sample_key"),
        )
        .orderBy(F.desc("sample_key"), "doc_id")
        .limit(50)
    )


@_register(
    "mad_anomalies",
    """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, round(sum(value), 6) AS daily_value
  FROM events GROUP BY 1
), med AS (
  SELECT quantile_cont(daily_value, 0.5) AS m FROM daily
), mad AS (
  SELECT quantile_cont(abs(daily_value - med.m), 0.5) AS dev
  FROM daily, med
)
SELECT strftime(d, '%Y-%m-%d') AS d, daily_value,
  round((daily_value - m) / (1.4826 * dev), 6) AS robust_z
FROM daily, med, mad
WHERE dev > 0 AND abs(daily_value - m) > 1.5 * 1.4826 * dev
""",
)
def q_mad_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Robust anomaly detection: median absolute deviation instead of
    # mean/stddev, so a heavy outlier cannot inflate its own acceptance
    # band (the classic failure of plain z-scores). Two exact-median
    # passes (percentile interpolation identical cross-engine), scalars
    # broadcast back as 1-row joins; threshold 1.5 robust-z so small SFs
    # produce rows.
    e = _t(spark, sf_dir, "events").withColumn("d", F.to_date("ts"))
    daily = e.groupBy("d").agg(
        F.round(F.sum("value"), 6).alias("daily_value")
    )
    med = daily.agg(
        F.expr("percentile(daily_value, 0.5)").alias("m")
    )
    mad = daily.crossJoin(F.broadcast(med)).agg(
        F.expr("percentile(abs(daily_value - m), 0.5)").alias("dev")
    )
    return (
        daily.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(mad))
        # dev=0 (>=50% identical days) leaves robust-z undefined AND
        # the division is an ANSI abort on any non-median day — both
        # engines exclude the degenerate-scale case (r13)
        .filter(
            (F.col("dev") > 0)
            & (
                F.abs(F.col("daily_value") - F.col("m"))
                > 1.5 * 1.4826 * F.col("dev")
            )
        )
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("d"),
            "daily_value",
            F.round(
                (F.col("daily_value") - F.col("m"))
                / (1.4826 * F.col("dev")),
                6,
            ).alias("robust_z"),
        )
    )


@_register(
    "event_state_intervals",
    """
WITH s AS (
  SELECT user_id, ts, event_id, event_type,
    CASE WHEN lag(event_type) OVER (
        PARTITION BY user_id ORDER BY ts, event_id)
      IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg
  FROM events
), g AS (
  SELECT *, sum(chg) OVER (
      PARTITION BY user_id ORDER BY ts, event_id
      ROWS UNBOUNDED PRECEDING) AS island
  FROM s
)
SELECT user_id, event_type, CAST(island AS BIGINT) AS island,
  CAST(epoch_us(min(ts)) AS BIGINT) AS valid_from_us,
  CAST(epoch_us(max(ts)) AS BIGINT) AS last_seen_us,
  CAST(count(*) AS BIGINT) AS n_events
FROM g GROUP BY 1, 2, 3
""",
)
def q_event_state_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Gaps-and-islands / SCD2 historization: collapse each user's
    # CONSECUTIVE same-event_type run into one effective-dated interval
    # row (change flag via lag, island id via running sum of changes —
    # the standard decomposition; event_id tiebreak for timestamp ties).
    # This is how a change stream becomes a type-2 dimension: one
    # partition-local window pass + one group-by, no self-join.
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    chg = F.when(
        ~F.lag("event_type").over(w).eqNullSafe(F.col("event_type")), 1
    ).otherwise(0)
    g = e.select(
        "user_id", "ts", "event_id", "event_type", chg.alias("chg")
    ).withColumn(
        "island",
        F.sum("chg").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return g.groupBy(
        "user_id", "event_type", F.col("island").cast("long").alias("island")
    ).agg(
        F.min(F.unix_micros("ts")).alias("valid_from_us"),
        F.max(F.unix_micros("ts")).alias("last_seen_us"),
        F.count(F.lit(1)).alias("n_events"),
    )


@_register(
    "event_transitions",
    """
WITH s AS (
  SELECT user_id, event_type,
    lead(event_type) OVER (
      PARTITION BY user_id ORDER BY ts, event_id) AS next_type
  FROM events
)
SELECT event_type AS from_type, next_type AS to_type,
  CAST(count(*) AS BIGINT) AS n
FROM s WHERE next_type IS NOT NULL GROUP BY 1, 2
""",
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Per-user event-type transition matrix (first-order Markov counts) —
    # the path-analysis primitive behind "what do users do after X".
    # One lead window per user (event_id tiebreak for timestamp ties,
    # SURVEY §7.3 determinism rule), one count shuffle on the 5×5
    # transition key space.
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = e.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    )
    return (
        s.filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


@_register(
    "streaming_funnel_stages",
    """
WITH v AS (
  SELECT user_id, min(ts) AS t_v FROM events
  WHERE event_type = 'view' GROUP BY 1
), c AS (
  SELECT e.user_id, min(e.ts) AS t_c
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts > v.t_v
    AND e.ts <= v.t_v + INTERVAL 12 HOUR
  GROUP BY 1
), p AS (
  SELECT e.user_id, min(e.ts) AS t_p
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.t_c
    AND e.ts <= c.t_c + INTERVAL 48 HOUR
  GROUP BY 1
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM v) AS n_view_users,
  (SELECT CAST(count(*) AS BIGINT) FROM c) AS n_click_users,
  (SELECT CAST(count(*) AS BIGINT) FROM p) AS n_purchase_users
""",
)
def q_streaming_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The funnel as a STREAMING state machine (per-user 3-stamp
    # GroupState, O(distinct users) state): 3 event-time-ordered
    # micro-batches fold through `streaming.funnel`; final stage counts
    # must equal the batch funnel oracle exactly. Source is written
    # range-partitioned on ts (one file per trigger) — the arrival
    # contract an event-time-partitioned ingest provides.
    import tempfile

    from .sources.readers import load_table
    from .streaming.funnel import run_streaming_funnel

    src = tempfile.mkdtemp(prefix="funnel_src_")
    ev = load_table(spark, sf_dir, "events").select(
        "ts", "user_id", "event_type"
    )
    # one slice per trigger, written SEQUENTIALLY so file modification
    # times force the stream to process them in event-time order (a
    # parallel multi-file write can land part-00002 first and the file
    # source orders by mtime — observed as a missed-stage flake)
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    cuts = [lo + (hi - lo) * i / 3 for i in (1, 2)]
    slices = [
        ev.filter(F.col("ts") < cuts[0]),
        ev.filter((F.col("ts") >= cuts[0]) & (F.col("ts") < cuts[1])),
        ev.filter(F.col("ts") >= cuts[1]),
    ]
    for s in slices:
        s.coalesce(1).sortWithinPartitions("ts").write.mode(
            "append"
        ).parquet(src)
    stages = run_streaming_funnel(
        spark, src, tempfile.mkdtemp(prefix="funnel_ckpt_"),
        table_name="t_funnel_graded",
    )
    return stages.agg(
        F.sum((F.col("stage") >= 1).cast("long")).alias("n_view_users"),
        F.sum((F.col("stage") >= 2).cast("long")).alias("n_click_users"),
        F.sum((F.col("stage") >= 3).cast("long")).alias("n_purchase_users"),
    )


@_register(
    "rolling_wau_sketch",
    # HLL estimates are engine-specific (SURVEY §7.3 trap 7): the exact
    # window distinct and the sketch's error-bound boolean are graded;
    # the sketch is deterministic so the boolean is stable.
    """
WITH du AS (
  SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
), days AS (
  SELECT DISTINCT d FROM du
), wau AS (
  SELECT days.d, count(DISTINCT du.user_id) AS wau_exact
  FROM days JOIN du ON du.d > days.d - 7 AND du.d <= days.d
  GROUP BY 1
)
SELECT strftime(d, '%Y-%m-%d') AS day,
  CAST(wau_exact AS BIGINT) AS wau_exact, TRUE AS approx_ok
FROM wau
""",
)
def q_rolling_wau_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The 100 TB form of rolling WAU: per-day HLL sketches (built once,
    # incrementally mergeable — `plans.incremental`) merged over each
    # trailing 7-day window, so window distincts never re-scan the fact
    # table. Graded: exact WAU stays oracle-checked; the sketch estimate
    # must land within 5% + 1 of it (HLL at default lgConfigK=12 is
    # ~1.6% rsd; the bound is 3x that).
    from .plans import incremental as inc

    e = _t(spark, sf_dir, "events")
    est = inc.rolling_uniques_from_sketches(
        inc.daily_uniques_sketch(e), window_days=7
    ).select(
        F.col("event_date").alias("day"),
        "approx_window_users",
    )
    du = e.select(F.to_date("ts").alias("d"), "user_id").distinct()
    days = du.select("d").distinct()
    contrib = du.select(
        F.explode(F.sequence(F.col("d"), F.date_add("d", 6))).alias("d"),
        "user_id",
    )
    exact = (
        contrib.join(days, "d", "left_semi")
        .groupBy("d")
        .agg(F.countDistinct("user_id").alias("wau_exact"))
        .select(F.date_format("d", "yyyy-MM-dd").alias("day"), "wau_exact")
    )
    return exact.join(est, "day").select(
        "day",
        F.col("wau_exact").cast("long").alias("wau_exact"),
        (
            F.abs(F.col("approx_window_users") - F.col("wau_exact"))
            <= 0.05 * F.col("wau_exact") + 1
        ).alias("approx_ok"),
    )


@_register(
    "fuzzy_name_match",
    # Brute-force all-pairs Levenshtein oracle vs the engine's
    # deletion-variant blocking — the hash match PROVES the blocking is
    # lossless for distance <= 1 (same grading pattern as the simhash
    # Hamming-block oracle).
    """
WITH c AS (
  SELECT c_custkey, c_name FROM customer WHERE c_custkey < 300
), p AS (
  SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
  FROM c a JOIN c b ON a.c_custkey < b.c_custkey
  WHERE levenshtein(a.c_name, b.c_name) <= 1
), sym AS (
  SELECT id_a AS id FROM p UNION ALL SELECT id_b FROM p
), cnt AS (
  SELECT id, count(*) AS n FROM sym GROUP BY 1
)
SELECT c.c_custkey, CAST(coalesce(cnt.n, 0) AS BIGINT) AS n_near_matches
FROM c LEFT JOIN cnt ON c.c_custkey = cnt.id
""",
)
def q_fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Fuzzy string matching (data-cleaning staple): per customer, how
    # many other customers sit within edit distance 1 of their name.
    # The engine side blocks via SymSpell deletion variants (equi-join,
    # never N² — `dedup.edit_distance_pairs`); the oracle brute-forces
    # every pair, so a single lost candidate breaks the hash.
    c = _t(spark, sf_dir, "customer").filter(
        F.col("c_custkey") < 300
    ).select("c_custkey", "c_name")
    pairs = dd.edit_distance_pairs(c, "c_name", "c_custkey")
    sym = pairs.select(F.col("id_a").alias("id")).unionAll(
        pairs.select(F.col("id_b").alias("id"))
    )
    cnt = sym.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    return c.join(cnt, c.c_custkey == cnt.id, "left").select(
        "c_custkey",
        F.coalesce("n", F.lit(0)).cast("long").alias("n_near_matches"),
    )


@_register(
    "entity_resolution_groups",
    """
WITH RECURSIVE
c AS (SELECT c_custkey, c_name, c_nationkey FROM customer
  WHERE c_custkey < 300),
pairs AS (
  SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
  FROM c a, c b WHERE a.c_custkey < b.c_custkey
    AND a.c_nationkey = b.c_nationkey
    AND levenshtein(a.c_name, b.c_name) <= 1),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs),
reach(id, label) AS (
  SELECT c_custkey, c_custkey FROM c
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id),
grp AS (SELECT id, min(label) AS entity_id FROM reach GROUP BY id),
sz AS (SELECT entity_id, count(*) AS entity_size FROM grp GROUP BY 1)
SELECT CAST(grp.id AS BIGINT) AS c_custkey,
  CAST(grp.entity_id AS BIGINT) AS entity_id,
  CAST(sz.entity_size AS BIGINT) AS entity_size
FROM grp JOIN sz ON sz.entity_id = grp.entity_id
""",
)
def q_entity_resolution_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    # End-to-end entity resolution: SymSpell deletion-variant blocking
    # (equi-join candidates, never N² — dedup.edit_distance_pairs) →
    # exact levenshtein verify → connected components →
    # canonical entity id + entity size per record. The composition the
    # record-linkage chain actually ships; the oracle brute-forces the
    # pairs AND the transitive closure (recursive CTE), so one lost
    # candidate or one wrong merge breaks the hash. All-integer output.
    # match predicate = same nation AND edit<=1: unscoped, TPC-H's
    # sequential names chain ALL 300 records into ONE entity (probed —
    # a degenerate graded surface); nation-scoped yields 200 entities,
    # 158 records in multi-record entities, both branches real
    c = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < 300)
        .select("c_custkey", "c_name", "c_nationkey")
    )
    raw = dd.edit_distance_pairs(
        c.select("c_custkey", "c_name"), "c_name", "c_custkey"
    )
    nk = c.select("c_custkey", "c_nationkey")
    pairs = (
        raw.join(
            nk.select(
                F.col("c_custkey").alias("id_a"),
                F.col("c_nationkey").alias("_na"),
            ),
            "id_a",
        )
        .join(
            nk.select(
                F.col("c_custkey").alias("id_b"),
                F.col("c_nationkey").alias("_nb"),
            ),
            "id_b",
        )
        .filter(F.col("_na") == F.col("_nb"))
        .select("id_a", "id_b")
    )
    cc = dd.connected_components(
        c.select(F.col("c_custkey").alias("id")),
        pairs,
        id_col="id",
    )
    sz = cc.groupBy("group_id").agg(
        F.count(F.lit(1)).alias("entity_size")
    )
    return cc.join(F.broadcast(sz), "group_id").select(
        F.col("id").cast("long").alias("c_custkey"),
        F.col("group_id").cast("long").alias("entity_id"),
        F.col("entity_size").cast("long").alias("entity_size"),
    )


@_register(
    "funnel_conversion",
    """
WITH v AS (
  SELECT user_id, min(ts) AS t_v FROM events
  WHERE event_type = 'view' GROUP BY 1
), c AS (
  SELECT e.user_id, min(e.ts) AS t_c
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts > v.t_v
    AND e.ts <= v.t_v + INTERVAL 12 HOUR
  GROUP BY 1
), p AS (
  SELECT e.user_id, min(e.ts) AS t_p
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.t_c
    AND e.ts <= c.t_c + INTERVAL 48 HOUR
  GROUP BY 1
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM v) AS n_view_users,
  (SELECT CAST(count(*) AS BIGINT) FROM c) AS n_click_users,
  (SELECT CAST(count(*) AS BIGINT) FROM p) AS n_purchase_users,
  CASE WHEN (SELECT count(*) FROM v) > 0
    THEN round((SELECT count(*) FROM c)
               / CAST((SELECT count(*) FROM v) AS DOUBLE), 6) END
    AS click_rate,
  CASE WHEN (SELECT count(*) FROM c) > 0
    THEN round((SELECT count(*) FROM p)
               / CAST((SELECT count(*) FROM c) AS DOUBLE), 6) END
    AS purchase_rate
""",
)
def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Ordered-funnel analysis (view → click within 12h → purchase within
    # 48h of the click), the product-analytics staple: each stage is a
    # per-user min-timestamp aggregate JOINED to the prior stage with the
    # ordering constraint as a join filter — fully decorrelated, no
    # per-user sequence scan, three equi-shuffles on user_id that AQE
    # coalesces. Stage tables shrink monotonically, so the later joins
    # broadcast at scale.
    e = _t(spark, sf_dir, "events")
    v = e.filter(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ts").alias("t_v")
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(
            (F.col("ts") > F.col("t_v"))
            & (F.col("ts") <= F.col("t_v") + F.expr("INTERVAL 12 HOURS"))
        )
        .groupBy("user_id").agg(F.min("ts").alias("t_c"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(
            (F.col("ts") > F.col("t_c"))
            & (F.col("ts") <= F.col("t_c") + F.expr("INTERVAL 48 HOURS"))
        )
        .groupBy("user_id").agg(F.min("ts").alias("t_p"))
    )
    nv = v.agg(F.count(F.lit(1)).alias("n_view_users"))
    nc = c.agg(F.count(F.lit(1)).alias("n_click_users"))
    np_ = p.agg(F.count(F.lit(1)).alias("n_purchase_users"))
    return nv.crossJoin(nc).crossJoin(np_).select(
        "n_view_users", "n_click_users", "n_purchase_users",
        F.when(
            F.col("n_view_users") > 0,
            F.round(F.col("n_click_users")
                    / F.col("n_view_users").cast("double"), 6),
        ).alias("click_rate"),
        F.when(
            F.col("n_click_users") > 0,
            F.round(F.col("n_purchase_users")
                    / F.col("n_click_users").cast("double"), 6),
        ).alias("purchase_rate"),
    )


@_register(
    "cohort_retention",
    """
WITH pur AS (
  SELECT user_id, CAST(ts AS DATE) AS d FROM events
  WHERE event_type = 'purchase'
), fp AS (
  SELECT user_id, min(d) AS cohort_date FROM pur GROUP BY 1
), ret AS (
  SELECT DISTINCT p.user_id
  FROM pur p JOIN fp f ON p.user_id = f.user_id
  WHERE p.d > f.cohort_date AND p.d <= f.cohort_date + 7
)
SELECT strftime(f.cohort_date, '%Y-%m-%d') AS cohort_date,
  CAST(count(*) AS BIGINT) AS n_users,
  CAST(count(r.user_id) AS BIGINT) AS retained_7d
FROM fp f LEFT JOIN ret r ON f.user_id = r.user_id
GROUP BY 1
""",
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    # First-purchase cohorts with 7-day repeat-purchase retention. The
    # correlated "purchased again within the window" becomes a self-join
    # of the (user, day) purchase projection against the per-user first
    # day — equi on user_id with the date window as residual — and the
    # retention flag is a LEFT join + count(non-null). Two equi-shuffles
    # on user_id (reused partitioning), one on cohort_date.
    pur = _t(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    ).select("user_id", F.to_date("ts").alias("d"))
    fp = pur.groupBy("user_id").agg(F.min("d").alias("cohort_date"))
    ret = (
        pur.join(fp, "user_id")
        .filter(
            (F.col("d") > F.col("cohort_date"))
            & (F.col("d") <= F.date_add("cohort_date", 7))
        )
        .select("user_id").distinct()
        .withColumn("retained", F.lit(1))
    )
    return (
        fp.join(ret, "user_id", "left")
        .groupBy(
            F.date_format("cohort_date", "yyyy-MM-dd").alias("cohort_date")
        )
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.count("retained").alias("retained_7d"),
        )
    )


@_register(
    "rolling_active_users",
    """
WITH du AS (
  SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
), days AS (
  SELECT DISTINCT d FROM du
), dau AS (
  SELECT d, count(*) AS dau FROM du GROUP BY 1
), wau AS (
  SELECT days.d, count(DISTINCT du.user_id) AS wau
  FROM days JOIN du ON du.d > days.d - 7 AND du.d <= days.d
  GROUP BY 1
)
SELECT strftime(dau.d, '%Y-%m-%d') AS day,
  CAST(dau.dau AS BIGINT) AS dau, CAST(wau.wau AS BIGINT) AS wau,
  round(dau.dau / CAST(wau.wau AS DOUBLE), 6) AS stickiness
FROM dau JOIN wau ON dau.d = wau.d
""",
)
def q_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DAU / 7-day rolling WAU / stickiness. The scale move: instead of a
    # days×activity range join (nested loop), each (day, user) activity
    # row EXPLODES into the ≤7 trailing window days it contributes to
    # (sequence + explode — linear fan-out, pure equi-shuffle on day),
    # then countDistinct per day; a semi-join against observed days drops
    # window days beyond the data range. Distinct-per-day input keeps the
    # fan-out at 7 × |distinct (day, user)|, not 7 × |events|.
    du = _t(spark, sf_dir, "events").select(
        F.to_date("ts").alias("d"), "user_id"
    ).distinct()
    days = du.select("d").distinct()
    contrib = du.select(
        F.explode(
            F.sequence(F.col("d"), F.date_add("d", 6))
        ).alias("d"),
        "user_id",
    )
    wau = (
        contrib.join(days, "d", "left_semi")
        .groupBy("d")
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    dau = du.groupBy("d").agg(F.count(F.lit(1)).alias("dau"))
    return dau.join(wau, "d").select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.col("dau").cast("long").alias("dau"),
        F.col("wau").cast("long").alias("wau"),
        F.round(F.col("dau") / F.col("wau").cast("double"), 6).alias(
            "stickiness"
        ),
    )


# ---------------------------------------------------------------------------
# LLM corpus preparation: chunking, packing, curation pipeline
# ---------------------------------------------------------------------------
@_register(
    "document_chunks",
    """
WITH w AS (
  SELECT doc_id, regexp_split_to_array(
    trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS words
  FROM documents
), c AS (
  SELECT doc_id, words,
    greatest(1, CAST(ceil((len(words) - 16) / 48.0) AS BIGINT)) AS nc
  FROM w
), e AS (
  SELECT doc_id, words, unnest(range(0, nc)) AS i FROM c
)
SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
  array_to_string(words[i*48+1 : i*48+64], ' ') AS chunk_text,
  CAST(len(words[i*48+1 : i*48+64]) AS BIGINT) AS chunk_tokens
FROM e
""",
)
def q_document_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 64-word chunks, 16-word overlap (stride 48).
    return tx.chunk_documents(
        _t(spark, sf_dir, "documents"), chunk_size=64, overlap=16
    )


@_register(
    "sequence_packing",
    """
WITH t AS (
  SELECT doc_id, len(regexp_split_to_array(
    trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS n_tokens,
    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 32
      AS shard
  FROM documents
), b AS (
  SELECT doc_id, n_tokens,
    shard * 1099511627776 + CAST(floor(COALESCE(sum(n_tokens) OVER (
      PARTITION BY shard ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 512.0) AS BIGINT)
      AS bin_id
  FROM t
)
SELECT bin_id, CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(n_tokens) AS BIGINT) AS bin_tokens
FROM b GROUP BY 1
""",
)
def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Prefix-sum packing into ~512-token bins (md5-sharded default, bins
    # unique as shard*2^40 + local bin); per-bin fill stats.
    docs = _t(spark, sf_dir, "documents")
    with_tokens = docs.select(
        "doc_id", F.size(split_words("text")).alias("n_tokens")
    )
    packed = tx.pack_documents(with_tokens, "doc_id", "n_tokens", target_tokens=512)
    return packed.groupBy("bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("bin_tokens"),
    )


@_register(
    "corpus_curation",
    """
WITH w AS (
  SELECT doc_id, lang, text,
    regexp_split_to_array(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')
      AS words
  FROM documents
), scored AS (
  SELECT doc_id, lang, text, len(words) AS n_words FROM w
), quality AS (
  SELECT * FROM scored WHERE n_words >= 20 AND length(text) >= 100
), deduped AS (
  SELECT *, row_number() OVER (
      PARTITION BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
      ORDER BY doc_id) AS rn
  FROM quality
)
SELECT lang, CAST(count(*) AS BIGINT) AS kept_docs,
  CAST(sum(n_words) AS BIGINT) AS total_tokens
FROM deduped WHERE rn = 1 GROUP BY 1
""",
)
def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The end-to-end curation pipeline every training corpus runs:
    # quality filter → exact dedup (keep lowest id) → per-language token
    # budget. Composed from the same operators registered individually.
    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", "lang", "text",
        F.size(split_words("text")).alias("n_words"),
    )
    quality = scored.filter(
        (F.col("n_words") >= 20) & (F.length("text") >= 100)
    )
    deduped = dd.dedup_by_key(
        quality.withColumn(
            "content_hash",
            F.md5(normalize_whitespace("text")),
        ),
        ["content_hash"], "doc_id",
    )
    return deduped.groupBy("lang").agg(
        F.count(F.lit(1)).alias("kept_docs"),
        F.sum("n_words").cast("long").alias("total_tokens"),
    )


@_register(
    "corpus_curation_near_dup",
    # Full SQL replay of the near-dup curation chain: quality filter →
    # exact dedup → minhash(8)/band(2) LSH candidates → word-set Jaccard
    # ≥ 0.8 verify → transitive-closure components (recursive CTE) →
    # canonical doc per group → greedy per-lang 400-token budget.
    """
WITH RECURSIVE
w AS (
  SELECT doc_id, lang, text,
    regexp_split_to_array(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')
      AS words
  FROM documents
), scored AS (
  SELECT doc_id, lang, text, len(words) AS n_words, words FROM w
), quality AS (
  SELECT * FROM scored WHERE n_words >= 20 AND length(text) >= 100
), dedup1 AS (
  SELECT *, row_number() OVER (
      PARTITION BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
      ORDER BY doc_id) AS rn
  FROM quality
), d AS (
  SELECT doc_id, lang, n_words, list_distinct(words) AS ws
  FROM dedup1 WHERE rn = 1
), shing AS (
  SELECT doc_id, unnest(ws) AS shingle FROM d
), sigs AS (
  SELECT doc_id,
    min(md5('0_' || shingle)) AS sig_0, min(md5('1_' || shingle)) AS sig_1,
    min(md5('2_' || shingle)) AS sig_2, min(md5('3_' || shingle)) AS sig_3,
    min(md5('4_' || shingle)) AS sig_4, min(md5('5_' || shingle)) AS sig_5,
    min(md5('6_' || shingle)) AS sig_6, min(md5('7_' || shingle)) AS sig_7
  FROM shing GROUP BY doc_id
), bands AS (
  SELECT doc_id AS id, 0 AS band, concat_ws('|', sig_0, sig_1) AS band_key FROM sigs
  UNION ALL SELECT doc_id, 1, concat_ws('|', sig_2, sig_3) FROM sigs
  UNION ALL SELECT doc_id, 2, concat_ws('|', sig_4, sig_5) FROM sigs
  UNION ALL SELECT doc_id, 3, concat_ws('|', sig_6, sig_7) FROM sigs
), cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
  WHERE a.id < b.id
), pairs AS (
  SELECT c.id_a, c.id_b
  FROM cand c
  JOIN d da ON da.doc_id = c.id_a
  JOIN d db ON db.doc_id = c.id_b
  WHERE len(list_intersect(da.ws, db.ws))
      / CAST(len(list_distinct(da.ws || db.ws)) AS DOUBLE) >= 0.8
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
), reach(id, label) AS (
  SELECT doc_id, doc_id FROM d
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id
), groups AS (
  SELECT id, min(label) AS group_id FROM reach GROUP BY id
), canon AS (
  SELECT d.* FROM d JOIN groups g ON g.id = d.doc_id
  WHERE g.group_id = d.doc_id
), budgeted AS (
  SELECT *, sum(n_words) OVER (PARTITION BY lang ORDER BY doc_id
      ROWS UNBOUNDED PRECEDING) AS cum
  FROM canon
)
SELECT lang, CAST(count(*) AS BIGINT) AS kept_docs,
  CAST(sum(n_words) AS BIGINT) AS total_tokens
FROM budgeted WHERE cum - n_words < 400 GROUP BY 1
""",
)
def q_corpus_curation_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # VERDICT r7 #5: the curation chain a real trainer runs — after exact
    # dedup, near-dup via minhash-LSH (word-ORDER variants share a word
    # set, so they slip past the content hash and land at Jaccard 1.0),
    # resolved to components, one canonical doc kept per group, then a
    # greedy per-lang token budget (keep docs, lowest id first, while the
    # tokens consumed before each doc stay under budget). Every stage is
    # the registered scale operator: LSH banding (equi-join, never N²),
    # shape-adaptive connected components, window cumsum.
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", "lang", "text",
        F.size(split_words("text")).alias("n_words"),
    )
    quality = scored.filter(
        (F.col("n_words") >= 20) & (F.length("text") >= 100)
    )
    deduped = dd.dedup_by_key(
        quality.withColumn(
            "content_hash",
            F.md5(normalize_whitespace("text")),
        ),
        ["content_hash"], "doc_id",
    )
    pairs = dd.minhash_lsh_pairs(
        deduped, "text", "doc_id",
        num_hashes=8, band_size=2, jaccard_threshold=0.8,
    ).select("id_a", "id_b")
    groups = dd.connected_components(
        deduped.select("doc_id"), pairs, id_col="doc_id"
    )
    canon = deduped.join(
        groups.filter(F.col("id") == F.col("group_id")).select(
            F.col("id").alias("doc_id")
        ),
        "doc_id",
    )
    cum = F.sum("n_words").over(
        Window.partitionBy("lang").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    kept = canon.withColumn("cum", cum).filter(
        F.col("cum") - F.col("n_words") < 400
    )
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("kept_docs"),
        F.sum("n_words").cast("long").alias("total_tokens"),
    )


@_register(
    "approx_distinct_users",
    # HLL++ estimates are engine-specific; the exact per-group distinct
    # count and the sketch's advertised error bound are not. The sketch
    # is deterministic, so the boolean is stable.
    """
SELECT event_type,
  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_exact,
  TRUE AS approx_ok
FROM events GROUP BY event_type
""",
)
def q_approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The documented 100 TB swap-in for countDistinct: HLL++ with rsd
    # 0.02, graded against the exact count computed in the same
    # aggregate (3x rsd + 1 slack; exact distinct stays oracle-checked).
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("n_users_exact"),
        F.approx_count_distinct("user_id", 0.02).alias("_a"),
    ).select(
        "event_type",
        "n_users_exact",
        (
            F.abs(F.col("_a") - F.col("n_users_exact"))
            <= 0.06 * F.col("n_users_exact") + 1
        ).alias("approx_ok"),
    )


@_register(
    "gopher_quality_flags",
    """
WITH w AS (
  SELECT doc_id,
    regexp_split_to_array(
      trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS words,
    length(replace(
      trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ', '')) AS nl
  FROM documents
), m AS (
  SELECT doc_id, len(words) AS n_words,
    nl / CAST(len(words) AS DOUBLE) AS mwl,
    len(list_filter(words, x -> regexp_matches(x, '[a-z]'))) AS n_alpha,
    len(list_intersect(list_distinct(words),
        ['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with']))
      AS stop_hits
  FROM w
)
SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
  n_words >= 50 AND n_words <= 100000 AS word_count_ok,
  mwl >= 3.0 AND mwl <= 10.0 AS mean_word_len_ok,
  n_alpha >= 0.8 * n_words AS alpha_ratio_ok,
  stop_hits >= 2 AS stopword_ok,
  (n_words >= 50 AND n_words <= 100000) AND (mwl >= 3.0 AND mwl <= 10.0)
    AND (n_alpha >= 0.8 * n_words) AND (stop_hits >= 2) AS keep
FROM m
""",
)
def q_gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Published Gopher filter rules (Rae et al. 2021 App. A1.1) as
    # per-doc booleans + combined keep: pure projection, no shuffle,
    # every rule replayed verbatim by the oracle.
    return tx.gopher_quality_flags(_t(spark, sf_dir, "documents"))


@_register(
    "pii_redaction",
    """
SELECT doc_id,
  CAST(len(regexp_extract_all(text,
    '([A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,})')) AS BIGINT) AS n_email,
  CAST(len(regexp_extract_all(text,
    '(\\+?[0-9][0-9()\\-\\s]{7,}[0-9])')) AS BIGINT) AS n_phone,
  CAST(len(regexp_extract_all(text,
    '(\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b)')) AS BIGINT) AS n_ipv4,
  regexp_replace(regexp_replace(regexp_replace(text,
    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
    '\\+?[0-9][0-9()\\-\\s]{7,}[0-9]', '<PHONE>', 'g'),
    '\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b', '<IPV4>', 'g') AS redacted_text
FROM documents
""",
)
def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    # PII scrubbing with per-doc audit counts; replacement order matches
    # the oracle exactly (email -> phone -> ipv4).
    return tx.redact_pii(_t(spark, sf_dir, "documents"))


@_register(
    "repetition_scores",
    """
WITH w AS (
  SELECT doc_id, regexp_split_to_array(
    trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS words
  FROM documents
), g AS (
  SELECT doc_id,
    array_to_string(words[i : i+2], ' ') AS gram
  FROM w, LATERAL (SELECT unnest(range(1, greatest(len(words) - 2, 0) + 1)) AS i) t
), pg AS (
  SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2
)
SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
  CAST(max(c) AS BIGINT) AS top_gram_count,
  max(c) / CAST(sum(c) AS DOUBLE) AS top_gram_ratio
FROM pg GROUP BY 1
""",
)
def q_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Gopher-style repetition signal: top trigram share per document.
    return tx.repetition_scores(_t(spark, sf_dir, "documents"), n=3)


@_register(
    "tfidf_top_terms",
    """
WITH words AS (
  SELECT doc_id, unnest(regexp_split_to_array(
    trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM words GROUP BY 1, 2
), df AS (
  SELECT term, count(*) AS df FROM tf GROUP BY 1
), n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
    tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df) AS tfidf
  FROM tf JOIN df USING (term), n
)
SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
  tfidf, CAST(rank AS BIGINT) AS rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term)
    AS rank
  FROM scored
) t WHERE rank <= 1
""",
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Per-doc most distinctive term; classic text-analysis aggregate.
    return tx.tfidf_top_terms(_t(spark, sf_dir, "documents"), k=1)


@_register(
    "key_skew_metrics",
    """
WITH per_key AS (
  SELECT user_id, count(*) AS n FROM events GROUP BY 1
)
SELECT CAST(count(*) AS BIGINT) AS n_keys,
  CAST(min(n) AS BIGINT) AS min_rows,
  median(n) AS p50_rows,
  quantile_cont(n, 0.99) AS p99_rows,
  CAST(max(n) AS BIGINT) AS max_rows,
  max(n) / (round(sum(n), 6) / count(n)) AS skew_factor
FROM per_key
""",
)
def q_key_skew_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Operability diagnostic: per-key cardinality distribution + skew
    # factor (max/mean) — the number that says whether a join on this key
    # needs salting/AQE-splitting before you run it at scale.
    e = _t(spark, sf_dir, "events")
    per_key = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    return per_key.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.min("n").cast("long").alias("min_rows"),
        F.median("n").alias("p50_rows"),
        F.percentile("n", 0.99).alias("p99_rows"),
        F.max("n").cast("long").alias("max_rows"),
        (F.max("n") / agg.det_mean("n")).alias("skew_factor"),
    )


@_register(
    "fuzzy_name_pairs",
    """
SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
  CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS edit_distance
FROM customer a, customer b
WHERE a.c_custkey < b.c_custkey AND a.c_custkey < 60 AND b.c_custkey < 60
  AND levenshtein(a.c_name, b.c_name) <= 2
""",
)
def q_fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Fuzzy matching by edit distance (the string-similarity cousin of the
    # n-gram dedup family). Quadratic path capped by id; the scale path
    # for fuzzy dedup is the LSH/ngram bucketing in operators.dedup.
    c = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") < 60)
    a = c.select(F.col("c_custkey").alias("id_a"), F.col("c_name").alias("name_a"))
    b = c.select(F.col("c_custkey").alias("id_b"), F.col("c_name").alias("name_b"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("edit_distance", F.levenshtein("name_a", "name_b").cast("long"))
        .filter(F.col("edit_distance") <= 2)
        .select("id_a", "id_b", "edit_distance")
    )


@_register(
    "value_rank_functions",
    """
WITH r AS (
  SELECT event_type, value,
    ntile(4) OVER w AS q,
    percent_rank() OVER w AS pr,
    cume_dist() OVER w AS cd
  FROM events WHERE value IS NOT NULL
  WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id))
SELECT event_type, CAST(q AS BIGINT) AS quartile,
  CAST(count(*) AS BIGINT) AS n,
  round(min(value), 6) AS lo, round(max(value), 6) AS hi,
  round(max(pr), 6) AS max_percent_rank,
  round(max(cd), 6) AS max_cume_dist
FROM r GROUP BY 1, 2
""",
)
def q_value_rank_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    # §2.8 ranking-window family parity: ntile / percent_rank /
    # cume_dist in one keyed window. ntile's bucket boundaries depend
    # on ROW ORDER, so the window orders by (value, event_id) — a total
    # order; value alone would make tied rows' buckets partitioning-
    # dependent and the hash compare flaky. percent_rank/cume_dist are
    # exact rationals of ranks — identical cross-engine. Output is the
    # bounded per-(type, quartile) summary, not 10k float rows. Scale
    # note: a per-type ranking window sorts each type's full partition;
    # the bucketed quantile forms (value_quartiles, group_p90) are the
    # 100 TB path — this query grades API parity.
    from pyspark.sql import Window

    # NULL values are filtered on BOTH sides: Spark ASC is NULLS FIRST,
    # DuckDB's is NULLS LAST — one NULL would shift every rank/bucket
    # in its partition (latent: testdata has no NULL values today)
    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    r = e.select(
        "event_type",
        "value",
        F.ntile(4).over(w).alias("q"),
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )
    return r.groupBy(
        "event_type", F.col("q").cast("long").alias("quartile")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.min("value"), 6).alias("lo"),
        F.round(F.max("value"), 6).alias("hi"),
        F.round(F.max("pr"), 6).alias("max_percent_rank"),
        F.round(F.max("cd"), 6).alias("max_cume_dist"),
    )


@_register(
    "value_quartiles",
    """
SELECT event_type,
  CAST(q AS BIGINT) AS quartile,
  CAST(count(*) AS BIGINT) AS n,
  min(value) AS q_min, max(value) AS q_max
FROM (
  SELECT event_type, value,
    ntile(4) OVER (PARTITION BY event_type ORDER BY value, event_id) AS q
  FROM events
) t GROUP BY 1, 2
""",
)
def q_value_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Ranking-function family (beyond the reference, which uses none):
    # ntile quartile assignment with a deterministic tiebreak, rolled up
    # to per-quartile bounds.
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return (
        e.withColumn("quartile", F.ntile(4).over(w).cast("long"))
        .groupBy("event_type", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("value").alias("q_min"),
            F.max("value").alias("q_max"),
        )
    )


@_register(
    "knn_topk_quantized",
    # int8 round-trip is deterministic double arithmetic — the oracle
    # replays quantize (round/clamp) + dequantize + cosine top-5 exactly,
    # term order matched to the Spark expressions so the floats agree.
    """
WITH base AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 200
), params AS (
  SELECT vec_id, v, list_min(v) AS vmin,
    CASE WHEN list_max(v) > list_min(v) THEN list_max(v) - list_min(v)
         ELSE 1.0 END AS scale
  FROM base
), deq AS (
  SELECT vec_id,
    list_transform(v,
      x -> (round((x - vmin) / scale * 255) - 128 + 128) / 255.0 * scale + vmin)
      AS emb
  FROM params
), deqnz AS (
  SELECT vec_id, emb FROM deq WHERE list_dot_product(emb, emb) > 0
), scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
    list_dot_product(q.emb, c.emb) /
      (sqrt(list_dot_product(q.emb, q.emb)) *
       sqrt(list_dot_product(c.emb, c.emb))) AS sim
  FROM deqnz q, deqnz c WHERE q.vec_id <> c.vec_id
)
SELECT query_id, neighbor_id, sim, CAST(rank AS BIGINT) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id)
    AS rank
  FROM scored
) t WHERE rank <= 5
""",
)
def q_knn_topk_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The memory-bounded ANN path: search over int8-quantized vectors
    # (4x smaller candidate store); quality floor pinned in tests (97%
    # top-3 agreement on this data).
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    deq = sim.dequantize_embeddings(sim.quantize_embeddings(emb))
    out = sim.knn_topk_exact(deq, "vec_id", "embedding", k=5)
    return out.select(
        "query_id", "neighbor_id", "sim",
        F.col("rank").cast("long").alias("rank"),
    )


@_register(
    "cleaning_rejects",
    """
WITH base AS (
  SELECT event_id, ts, user_id, lower(trim(event_type)) AS event_type,
         COALESCE(value, 0.0) AS value
  FROM events
  WHERE COALESCE(value, 0.0) >= 0 AND ts IS NOT NULL
    AND ts BETWEEN TIMESTAMP '2000-01-01' AND TIMESTAMP '2100-01-01'
), kept AS (
  SELECT event_id FROM (
    SELECT event_id, row_number() OVER (
      PARTITION BY user_id, event_type, CAST(ts AS DATE)
      ORDER BY ts, event_id) AS rn
    FROM base
  ) t WHERE rn = 1
)
SELECT e.event_type, CAST(count(*) AS BIGINT) AS n_rejected
FROM events e LEFT JOIN kept k ON e.event_id = k.event_id
WHERE k.event_id IS NULL
GROUP BY 1
""",
)
def q_cleaning_rejects(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Anti-join audit: which raw rows did the cleaner drop, by type —
    # the data-quality mirror of clean_events_pipeline. left_anti is the
    # one join type the reference never uses; at scale it shares the
    # cleaner's shuffle key.
    events = _t(spark, sf_dir, "events")
    kept = cl.clean_events(events).select("event_id")
    return (
        events.join(kept, "event_id", "left_anti")
        .groupBy(F.lower(F.trim("event_type")).alias("event_type"))
        .agg(F.count(F.lit(1)).alias("n_rejected"))
    )


@_register(
    "first_event_flags",
    """
SELECT event_type,
  CAST(count(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_first_events,
  CAST(count(*) AS BIGINT) AS n_events
FROM (
  SELECT event_type,
    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
) t GROUP BY 1
""",
)
def q_first_event_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The is_mint analog (clean_events.py:113-137 flags a token's
    # originating event): flag each user's first-ever event via a ranked
    # window, roll up by type. Same shuffle key as the cleaner's dedup.
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = e.withColumn("is_first", F.row_number().over(w) == 1)
    return flagged.groupBy("event_type").agg(
        F.count(F.when(F.col("is_first"), 1)).alias("n_first_events"),
        F.count(F.lit(1)).alias("n_events"),
    )


@_register(
    "event_cube_stats",
    """
SELECT event_type,
  CAST(isodow(ts) AS BIGINT) AS weekday,
  CAST(grouping(event_type) AS BIGINT) AS g_type,
  CAST(grouping(isodow(ts)) AS BIGINT) AS g_weekday,
  CAST(count(*) AS BIGINT) AS n_events,
  CAST(sum(CAST(value AS DECIMAL(22,8))) AS DOUBLE) AS total_value
FROM events WHERE value IS NOT NULL
GROUP BY CUBE (event_type, isodow(ts))
""",
)
def q_event_cube_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # CUBE over (event_type, ISO weekday): all four grouping-set slices in
    # ONE shuffle (Spark expands grouping sets map-side), vs four separate
    # aggregates + union — the same single-pass trick as order_status_rollup
    # but over the full lattice. grouping() flags disambiguate NULL-as-ALL
    # from genuine NULLs. ISO weekday via (dayofweek+5)%7+1 (Mon=1..Sun=7),
    # matching DuckDB isodow (FIXTURES.md weekday trap).
    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    iso = ((F.dayofweek("ts") + 5) % 7 + 1).cast("long")
    return (
        e.withColumn("weekday", iso)
        .cube("event_type", "weekday")
        .agg(
            F.grouping("event_type").cast("long").alias("g_type"),
            F.grouping("weekday").cast("long").alias("g_weekday"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(22,8)")).cast("double")
            .alias("total_value"),
        )
    )


@_register(
    "price_rank_dist",
    """
SELECT event_id, event_type, value,
  percent_rank() OVER w AS pct_rank,
  cume_dist() OVER w AS cum_dist,
  nth_value(value, 3) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND
                            UNBOUNDED FOLLOWING) AS third_lowest
FROM events WHERE value IS NOT NULL
WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
""",
)
def q_price_rank_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Distribution-rank window family (percent_rank / cume_dist /
    # nth_value) partitioned by event_type — keyed windows, never global,
    # deterministic tiebreak on event_id.
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return e.select(
        "event_id",
        "event_type",
        "value",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cum_dist"),
        F.nth_value("value", 3).over(w_full).alias("third_lowest"),
    )


@_register(
    "user_retention_sets",
    """
WITH h1 AS (
  SELECT DISTINCT user_id FROM events
  WHERE ts < TIMESTAMP '2024-01-16 00:00:00'
), h2 AS (
  SELECT DISTINCT user_id FROM events
  WHERE ts >= TIMESTAMP '2024-01-16 00:00:00'
)
SELECT
  CAST((SELECT count(*) FROM (SELECT * FROM h1 INTERSECT SELECT * FROM h2)) AS BIGINT)
    AS retained_users,
  CAST((SELECT count(*) FROM (SELECT * FROM h1 EXCEPT SELECT * FROM h2)) AS BIGINT)
    AS churned_users,
  CAST((SELECT count(*) FROM (SELECT * FROM h2 EXCEPT SELECT * FROM h1)) AS BIGINT)
    AS new_users
""",
)
def q_user_retention_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Set-operation family (INTERSECT / EXCEPT semantics): period-over-
    # period retention. Rather than three separate intersect/except jobs
    # (3 shuffles + 3 driver actions), one pass computes per-user period
    # flags and one aggregate classifies every user — single shuffle on
    # user_id, no driver-side set math; the INTERSECT/EXCEPT oracle proves
    # the flag-aggregate form is equivalent.
    e = _t(spark, sf_dir, "events")
    cut = F.lit("2024-01-16 00:00:00").cast("timestamp")
    flags = e.groupBy("user_id").agg(
        F.max((F.col("ts") < cut).cast("int")).alias("in_h1"),
        F.max((F.col("ts") >= cut).cast("int")).alias("in_h2"),
    )
    return flags.agg(
        F.count(F.when((F.col("in_h1") == 1) & (F.col("in_h2") == 1), 1))
        .alias("retained_users"),
        F.count(F.when((F.col("in_h1") == 1) & (F.col("in_h2") == 0), 1))
        .alias("churned_users"),
        F.count(F.when((F.col("in_h1") == 0) & (F.col("in_h2") == 1), 1))
        .alias("new_users"),
    )


@_register(
    "daily_stats_unpivot",
    """
WITH daily AS (
  SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS event_date,
    CAST(count(*) AS DOUBLE) AS n_events,
    CAST(sum(CAST(value AS DECIMAL(22,8))) AS DOUBLE) AS total_value,
    CAST(count(DISTINCT user_id) AS DOUBLE) AS unique_users
  FROM events GROUP BY 1
)
SELECT event_date, metric, metric_value
FROM daily
UNPIVOT (metric_value FOR metric IN (n_events, total_value, unique_users))
""",
)
def q_daily_stats_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Wide->long melt (UNPIVOT): the metrics-table shape every dashboard
    # export needs. Spark's unpivot is a zero-shuffle Expand over the
    # already-reduced daily table — rows fan out 3x but no exchange.
    e = _t(spark, sf_dir, "events")
    daily = e.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("event_date")
    ).agg(
        F.count(F.lit(1)).cast("double").alias("n_events"),
        F.sum(F.col("value").cast("decimal(22,8)")).cast("double")
        .alias("total_value"),
        F.countDistinct("user_id").cast("double").alias("unique_users"),
    )
    return daily.unpivot(
        "event_date",
        ["n_events", "total_value", "unique_users"],
        "metric",
        "metric_value",
    )


@_register(
    "embedding_covariance",
    """
WITH idx AS (SELECT CAST(unnest(range(64)) AS INTEGER) AS i),
x AS (
  SELECT e.vec_id, i.i, CAST(e.embedding[i.i + 1] AS DOUBLE) AS xi
  FROM embeddings e, idx i
  WHERE e.embedding IS NOT NULL AND len(e.embedding) = 64)
SELECT CAST(a.i AS BIGINT) AS i, CAST(b.i AS BIGINT) AS j,
  sum(a.xi * b.xi) / count(*) - avg(a.xi) * avg(b.xi) AS cov
FROM x a JOIN x b ON a.vec_id = b.vec_id
GROUP BY 1, 2
""",
)
def q_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Distributed feature covariance: ONE mapInPandas pass reduces each
    # Arrow batch to its d^2 sufficient statistics (numpy X^T X), the
    # groupBy collapses partials map-side, so the exchange carries
    # <= tasks*4096 rows however large the corpus — the sufficient
    # statistic for PCA/whitening (operators/decompose.py; the
    # eigenbasis itself is bounded 64x64 driver math, pytest-pinned).
    # cov = E[xy] - E[x]E[y] spelled identically in both engines so the
    # only cross-engine delta is float summation order (<< 6dp round).
    # The oracle's pair self-join is the N*d^2 shape this operator
    # exists to avoid.
    from .operators import decompose as dc

    emb = _t(spark, sf_dir, "embeddings")
    return dc.covariance_matrix(emb, "embedding", 64)


@_register(
    "jl_project_embeddings",
    """
WITH idx AS (SELECT CAST(unnest(range(64)) AS INTEGER) AS i),
cmp AS (SELECT CAST(unnest(range(16)) AS INTEGER) AS j),
sgn AS (
  SELECT i.i, c.j,
    CASE WHEN CAST(concat('0x', substr(md5(
        concat('jl-v1_', CAST(i.i AS VARCHAR), '_', CAST(c.j AS VARCHAR))
      ), 1, 8)) AS BIGINT) % 2 = 0
      THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END AS s
  FROM idx i, cmp c),
x AS (
  SELECT e.vec_id, i.i, CAST(e.embedding[i.i + 1] AS DOUBLE) AS xi
  FROM embeddings e, idx i
  WHERE e.embedding IS NOT NULL AND len(e.embedding) = 64)
SELECT x.vec_id, CAST(sgn.j AS BIGINT) AS comp,
  round(sum(x.xi * sgn.s) / 4.0, 6) AS val
FROM x JOIN sgn ON sgn.i = x.i
GROUP BY 1, 2
""",
)
def q_jl_project_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Johnson-Lindenstrauss 64->16 sign projection, GRADED end to end:
    # the +-1 matrix is md5-derived (python hashlib == engine md5), so
    # the oracle rebuilds the exact same constant and every projected
    # value hash-compares — the deterministic-reduction complement to
    # PCA (data-dependent eigenbasis, graded by invariants in pytest
    # instead). Spark side embeds the signs as 16 single-literal arrays:
    # each component is one codegen zip_with/aggregate dot per row — no
    # join, no per-row hashing, no Python
    # (operators/decompose.py:random_sign_projection). The oracle's
    # unnest join is the N*d*k blow-up the literal form avoids.
    from .operators import decompose as dc

    emb = _t(spark, sf_dir, "embeddings")
    return dc.random_sign_projection(emb, "embedding", 64, 16)


@_register(
    "embedding_array_stats",
    """
SELECT vec_id,
  CAST(len(embedding) AS BIGINT) AS dim,
  round(list_aggregate(list_transform(embedding,
    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'), 6) AS sq_norm,
  CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_positive,
  round(CAST(list_aggregate(embedding, 'sum') AS DOUBLE)
        / len(embedding), 6) AS mean_component
FROM embeddings
""",
)
def q_embedding_array_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Higher-order array functions on the vector column — transform /
    # filter / aggregate run INSIDE whole-stage codegen (no UDF, no Arrow
    # hop), which is why per-element math over 100 TB of embeddings stays
    # JVM-bound. Rounded to 6dp for cross-engine float parity.
    emb = _t(spark, sf_dir, "embeddings")
    vec = F.col("embedding")
    return emb.select(
        "vec_id",
        F.size(vec).cast("long").alias("dim"),
        F.round(
            F.aggregate(
                F.transform(vec, lambda x: x.cast("double") * x.cast("double")),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        ).alias("sq_norm"),
        F.size(F.filter(vec, lambda x: x > 0)).cast("long").alias("n_positive"),
        F.round(
            F.aggregate(
                vec, F.lit(0.0), lambda acc, x: acc + x.cast("double")
            ) / F.size(vec),
            6,
        ).alias("mean_component"),
    )


@_register(
    "price_rank_dist_scalable",
    """
SELECT event_id, event_type, value,
  percent_rank() OVER (PARTITION BY event_type ORDER BY value) AS pct_rank,
  cume_dist() OVER (PARTITION BY event_type ORDER BY value) AS cum_dist
FROM events WHERE value IS NOT NULL
""",
)
def q_price_rank_dist_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    # price_rank_dist's window partitions on event_type — a LOW-CARDINALITY
    # key, so at 100 TB each partition funnels through one task. This is
    # the scale re-expression: ranks depend only on per-(type, value)
    # counts, so aggregate those (full shuffle parallelism), prefix-sum
    # over the distinct-value table (a window over thousands of rows, not
    # billions), and broadcast-join the ranks back to the fact rows.
    # Deterministic under ties (rank/count semantics, no tiebreak needed);
    # the oracle is the plain window form — the hash match proves the
    # agg+join rewrite is exactly the window semantics.
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    counts = e.groupBy("event_type", "value").agg(
        F.count(F.lit(1)).alias("c")
    )
    w = Window.partitionBy("event_type").orderBy("value")
    totals = Window.partitionBy("event_type")
    ranked = counts.select(
        "event_type",
        "value",
        (F.coalesce(
            F.sum("c").over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ) + 1).alias("rank_start"),
        F.sum("c").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("cum_count"),
        F.sum("c").over(totals).alias("n_part"),
    ).select(
        "event_type",
        "value",
        # single-row partition: percent_rank() defines 0.0 where the
        # closed form would be 0/0 = NULL
        F.when(F.col("n_part") == 1, F.lit(0.0))
        .otherwise((F.col("rank_start") - 1) / (F.col("n_part") - 1))
        .alias("pct_rank"),
        (F.col("cum_count") / F.col("n_part")).alias("cum_dist"),
    )
    # no broadcast hint: the distinct-value table is usually tiny (AQE
    # will broadcast it), but for near-continuous value domains it can be
    # large and must stay a shuffle join — let the runtime stats decide
    return e.select("event_id", "event_type", "value").join(
        ranked, ["event_type", "value"]
    ).select("event_id", "event_type", "value", "pct_rank", "cum_dist")


@_register(
    "corpus_dedup_summary",
    f"""
WITH g AS ({_dedup_groups_oracle(16, 3, 300)})
SELECT CAST(count(*) AS BIGINT) AS n_docs,
  CAST(count(DISTINCT group_id) AS BIGINT) AS n_kept,
  CAST(count(*) - count(DISTINCT group_id) AS BIGINT) AS n_dropped,
  CAST(max(cnt) AS BIGINT) AS largest_group
FROM g JOIN (SELECT group_id AS gid, count(*) AS cnt FROM g GROUP BY 1) s
  ON g.group_id = s.gid
""",
)
def q_corpus_dedup_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    # End of the dedup pipeline: near-dup pairs -> groups -> keep one
    # canonical doc per group (min id), report retention. At corpus scale
    # the kept set is `filter(doc_id == group_id)` — no extra shuffle
    # beyond the components themselves.
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    pairs = dd.simhash_near_dup_pairs(
        _t(spark, sf_dir, "documents"), "text", "doc_id",
        bits=16, radius=3, max_id=300,
    )
    groups = dd.connected_components(
        docs.select("doc_id"), pairs, id_col="doc_id"
    )
    sizes = groups.groupBy("group_id").agg(F.count(F.lit(1)).alias("cnt"))
    return sizes.agg(
        F.sum("cnt").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        (F.sum("cnt") - F.count(F.lit(1))).cast("long").alias("n_dropped"),
        F.max("cnt").cast("long").alias("largest_group"),
    )


@_register(
    "contamination_flags",
    """
WITH tw AS (
  SELECT doc_id,
    regexp_split_to_array(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
  FROM documents WHERE doc_id < 400
), ew AS (
  SELECT doc_id,
    regexp_split_to_array(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
  FROM documents WHERE doc_id >= 400 AND doc_id < 450
), tg AS (
  SELECT doc_id, unnest(list_distinct(
    [array_to_string(w[i:i+4], ' ') for i in range(1, greatest(len(w) - 4, 0) + 1)]
  )) AS gram FROM tw
), eg AS (
  SELECT doc_id AS eval_id, unnest(list_distinct(
    [array_to_string(w[i:i+4], ' ') for i in range(1, greatest(len(w) - 4, 0) + 1)]
  )) AS gram FROM ew
)
SELECT tg.doc_id,
  CAST(count(DISTINCT tg.gram) AS BIGINT) AS n_shared_grams,
  CAST(count(DISTINCT eg.eval_id) AS BIGINT) AS n_eval_docs_hit
FROM tg JOIN eg ON tg.gram = eg.gram
GROUP BY 1
""",
)
def q_contamination_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Benchmark decontamination over the synthetic corpus: docs < 400 are
    # "training", docs 400-449 stand in for an eval benchmark.
    d = _t(spark, sf_dir, "documents")
    return tx.contamination_flags(
        d.filter(F.col("doc_id") < 400),
        d.filter((F.col("doc_id") >= 400) & (F.col("doc_id") < 450)),
        n=5,
    )


@_register(
    "value_band_peers",
    """
SELECT event_id, event_type, value,
  CAST(count(*) OVER (PARTITION BY event_type ORDER BY value
       RANGE BETWEEN 5.0 PRECEDING AND 5.0 FOLLOWING) AS BIGINT) AS n_band,
  round(CAST(sum(CAST(value AS DECIMAL(22,8))) OVER (
       PARTITION BY event_type ORDER BY value
       RANGE BETWEEN 5.0 PRECEDING AND 5.0 FOLLOWING) AS DOUBLE)
    / count(*) OVER (PARTITION BY event_type ORDER BY value
       RANGE BETWEEN 5.0 PRECEDING AND 5.0 FOLLOWING), 6) AS band_mean
FROM events
WHERE value IS NOT NULL AND event_type = 'purchase'
""",
)
def q_value_band_peers(spark: SparkSession, sf_dir: str) -> DataFrame:
    # VALUE-range window frame (RANGE BETWEEN n PRECEDING/FOLLOWING over a
    # numeric ordering, not time): peers within a +/-5.0 value band. The
    # frame is computed inside one keyed sort — no self-join, no per-row
    # re-scan. SQL-expression windows because the Python Window API only
    # accepts integer range bounds; the SQL planner takes doubles.
    band = ("OVER (PARTITION BY event_type ORDER BY value "
            "RANGE BETWEEN 5.0 PRECEDING AND 5.0 FOLLOWING)")
    e = _t(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & (F.col("event_type") == "purchase")
    )
    return e.select(
        "event_id",
        "event_type",
        "value",
        F.expr(f"CAST(count(*) {band} AS BIGINT)").alias("n_band"),
        # decimal frame sum: sliding-frame float accumulation differs
        # between engines at the 6th dp; decimal is order-exact
        F.expr(
            f"round(CAST(sum(CAST(value AS DECIMAL(22,8))) {band} AS DOUBLE)"
            f" / count(*) {band}, 6)"
        ).alias("band_mean"),
    )


@_register(
    "column_profile",
    """
SELECT 'value' AS column_name, CAST(count(*) AS BIGINT) AS n_rows,
  CAST(count(*) - count(value) AS BIGINT) AS n_nulls,
  CAST(count(DISTINCT value) AS BIGINT) AS n_distinct,
  printf('%.6f', min(value)) AS min_value,
  printf('%.6f', max(value)) AS max_value
FROM events
UNION ALL
SELECT 'user_id', CAST(count(*) AS BIGINT),
  CAST(count(*) - count(user_id) AS BIGINT),
  CAST(count(DISTINCT user_id) AS BIGINT),
  CAST(min(user_id) AS VARCHAR), CAST(max(user_id) AS VARCHAR)
FROM events
UNION ALL
SELECT 'event_type', CAST(count(*) AS BIGINT),
  CAST(count(*) - count(event_type) AS BIGINT),
  CAST(count(DISTINCT event_type) AS BIGINT),
  CAST(min(event_type) AS VARCHAR), CAST(max(event_type) AS VARCHAR)
FROM events
UNION ALL
SELECT 'ts', CAST(count(*) AS BIGINT),
  CAST(count(*) - count(ts) AS BIGINT),
  CAST(count(DISTINCT ts) AS BIGINT),
  strftime(min(ts), '%Y-%m-%d %H:%M:%S'),
  strftime(max(ts), '%Y-%m-%d %H:%M:%S')
FROM events
""",
)
def q_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DESCRIBE-style data-quality profile, ONE scan for all columns (the
    # oracle's UNION ALL form scans once per column — the Spark plan is
    # the point: multiple exact distincts fold into one Expand+aggregate).
    # user_id rides the string branch: long→string cast matches the
    # oracle's CAST(... AS VARCHAR) and min/max over longs stay numeric
    # before the cast.
    return agg.profile_columns(
        _t(spark, sf_dir, "events"),
        numeric_cols=["value"],
        string_cols=["event_type", "user_id"],
        ts_cols=["ts"],
    )


@_register(
    "group_p90_distributed",
    """
SELECT event_type, round(quantile_cont(value, 0.90), 6) AS p90
FROM events WHERE value IS NOT NULL
GROUP BY 1
""",
)
def q_group_p90_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Per-group EXACT p90 via the distributed bracket algorithm (no
    # per-group value buffering); the oracle is the plain buffered
    # quantile_cont — the hash match proves the 3-pass grouped selection
    # is bit-exact per group.
    out = agg.group_percentile_exact_distributed(
        _t(spark, sf_dir, "events"), "event_type", "value", 0.90
    )
    return out.select("event_type", F.round("p_value", 6).alias("p90"))


@_register(
    "media_knn_pipeline",
    # Full replay in SQL: the synthesized PNG/GIF/BMP/JPEG/WebP header
    # bytes are a pure function of doc_id (same format_string formulas),
    # the feature stage is the 8-bucket byte histogram as raw float64
    # count/total, and the cosine top-3 reuses the hash-green knn shape.
    """
WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 60),
hexes AS (
  SELECT doc_id,
    CASE doc_id % 5
      WHEN 0 THEN '89504e470d0a1a0a' || '0000000d' || '49484452'
        || printf('%08x', (doc_id % 640) + 16)
        || printf('%08x', (doc_id % 480) + 16) || '0802'
      WHEN 1 THEN '474946383961'
        || printf('%02x%02x', ((doc_id % 640) + 16) % 256,
                  ((doc_id % 640) + 16) // 256)
        || printf('%02x%02x', ((doc_id % 480) + 16) % 256,
                  ((doc_id % 480) + 16) // 256)
        || repeat('00', 16)
      WHEN 2 THEN '424d' || repeat('00', 12) || '28000000'
        || printf('%02x%02x', ((doc_id % 640) + 16) % 256,
                  ((doc_id % 640) + 16) // 256) || '0000'
        || printf('%02x%02x', ((doc_id % 480) + 16) % 256,
                  ((doc_id % 480) + 16) // 256) || '0000'
        || '0100' || '1800'
      WHEN 3 THEN 'ffd8' || 'ffe0' || '0010' || '4a46494600' || '0101'
        || '00' || '0001' || '0001' || '0000' || 'ffc0' || '0011' || '08'
        || printf('%04x', (doc_id % 480) + 16)
        || printf('%04x', (doc_id % 640) + 16)
        || '03' || '011100' || '021101' || '031101'
      ELSE '52494646' || '16000000' || '57454250' || '56503820'
        || '0a000000' || '000000' || '9d012a'
        || printf('%02x%02x', ((doc_id % 640) + 16) % 256,
                  ((doc_id % 640) + 16) // 256)
        || printf('%02x%02x', ((doc_id % 480) + 16) % 256,
                  ((doc_id % 480) + 16) // 256)
    END AS hx
  FROM d
), h AS (
  SELECT doc_id, upper(hx) AS hx, length(hx) // 2 AS n FROM hexes
), e AS (
  SELECT doc_id, n, hx, unnest(range(0, n)) AS i FROM h
), cnt AS (
  SELECT doc_id,
    (strpos('0123456789ABCDEF',
            substr(hx, CAST(i * 2 + 1 AS BIGINT), 1)) - 1) // 2 AS bucket,
    count(*) AS c
  FROM e GROUP BY 1, 2
), grid AS (
  SELECT doc_id, n, unnest(range(0, 8)) AS bucket FROM h
), feat AS (
  SELECT grid.doc_id,
    list(COALESCE(cnt.c, 0) / CAST(grid.n AS DOUBLE)
         ORDER BY grid.bucket) AS f
  FROM grid
  LEFT JOIN cnt ON grid.doc_id = cnt.doc_id AND grid.bucket = cnt.bucket
  GROUP BY grid.doc_id
), featnz AS (
  -- mirrors knn_topk_exact's per-side zero-norm pre-filter (ADVICE r14
  -- #2); byte histograms always sum to 1 so this drops nothing today,
  -- but keeps oracle and operator semantics aligned by construction
  SELECT doc_id, f FROM feat WHERE list_dot_product(f, f) > 0
), scored AS (
  SELECT q.doc_id AS query_id, c.doc_id AS neighbor_id,
    list_dot_product(q.f, c.f) /
      (sqrt(list_dot_product(q.f, q.f)) *
       sqrt(list_dot_product(c.f, c.f))) AS sim
  FROM featnz q, featnz c WHERE q.doc_id <> c.doc_id
)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id)
    AS rank
  FROM scored
) t WHERE rank <= 3
""",
)
def q_media_knn_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The full multimodal retrieval path, end-to-end on executors:
    # binary payloads -> Arrow-batched featurizer (mapInPandas byte
    # histograms; swap for CLIP/predict_batch_udf without plan changes)
    # -> exact cosine top-3 neighbors. At corpus scale the last stage
    # routes through knn_topk_lsh / ann_ivf instead of the exact join —
    # identical upstream plan.
    from .operators.similarity import knn_topk_exact

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    payloads = mm.synthesize_image_payloads(docs, "doc_id")
    feats = mm.byte_histogram_features(payloads, "media", "asset_id")
    emb = feats.select(
        F.col("asset_id").alias("vec_id"), F.col("feature").alias("embedding")
    )
    return knn_topk_exact(emb, k=3).select(
        "query_id", "neighbor_id", F.col("rank").cast("long").alias("rank")
    )


@_register(
    "streaming_running_user_stats",
    """
SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
  round(sum(value), 6) AS total_value
FROM events GROUP BY 1
""",
)
def q_streaming_running_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Custom stateful operator graded end-to-end: 3 micro-batches fold
    # through per-user GroupState; the final running row per user must
    # equal the batch aggregate exactly (integer micro-unit state — 6dp
    # inputs stay exact across any batch slicing).
    import tempfile

    from .sources.readers import load_table
    from .streaming.custom_state import run_running_user_stats

    src = tempfile.mkdtemp(prefix="tws_src_")
    load_table(spark, sf_dir, "events").select(
        "ts", "user_id", "value"
    ).repartition(3).write.mode("overwrite").parquet(src)
    out = run_running_user_stats(
        spark, src, tempfile.mkdtemp(prefix="tws_ckpt_"),
        table_name="streaming_running_user_stats_q",
    )
    return out.select(
        "user_id", "n_events", F.round("total_value", 6).alias("total_value")
    )


@_register(
    "sql_daily_revenue",
    """
SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS event_date,
  CAST(count(*) AS BIGINT) AS n_events,
  CAST(sum(CAST(value AS DECIMAL(22,8))) AS DOUBLE) AS revenue
FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
GROUP BY 1
""",
)
def q_sql_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The SQL-string API surface: identical Catalyst plan to the
    # DataFrame form (views + spark.sql compile to the same logical
    # plan), registered to document that users can drive this engine
    # with plain SQL.
    _t(spark, sf_dir, "events").createOrReplaceTempView("events_v")
    return spark.sql("""
        SELECT date_format(ts, 'yyyy-MM-dd') AS event_date,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(22,8))) AS DOUBLE) AS revenue
        FROM events_v
        WHERE event_type = 'purchase' AND value IS NOT NULL
        GROUP BY date_format(ts, 'yyyy-MM-dd')
    """)


@_register(
    "grouping_sets_stats",
    """
SELECT event_type,
  strftime(CAST(ts AS DATE), '%Y-%m-%d') AS event_date,
  CAST(grouping(event_type) AS BIGINT) AS g_type,
  CAST(grouping(strftime(CAST(ts AS DATE), '%Y-%m-%d')) AS BIGINT) AS g_date,
  CAST(count(*) AS BIGINT) AS n_events
FROM events
GROUP BY GROUPING SETS ((event_type), (strftime(CAST(ts AS DATE), '%Y-%m-%d')))
""",
)
def q_grouping_sets_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Arbitrary GROUPING SETS (neither rollup nor cube): per-type totals
    # and per-day totals from ONE Expand+aggregate pass — the third
    # grouping-lattice API beside order_status_rollup / event_cube_stats.
    e = _t(spark, sf_dir, "events")
    e.withColumn(
        "event_date", F.date_format("ts", "yyyy-MM-dd")
    ).createOrReplaceTempView("events_gs_v")
    return spark.sql("""
        SELECT event_type, event_date,
               CAST(grouping(event_type) AS BIGINT) AS g_type,
               CAST(grouping(event_date) AS BIGINT) AS g_date,
               CAST(count(*) AS BIGINT) AS n_events
        FROM events_gs_v
        GROUP BY GROUPING SETS ((event_type), (event_date))
    """)


@_register(
    "forecast_revenue",
    """
SELECT CAST(round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                           * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE),
                  6) AS DOUBLE) AS revenue,
  CAST(count(*) AS BIGINT) AS n_lineitems
FROM lineitem
WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
""",
)
def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q6 shape (forecasting revenue change): single-scan filter +
    # ungrouped aggregate. The whole query should collapse to a parquet
    # scan with ALL THREE predicates in PushedFilters, a 2-column
    # ReadSchema (+ shipdate), one partial agg per partition, and a
    # single-row exchange — the canonical "pushdown or bust" plan.
    # Revenue staged as DECIMAL so the sum is bit-identical cross-engine.
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    )
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * F.col(
        "l_discount"
    ).cast("decimal(18,2)")
    return li.agg(
        F.round(F.sum(rev).cast("double"), 6).alias("revenue"),
        F.count("*").cast("long").alias("n_lineitems"),
    )


@_register(
    "important_stock",
    """
WITH val AS (
  SELECT l.l_partkey AS partkey,
    sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
        * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS v
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey AND r.r_name = 'EUROPE'
  GROUP BY 1),
tot AS (SELECT CAST(sum(v) AS DOUBLE) AS total, count(*) AS n FROM val)
SELECT v.partkey,
  CAST(round(CAST(v.v AS DOUBLE), 2) AS DOUBLE) AS part_value
FROM val v, tot t
WHERE CAST(v.v AS DOUBLE) * 2 * t.n > t.total * 3
""",
)
def q_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q11 shape (important stock identification), adapted to this
    # schema (no partsupp): per-part traded value from EUROPE-region
    # suppliers, keeping parts whose value exceeds 1.5x the mean part
    # value. The threshold is a SCALAR SUBQUERY over the same aggregate
    # — in Spark a 1-row broadcast-nested-loop (crossJoin of a 1-row
    # frame), NOT a re-shuffle; the per-part agg is computed once and
    # reused for both sides. Threshold compare `2*n*v > 3*total` is
    # left-assoc double over exact DECIMAL sums, so both engines see
    # bit-identical operands (no avg(), whose result type differs
    # cross-engine).
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    v = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,2)")
    )
    val = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(F.sum(v).alias("v"))
    )
    tot = val.agg(
        F.sum("v").cast("double").alias("total"),
        F.count("*").alias("n"),
    )
    return (
        val.crossJoin(F.broadcast(tot))
        .filter(F.col("v").cast("double") * 2 * F.col("n") > F.col("total") * 3)
        .select("partkey", F.round(F.col("v").cast("double"), 2).alias("part_value"))
    )


@_register(
    "late_priority_mix",
    """
SELECT l_returnflag,
  CAST(count(*) FILTER (WHERE o_orderpriority IN ('1-URGENT', '2-HIGH'))
       AS BIGINT) AS high_line_count,
  CAST(count(*) FILTER (WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH'))
       AS BIGINT) AS low_line_count
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderdate >= '1996-01-01' AND o.o_orderdate < '1997-01-01'
  AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
GROUP BY 1
""",
)
def q_late_priority_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q12 shape (shipping modes / order priority), adapted to this
    # schema (no shipmode or receiptdate): lineitems shipped >60 days
    # after their 1996 order, counted by returnflag into high- vs
    # low-priority buckets via conditional aggregation. The orderdate
    # window prunes the orders scan BEFORE the join; the late-shipment
    # predicate is join-level (references both sides) and runs inside
    # the join, not after it. Counts are exact — no float seam.
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )
    li = _t(spark, sf_dir, "lineitem")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(
            o,
            (li.l_orderkey == o.o_orderkey)
            & (li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 60 DAY")),
        )
        .groupBy("l_returnflag")
        .agg(
            F.count(F.when(high, 1)).cast("long").alias("high_line_count"),
            F.count(F.when(~high, 1)).cast("long").alias("low_line_count"),
        )
    )


@_register(
    "excess_suppliers",
    """
WITH ship AS (
  SELECT l.l_partkey AS pk, l.l_suppkey AS sk, sum(l.l_quantity) AS q
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey AND p.p_name LIKE '%gear'
  WHERE l.l_shipdate >= '1996-01-01' AND l.l_shipdate < '1997-01-01'
  GROUP BY 1, 2)
SELECT s.s_suppkey AS suppkey, s.s_name AS supplier_name,
  CAST(d.cnt AS BIGINT) AS n_dominant_parts
FROM (
  SELECT sk, count(*) AS cnt
  FROM (SELECT sk, q, sum(q) OVER (PARTITION BY pk) AS tq FROM ship)
  WHERE q * 20 > tq * 7 GROUP BY sk) d
JOIN supplier s ON d.sk = s.s_suppkey
""",
)
def q_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q20 shape (potential part promotion), adapted to this schema
    # (no partsupp availqty): suppliers who shipped >35% of a 'gear'
    # part's total 1996 quantity, with how many parts they dominate.
    # part is a broadcast dim filtered by the LIKE before the join; the
    # (part, supplier) agg shuffles once on the compound key and the
    # per-part total comes from a window over the SAME rows (one extra
    # exchange on pk, no self-join re-scan of lineitem). `q*20 > tq*7`
    # keeps the 35% threshold in exact integer-valued-double arithmetic.
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
    )
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%gear"))
    s = _t(spark, sf_dir, "supplier")
    from pyspark.sql import Window

    ship = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(
            F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk")
        )
        .agg(F.sum("l_quantity").alias("q"))
    )
    w = Window.partitionBy("pk")
    dominant = (
        ship.withColumn("tq", F.sum("q").over(w))
        .filter(F.col("q") * 20 > F.col("tq") * 7)
        .groupBy("sk")
        .agg(F.count("*").cast("long").alias("n_dominant_parts"))
    )
    return dominant.join(
        F.broadcast(s), dominant.sk == s.s_suppkey
    ).select(
        F.col("s_suppkey").alias("suppkey"),
        F.col("s_name").alias("supplier_name"),
        "n_dominant_parts",
    )


@_register(
    "heavy_hitter_users",
    """
SELECT user_id, CAST(count(*) AS BIGINT) AS n_rows
FROM events GROUP BY 1
ORDER BY n_rows DESC, user_id ASC LIMIT 10
""",
)
def q_heavy_hitter_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Bounded-state heavy hitters (distributed Misra-Gries): zero-shuffle
    # candidate pass (O(k) state per partition via batch decrement,
    # emitting every retained entry) + exact verification over candidates
    # + Σeps certification — if the 10th verified count does not clear
    # the proved non-candidate bound, the operator falls back to the
    # exact groupBy, so the result equals the exact top-10 on EVERY
    # input and every scale (low-skew sf0.1 included), not just when
    # the skew premise holds — see operators/aggregates.py:heavy_hitters.
    # At 100 TB the certified path replaces a full-cardinality groupBy
    # shuffle with a candidate set bounded by 8k per partition.
    e = _t(spark, sf_dir, "events")
    return agg.heavy_hitters(e, "user_id", k=250, top=10)


@_register(
    "ddsketch_value_quantiles",
    """
WITH v AS (
  SELECT event_type, value FROM events
  WHERE value IS NOT NULL AND value > 0),
b AS (
  SELECT event_type,
    CAST(ceil(round(ln(value) / ln(CAST(1.02 AS DOUBLE)), 9)) AS BIGINT)
      AS bucket
  FROM v),
bc AS (SELECT event_type, bucket, count(*) AS c FROM b GROUP BY 1, 2),
cum AS (
  SELECT event_type, bucket,
    sum(c) OVER (PARTITION BY event_type ORDER BY bucket) AS cum,
    sum(c) OVER (PARTITION BY event_type) AS n
  FROM bc),
qs AS (SELECT CAST(unnest([0.5, 0.9, 0.99]) AS DOUBLE) AS q),
hit AS (
  SELECT c.event_type, q.q, c.bucket, c.n
  FROM cum c, qs q
  WHERE c.cum >= floor(q.q * (c.n - 1)) + 1),
sel AS (
  SELECT event_type, q, min(bucket) AS bucket, max(n) AS n
  FROM hit GROUP BY 1, 2)
SELECT event_type, q, bucket,
  round(2.0 * power(CAST(1.02 AS DOUBLE), bucket)
    / (CAST(1.02 AS DOUBLE) + 1.0), 6) AS estimate,
  CAST(n AS BIGINT) AS n
FROM sel
""",
)
def q_ddsketch_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Quantile SKETCH per event type (DDSketch log buckets, Masson et
    # al. VLDB'19) — the mergeable-summaries answer to percentiles,
    # completing the sketch family (CM=frequency, KMV=cardinality,
    # Bloom=membership): bucket counts are plain sums, state is bounded
    # by the VALUE RANGE (~log_gamma(max/min) buckets), estimates are
    # within (g-1)/(g+1) ≈ 0.99% relative error. The oracle REPLAYS the
    # sketch (bucket assignment, rank walk, midpoint decode), not
    # approx-vs-exact — the sketch-grading discipline. One corpus-sized
    # partial-agg groupBy; every later stage runs over the bounded
    # bucket table (operators/sketches.py:dd_quantile_sketch).
    e = _t(spark, sf_dir, "events")
    return sk.dd_quantile_sketch(
        e, "value", [0.5, 0.9, 0.99], gamma=1.02,
        group_cols=["event_type"],
    )


@_register(
    "countmin_user_frequency",
    """
WITH ex AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_exact
  FROM events WHERE user_id IS NOT NULL
  GROUP BY 1 ORDER BY n_exact DESC, user_id ASC LIMIT 20),
cells AS (
  SELECT t.j,
    CAST(concat('0x', substr(md5(concat('cm-v1_',
      CAST(user_id AS VARCHAR))), 1 + 8 * t.j, 8)) AS BIGINT) % 1024 AS b
  FROM events, unnest([0, 1, 2, 3]) AS t(j)
  WHERE user_id IS NOT NULL),
cm AS (SELECT j, b, CAST(count(*) AS BIGINT) AS n FROM cells GROUP BY 1, 2),
pc AS (
  SELECT e.user_id, e.n_exact, t.j,
    CAST(concat('0x', substr(md5(concat('cm-v1_',
      CAST(e.user_id AS VARCHAR))), 1 + 8 * t.j, 8)) AS BIGINT) % 1024 AS b
  FROM ex e, unnest([0, 1, 2, 3]) AS t(j))
SELECT pc.user_id, pc.n_exact,
  CAST(min(cm.n) AS BIGINT) AS cm_est,
  CAST(min(cm.n) - pc.n_exact AS BIGINT) AS overestimate
FROM pc JOIN cm ON cm.j = pc.j AND cm.b = pc.b
GROUP BY 1, 2
""",
)
def q_countmin_user_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Count-Min frequency sketch, deterministically hashed (md5) so the
    # ORACLE REPLAYS THE SKETCH ITSELF: 4×1024 counters built in one
    # pass whose map-side partial agg collapses the stream to ≤ 4096
    # rows per task before the exchange, probed for the exact top-20
    # users; overestimate = est − exact is the graded error surface
    # (provably ≥ 0). The bounded-state sibling of heavy_hitter_users —
    # see operators/sketches.py.
    e = _t(spark, sf_dir, "events")
    exact = (
        e.filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
        .orderBy(F.col("n_exact").desc(), F.col("user_id").asc())
        .limit(20)
    )
    est = sk.count_min_estimates(
        e, "user_id", exact.select("user_id"), depth=4, width=1024
    )
    return exact.join(est, "user_id").select(
        "user_id",
        "n_exact",
        F.col("est").alias("cm_est"),
        (F.col("est") - F.col("n_exact")).cast("long").alias("overestimate"),
    )


@_register(
    "kmv_distinct_users",
    """
WITH h AS (
  SELECT DISTINCT CAST(concat('0x', substr(md5(concat('kmv-v1_',
    CAST(user_id AS VARCHAR))), 1, 15)) AS BIGINT) AS h
  FROM events WHERE user_id IS NOT NULL),
bot AS (SELECT h FROM h ORDER BY h LIMIT 64),
kth AS (SELECT CAST(count(*) AS BIGINT) AS n_kept, max(h) AS m_k FROM bot),
ex AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
       FROM events WHERE user_id IS NOT NULL)
SELECT ex.n_exact, CAST(64 AS BIGINT) AS k, kth.m_k,
  CAST(round(CASE WHEN kth.n_kept < 64 THEN CAST(kth.n_kept AS DOUBLE)
    ELSE CAST(63 AS DOUBLE)
      / (CAST(kth.m_k AS DOUBLE) / CAST(1152921504606846976 AS DOUBLE))
    END, 6) AS DOUBLE) AS estimate
FROM ex, kth
""",
)
def q_kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    # KMV / bottom-k distinct-count sketch, md5-hashed so the estimate
    # is REPLAYED by the oracle (same m_k, same IEEE division) — the
    # deterministic sibling of approx_distinct_users' HLL structural
    # grade. The candidate pass is a per-partition k-min-distinct
    # mapInPandas (state O(k), emits ≤ k rows/partition, lossless by
    # the TakeOrdered argument); n_exact is the comparison column —
    # see operators/sketches.py:kmv_distinct.
    e = _t(spark, sf_dir, "events")
    kmv = sk.kmv_distinct(e, "user_id", k=64)
    exact = e.filter(F.col("user_id").isNotNull()).agg(
        F.countDistinct("user_id").cast("long").alias("n_exact")
    )
    return exact.crossJoin(kmv).select("n_exact", "k", "m_k", "estimate")


@_register(
    "kmv_distinct_by_type",
    """
WITH h AS (
  SELECT DISTINCT event_type,
    CAST(concat('0x', substr(md5(concat('kmv-v1_',
      CAST(user_id AS VARCHAR))), 1, 15)) AS BIGINT) AS h
  FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
r AS (
  SELECT event_type, h,
    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM h),
kth AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_kept, max(h) AS m_k
  FROM r WHERE rn <= 64 GROUP BY 1),
ex AS (
  SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
  FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL
  GROUP BY 1)
SELECT ex.event_type, ex.n_exact, CAST(64 AS BIGINT) AS k, kth.m_k,
  CAST(round(CASE WHEN kth.n_kept < 64 THEN CAST(kth.n_kept AS DOUBLE)
    ELSE CAST(63 AS DOUBLE)
      / (CAST(kth.m_k AS DOUBLE) / CAST(1152921504606846976 AS DOUBLE))
    END, 6) AS DOUBLE) AS estimate
FROM ex JOIN kth ON kth.event_type = ex.event_type
""",
)
def q_kmv_distinct_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Grouped KMV: one bottom-k distinct-user sketch PER event type —
    # the column-profiler shape. Candidate pass keeps k smallest
    # distinct hashes per (partition, group); the exact finish re-ranks
    # candidates under a group-partitioned window (candidate-sized
    # input). n_exact per group is the graded comparison column — see
    # operators/sketches.py:kmv_distinct_by_group.
    e = _t(spark, sf_dir, "events")
    kmv = sk.kmv_distinct_by_group(e, "event_type", "user_id", k=64)
    exact = (
        e.filter(F.col("user_id").isNotNull() & F.col("event_type").isNotNull())
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").cast("long").alias("n_exact"))
    )
    return exact.join(kmv, "event_type").select(
        "event_type", "n_exact", "k", "m_k", "estimate"
    )


@_register(
    "sketch_column_profile",
    """
WITH m AS (
  SELECT 'user_id' AS col_name, CAST(user_id AS VARCHAR) AS val FROM events
  UNION ALL
  SELECT 'event_type', event_type FROM events
  UNION ALL
  SELECT 'event_date', strftime(CAST(ts AS DATE), '%Y-%m-%d') FROM events),
prof AS (
  SELECT col_name, CAST(count(val) AS BIGINT) AS n_nonnull,
         CAST(count(*) - count(val) AS BIGINT) AS n_nulls,
         CAST(count(DISTINCT val) AS BIGINT) AS n_exact
  FROM m GROUP BY 1),
h AS (
  SELECT DISTINCT col_name,
    CAST(concat('0x', substr(md5(concat('kmv-v1_', val)), 1, 15))
      AS BIGINT) AS h
  FROM m WHERE val IS NOT NULL),
r AS (
  SELECT col_name, h,
    row_number() OVER (PARTITION BY col_name ORDER BY h) AS rn
  FROM h),
kth AS (
  SELECT col_name, CAST(count(*) AS BIGINT) AS n_kept, max(h) AS m_k
  FROM r WHERE rn <= 64 GROUP BY 1)
SELECT p.col_name, p.n_nonnull, p.n_nulls, p.n_exact,
  CAST(round(CASE WHEN k.n_kept < 64 THEN CAST(k.n_kept AS DOUBLE)
    ELSE CAST(63 AS DOUBLE)
      / (CAST(k.m_k AS DOUBLE) / CAST(1152921504606846976 AS DOUBLE))
    END, 6) AS DOUBLE) AS kmv_estimate
FROM prof p JOIN kth k ON k.col_name = p.col_name
""",
)
def q_sketch_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Sketch-composed column profiler: ONE unpivot scan (stack — a
    # codegen projection, not 3 scans) melts selected columns to
    # (col_name, val) rows; nulls/exact-distinct come from one grouped
    # agg and the cardinality estimate from the grouped KMV over the
    # same melted frame. The profile-every-column-of-a-100TB-table
    # shape: scan count is independent of column count, and the sketch
    # state is O(k) per column. String-safe columns only (bigint/string/
    # date-formatted) — raw doubles are out of contract for md5 keys
    # (cross-engine float FORMATTING is not in the seam budget).
    e = _t(spark, sf_dir, "events")
    m = e.selectExpr(
        "stack(3, 'user_id', cast(user_id as string),"
        " 'event_type', event_type,"
        " 'event_date', date_format(ts, 'yyyy-MM-dd')) as (col_name, val)"
    )
    prof = m.groupBy("col_name").agg(
        F.count("val").cast("long").alias("n_nonnull"),
        (F.count(F.lit(1)) - F.count("val")).cast("long").alias("n_nulls"),
        F.countDistinct("val").cast("long").alias("n_exact"),
    )
    kmv = sk.kmv_distinct_by_group(m, "col_name", "val", k=64)
    return prof.join(kmv, "col_name").select(
        "col_name", "n_nonnull", "n_nulls", "n_exact",
        F.col("estimate").alias("kmv_estimate"),
    )


@_register(
    "bloom_membership_segment",
    """
WITH mem AS (
  SELECT DISTINCT c_custkey AS k FROM customer
  WHERE c_mktsegment = 'BUILDING'),
bits AS (
  SELECT DISTINCT CAST(concat('0x', substr(md5(concat('bloom-v1_',
      CAST(k AS VARCHAR))), 1 + 8 * t.j, 8)) AS BIGINT) % 2048 AS bit
  FROM mem, unnest([0, 1, 2, 3]) AS t(j)),
pb AS (
  SELECT c.c_custkey, t.j,
    CAST(concat('0x', substr(md5(concat('bloom-v1_',
      CAST(c.c_custkey AS VARCHAR))), 1 + 8 * t.j, 8)) AS BIGINT) % 2048
      AS bit
  FROM customer c, unnest([0, 1, 2, 3]) AS t(j)),
hit AS (
  SELECT pb.c_custkey,
    CAST(CASE WHEN bool_and(b.bit IS NOT NULL) THEN 1 ELSE 0 END
      AS BIGINT) AS might_contain
  FROM pb LEFT JOIN bits b ON b.bit = pb.bit GROUP BY 1)
SELECT h.c_custkey, h.might_contain,
  CAST(CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS BIGINT)
    AS is_member
FROM hit h JOIN customer c ON c.c_custkey = h.c_custkey
""",
)
def q_bloom_membership_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Bloom membership sketch, md5-hashed so the ORACLE REPLAYS EVERY
    # BIT: the filter is built over one segment's custkeys (≤ m_bits
    # rows survive the build's map-side partial distinct), packed into
    # a LITERAL long[32] bitmask, and every customer row is probed with
    # pure codegen bit arithmetic — no join, no exchange on the probe
    # side. might_contain vs is_member is the graded error surface:
    # zero false negatives by construction (the pruned-join guarantee),
    # false positives ~(1-e^{-kn/m})^k, deliberately visible at
    # m=2048. Completes the sketch family (Count-Min = frequency,
    # KMV = cardinality, Bloom = membership) — operators/sketches.py.
    c = _t(spark, sf_dir, "customer")
    members = c.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("k")
    )
    bits = sk.bloom_bits(members, "k", m_bits=2048, k_hashes=4)
    mask = sk.bloom_mask_literal(bits, m_bits=2048)
    might = sk.bloom_might_contain(
        mask, F.col("c_custkey"), m_bits=2048, k_hashes=4
    )
    return c.select(
        "c_custkey",
        F.when(might, 1).otherwise(0).cast("long").alias("might_contain"),
        F.when(F.col("c_mktsegment") == "BUILDING", 1)
        .otherwise(0)
        .cast("long")
        .alias("is_member"),
    )


@_register(
    "bloom_pruned_segment_revenue",
    """
SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS order_year,
  CAST(count(*) AS BIGINT) AS n_orders,
  CAST(sum(CAST(o.o_totalprice AS DECIMAL(22,8))) AS DOUBLE) AS revenue
FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
WHERE c.c_mktsegment = 'BUILDING'
GROUP BY 1
""",
)
def q_bloom_pruned_segment_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # Bloom-PRUNED dimension join: the segment's custkeys become a
    # literal bitmask filter on the orders SCAN (codegen bit tests,
    # no exchange below the filter), so ~80% of the fact never reaches
    # the join; the broadcast equi-join then removes the sketch's false
    # positives, making the final answer EXACT — which is why the
    # oracle is the plain SQL join. This is the scan-side runtime-
    # filter shape Spark's own bloom-join optimizer targets, made
    # explicit and deterministic: at 100 TB the 1 KiB mask rides the
    # task binary and prunes before any shuffle of the fact.
    c = _t(spark, sf_dir, "customer")
    seg = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    bits = sk.bloom_bits(seg, "c_custkey", m_bits=2048, k_hashes=4)
    mask = sk.bloom_mask_literal(bits, m_bits=2048)
    o = _t(spark, sf_dir, "orders").filter(
        sk.bloom_might_contain(
            mask, F.col("o_custkey"), m_bits=2048, k_hashes=4
        )
    )
    return (
        o.join(F.broadcast(seg), o.o_custkey == seg.c_custkey)
        .groupBy(F.year("o_orderdate").cast("long").alias("order_year"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(22,8)"))
            .cast("double")
            .alias("revenue"),
        )
    )


@_register(
    "vocab_encode_documents",
    """
WITH toks AS (
  SELECT doc_id,
    string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')
      AS ts
  FROM documents WHERE text IS NOT NULL),
tok AS (
  SELECT t.doc_id, t.ts[j.j + 1] AS tok, CAST(j.j AS BIGINT) AS pos
  FROM toks t, unnest(range(len(t.ts))) AS j(j)),
vc AS (SELECT tok, count(*) AS c FROM tok GROUP BY 1),
v AS (
  SELECT tok,
    CAST(row_number() OVER (ORDER BY c DESC, tok ASC) - 1 AS BIGINT) AS id
  FROM vc),
vv AS (SELECT * FROM v WHERE id < 24),
enc AS (
  SELECT t.doc_id, t.pos, COALESCE(vv.id, -1) AS id
  FROM tok t LEFT JOIN vv ON vv.tok = t.tok)
SELECT doc_id,
  CAST(count(*) AS BIGINT) AS n_tokens,
  CAST(sum(CASE WHEN id = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
  string_agg(CAST(id AS VARCHAR), ' ' ORDER BY pos) AS ids_str
FROM enc GROUP BY 1
""",
)
def q_vocab_encode_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Tokenizer-apply: frequency-ranked top-24 vocabulary (count desc,
    # token asc — deterministic) then every document encoded as its
    # ORDERED id array with OOV = -1 — the missing step between
    # vocabulary mining (bpe_merge_candidates) and sequence_packing,
    # and the op a 100 TB pretraining pipeline runs on every document.
    # Vocab ranking windows the COUNTED table (bounded), the id join is
    # broadcast, the ordered rebuild is one doc-keyed shuffle
    # (operators/text.py:build_vocab/encode_token_ids). Every id is an
    # integer, and the ids array is returned JOINED to a string (the
    # conventions-header array rule: the driver canonicalizer cannot
    # hash raw list cells — r10 err row).
    d = _t(spark, sf_dir, "documents")
    # top_v=24 < the corpus's 31 distinct tokens, so the OOV branch is
    # EXERCISED, not vacuously green (the 0=0 trap)
    vocab = tx.build_vocab(d, "text", top_v=24)
    enc = tx.encode_token_ids(d, "doc_id", "text", vocab)
    return enc.select(
        "doc_id",
        "n_tokens",
        "n_oov",
        F.array_join(F.col("ids").cast("array<string>"), " ").alias(
            "ids_str"
        ),
    )


@_register(
    "zipf_fit_tokens",
    """
WITH tok AS (
  SELECT unnest(string_split(trim(regexp_replace(lower(text),
      '\\s+', ' ', 'g')), ' ')) AS tok
  FROM documents WHERE text IS NOT NULL),
vc AS (SELECT tok, count(*) AS c FROM tok GROUP BY 1),
rk AS (
  SELECT ln(CAST(row_number() OVER (ORDER BY c DESC, tok ASC) AS DOUBLE))
    AS lx, ln(CAST(c AS DOUBLE)) AS ly
  FROM vc),
s AS (
  SELECT CAST(count(*) AS DOUBLE) AS n, sum(lx) AS sx, sum(ly) AS sy,
    sum(lx * lx) AS sxx, sum(lx * ly) AS sxy
  FROM rk)
SELECT round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
    AS zipf_slope,
  round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
    AS intercept,
  CAST(n AS BIGINT) AS n_ranks
FROM s
""",
)
def q_zipf_fit_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Zipf-law diagnostic of the token frequency distribution (the
    # corpus-health check an LLM-data pipeline runs before trusting a
    # vocabulary): OLS slope of ln(freq) on ln(rank) — natural text
    # sits near -1; synthetic/templated corpora flatten. The OLS is
    # spelled as the EXPLICIT sums formula on both engines (DuckDB's
    # regr_slope internals could accumulate differently); the rank
    # window runs over the COUNTED vocab table (bounded by distinct
    # tokens, the build_vocab argument), never the token stream.
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents")
    counts = (
        d.filter(F.col("text").isNotNull())
        .select(F.explode(split_words("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.orderBy(F.col("c").desc(), F.col("tok").asc())
    rk = counts.select(
        F.log(F.row_number().over(w).cast("double")).alias("lx"),
        F.log(F.col("c").cast("double")).alias("ly"),
    )
    s = rk.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("lx").alias("sx"),
        F.sum("ly").alias("sy"),
        F.sum(F.col("lx") * F.col("lx")).alias("sxx"),
        F.sum(F.col("lx") * F.col("ly")).alias("sxy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        F.round(slope, 6).alias("zipf_slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6).alias(
            "intercept"
        ),
        F.col("n").cast("long").alias("n_ranks"),
    )


@_register(
    "dup_ngram_fraction",
    """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
grams AS (
  SELECT DISTINCT doc_id, array_to_string(ts[i:i+7], ' ') AS gram
  FROM toks, unnest(generate_series(1, greatest(0, len(ts) - 7))) AS u(i)),
gd AS (
  SELECT doc_id, count(*) OVER (PARTITION BY gram) AS nd FROM grams)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
  CAST(round(CAST(count(*) FILTER (WHERE nd > 1) AS DOUBLE) / count(*),
             6) AS DOUBLE) AS dup_frac
FROM gd GROUP BY 1
""",
)
def q_dup_ngram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Cross-doc duplicated 8-gram share per document (exact-substring
    # dedup signal; RefinedWeb §3.2 re-expressed at n-gram granularity).
    # dup_frac is integer/integer double division — bit-identical
    # cross-engine; no float accumulation anywhere.
    d = _t(spark, sf_dir, "documents")
    return tx.dup_ngram_fraction(d, n=8)


@_register(
    "duplicate_token_spans",
    """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
hits AS (
  SELECT doc_id, len(ts) AS nt, i, i + 7 AS e,
         array_to_string(ts[i:i+7], ' ') AS g
  FROM toks, unnest(generate_series(1, greatest(0, len(ts) - 7))) AS u(i)),
dup AS (
  SELECT doc_id, nt, i, e FROM (
    SELECT *, min(doc_id) OVER (PARTITION BY g) AS mn,
              max(doc_id) OVER (PARTITION BY g) AS mx FROM hits)
  WHERE mn <> mx),
isl AS (
  SELECT doc_id, nt, i, e,
    CASE WHEN max(e) OVER (PARTITION BY doc_id ORDER BY i
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) >= i - 1
      THEN 0 ELSE 1 END AS new_isl
  FROM dup),
numbered AS (
  SELECT doc_id, nt, i, e,
    sum(new_isl) OVER (PARTITION BY doc_id ORDER BY i
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
  FROM isl),
spans AS (
  SELECT doc_id, isl, max(nt) AS nt, max(e) - min(i) + 1 AS len
  FROM numbered GROUP BY 1, 2)
SELECT doc_id,
  CAST(count(*) AS BIGINT) AS n_spans,
  CAST(sum(len) AS BIGINT) AS dup_tokens,
  CAST(max(len) AS BIGINT) AS longest_span,
  CAST(round(CAST(sum(len) AS DOUBLE) / max(nt), 6) AS DOUBLE)
    AS dup_token_frac
FROM spans GROUP BY 1
""",
)
def q_duplicate_token_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Exact duplicate-substring spans (Lee et al. 2022 at word-8-gram
    # granularity): per doc, the MAXIMAL token-index spans covered by
    # cross-doc duplicated 8-grams — dup_ngram_fraction's "how much" made
    # actionable as "which passages". Island merge is two doc-partitioned
    # windows + one groupBy; the cross-doc test is one gram equi-shuffle.
    # The oracle replays the identical running-max island numbering, so
    # every span count/length/fraction is hash-compared. hashed=True
    # (xxhash64 gram keys) is the 100 TB shuffle-byte path, graded
    # structurally in tests/test_new_operators.py.
    d = _t(spark, sf_dir, "documents")
    return tx.duplicate_token_spans(d, n=8)


@_register(
    "span_cut_corpus",
    """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS ts
  FROM documents WHERE text IS NOT NULL),
pos AS (
  SELECT doc_id, i AS p, ts[i] AS tok
  FROM toks, unnest(generate_series(1, len(ts))) AS u(i)),
hits AS (
  SELECT doc_id, i, array_to_string(ts[i:i+7], ' ') AS g
  FROM toks, unnest(generate_series(1, greatest(0, len(ts) - 7))) AS u(i)),
dup AS (
  SELECT doc_id, i FROM (
    SELECT *, min(doc_id) OVER (PARTITION BY g) AS mn,
              max(doc_id) OVER (PARTITION BY g) AS mx FROM hits)
  WHERE mn <> mx),
cut AS (
  SELECT DISTINCT doc_id, i + o AS p
  FROM dup, unnest(generate_series(0, 7)) AS v(o)),
kept AS (
  SELECT pos.doc_id, pos.p, pos.tok FROM pos
  WHERE NOT EXISTS (SELECT 1 FROM cut
                    WHERE cut.doc_id = pos.doc_id AND cut.p = pos.p)),
reb AS (
  SELECT doc_id, count(*) AS n_kept,
    string_agg(tok, ' ' ORDER BY p) AS text
  FROM kept GROUP BY 1),
tot AS (SELECT doc_id, len(ts) AS n_total FROM toks)
SELECT t.doc_id, coalesce(r.text, '') AS text,
  CAST(t.n_total - coalesce(r.n_kept, 0) AS BIGINT) AS n_tokens_removed
FROM tot t LEFT JOIN reb r ON r.doc_id = t.doc_id
""",
)
def q_span_cut_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The actionable exact-substring dedup: every cross-doc duplicated
    # 8-gram span is CUT from every copy and the text rebuilt — the
    # cleaned corpus a training run reads, graded on the FULL rewritten
    # string per doc (the oracle re-assembles via string_agg ORDER BY
    # position, Spark via array_sort(collect_list(struct))) — see
    # operators/text.py:span_cut_corpus.
    d = _t(spark, sf_dir, "documents")
    return tx.span_cut_corpus(d, n=8)


@_register(
    "duplicate_spans_skewsafe",
    # same oracle as duplicate_token_spans: the join strategy is
    # output-identical by construction (test_dup_hits_strategies_match);
    # this entry gives the 100 TB skew path its own driver row, the
    # containment_dedup_blocked precedent.
    ORACLE["duplicate_token_spans"],
)
def q_duplicate_spans_skewsafe(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The hot-gram-skew-resilient form of duplicate_token_spans:
    # strategy="join" collapses hot grams map-side (groupBy partial agg)
    # and joins hits to the DUPLICATED-grams set only — AQE-splittable /
    # broadcastable where the gram window funnels every hot-gram hit
    # into one task (measured: SCALING.md §span-dedup skew addendum).
    d = _t(spark, sf_dir, "documents")
    return tx.duplicate_token_spans(d, n=8, strategy="join")


@_register(
    "bpe_merge_candidates",
    """
WITH w AS (
  SELECT unnest(string_split(text, ' ')) AS w FROM documents),
p AS (
  SELECT substr(w, i, 2) AS pair
  FROM w, unnest(generate_series(1, len(w) - 1)) AS u(i)
  WHERE len(w) >= 2)
SELECT pair, CAST(count(*) AS BIGINT) AS n
FROM p GROUP BY 1 ORDER BY n DESC, pair ASC LIMIT 25
""",
)
def q_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    # BPE tokenizer-training step: corpus-wide adjacent-character-pair
    # frequencies inside words, top 25 — the merge a byte-pair encoder
    # learns next. One codegen double-explode + a partial-agg groupBy
    # over a charset²-bounded key space + TakeOrderedAndProject; see
    # operators/text.py:bpe_pair_counts.
    d = _t(spark, sf_dir, "documents")
    return tx.bpe_pair_counts(d, top=25)


_BPE_ORACLE_US = "\x1f"

# The ONE corpus pass every BPE oracle starts from — mirrors
# _bpe_word_freq (marker-less shape): normalized whitespace words,
# length >= 1, US-sentinel words out of contract (ADVICE r11).
# ``extra_where`` restricts the corpus (the cross-corpus train split).
def _bpe_wf_cte(extra_where: str = "", name: str = "wf") -> str:
    return f"""{name} AS MATERIALIZED (
  SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM (
    SELECT unnest(string_split(trim(regexp_replace(lower(text),
        '\\s+', ' ', 'g')), ' ')) AS w
    FROM documents WHERE text IS NOT NULL{extra_where}) t
  WHERE length(w) >= 1 AND w NOT LIKE '%' || chr(31) || '%'
  GROUP BY w)"""


_BPE_WF_CTE = _bpe_wf_cte()


def _bpe_oracle_rounds(
    n_merges: int, min_count: int = 2, train_where: str = ""
) -> str:
    """CTE chain replaying bpe_train round-for-round in DuckDB: the
    word-frequency table, then per merge round k the pair counts
    (pc{k}), the argmax merge (m{k}, ties count desc / left asc /
    right asc) and the post-merge word states (w{k}). Merge application
    is the SAME left-to-right non-overlapping literal replace() on the
    ' sym<US>' rendering as the Spark operator — the encoding makes
    plain replace() exactly greedy BPE on both engines (see
    operators/text.py _BPE_US note). Unrolled, not recursive: the CTE
    chain is the pagerank-oracle discipline. Every chained CTE is
    MATERIALIZED: DuckDB inlines CTEs by default and each w{k-1} is
    referenced twice, so an unhinted 12-round chain recomputes
    exponentially (measured 247 s -> 0.1 s at sf0.01).

    Stop semantics mirror the operator exactly (ADVICE r11): m{k}
    keeps only pairs with n >= min_count, and w{k} LEFT-joins m{k} so
    an empty round leaves the word states unchanged — and once a round
    is empty every later pc{k} is identical, so all later m{k} stay
    empty, which is precisely bpe_train's early break. The wf filter
    also excludes words containing the US sentinel, mirroring
    _bpe_word_freq's contract (the train oracles are only used for the
    marker-less GPT-style shape, so no marker filter is needed)."""
    us = _BPE_ORACLE_US
    ctes = [
        _bpe_wf_cte(train_where),
        f"""w0 AS MATERIALIZED (
  SELECT w, regexp_replace(w, '(.)', ' \\1{us}', 'g') AS s, cnt
  FROM wf)""",
    ]
    for k in range(1, n_merges + 1):
        ctes.append(f"""pc{k} AS MATERIALIZED (
  SELECT l, r, sum(cnt) AS n FROM (
    SELECT cnt, ls[i] AS l, ls[i + 1] AS r FROM (
      SELECT cnt, list_transform(list_filter(string_split(s, '{us}'),
          x -> x <> ''), x -> substr(x, 2)) AS ls
      FROM w{k - 1}) t, unnest(range(1, len(ls))) AS u(i)
  ) p GROUP BY l, r)""")
        ctes.append(f"""m{k} AS MATERIALIZED (
  SELECT l, r, n FROM pc{k} WHERE n >= {int(min_count)}
  ORDER BY n DESC, l ASC, r ASC LIMIT 1)""")
        ctes.append(f"""w{k} AS MATERIALIZED (
  SELECT w, CASE WHEN m.l IS NOT NULL THEN
      replace(s, ' ' || m.l || '{us}' || ' ' || m.r || '{us}',
          ' ' || m.l || m.r || '{us}')
    ELSE s END AS s, cnt
  FROM w{k - 1} LEFT JOIN m{k} m ON TRUE)""")
    return ",\n".join(ctes)


def _bpe_merge_table_select(n_merges: int) -> str:
    rows = "\n  UNION ALL ".join(
        f"SELECT CAST({k} AS BIGINT) AS merge_rank, l AS left_sym,"
        f" r AS right_sym, l || r AS merged, CAST(n AS BIGINT) AS n"
        f" FROM m{k}"
        for k in range(1, n_merges + 1)
    )
    return rows


def _bpe_train_oracle(n_merges: int) -> str:
    return (
        "WITH " + _bpe_oracle_rounds(n_merges) + "\n"
        + _bpe_merge_table_select(n_merges)
    )


def _bpe_encode_oracle(n_merges: int) -> str:
    return f"""WITH {_bpe_flat_ctes(n_merges)}
{_BPE_ENCODE_SELECT}"""


def _bpe_xcorpus_encode_oracle(
    n_merges: int, train_where: str, encode_where: str
) -> str:
    """Cross-corpus encode oracle (VERDICT r12 #7): merges and base
    alphabet are learned on the TRAIN split (``train_where``), then the
    ENCODE split's OWN distinct-word table is segmented by replaying
    the learned merges in rank order (we0..we{n} — the train-side w{k}
    states cannot cover words the training corpus never saw), and ids
    come from the TRAIN vocabulary — so encode-split characters outside
    the train alphabet take the oov_id (-1) branch on both engines."""
    us = _BPE_ORACLE_US
    ctes = [_bpe_oracle_rounds(n_merges, train_where=train_where)]
    ctes.append(f"mt AS ({_bpe_merge_table_select(n_merges)})")
    ctes.append(f"""wfe AS MATERIALIZED (
  SELECT DISTINCT w FROM (
    SELECT unnest(string_split(trim(regexp_replace(lower(text),
        '\\s+', ' ', 'g')), ' ')) AS w
    FROM documents WHERE text IS NOT NULL{encode_where}) t
  WHERE length(w) >= 1 AND w NOT LIKE '%' || chr(31) || '%')""")
    ctes.append(f"""we0 AS MATERIALIZED (
  SELECT w, regexp_replace(w, '(.)', ' \\1{us}', 'g') AS s
  FROM wfe)""")
    for k in range(1, n_merges + 1):
        ctes.append(f"""we{k} AS MATERIALIZED (
  SELECT w, CASE WHEN m.l IS NOT NULL THEN
      replace(s, ' ' || m.l || '{us}' || ' ' || m.r || '{us}',
          ' ' || m.l || m.r || '{us}')
    ELSE s END AS s
  FROM we{k - 1} LEFT JOIN m{k} m ON TRUE)""")
    return (
        "WITH "
        + ",\n".join(ctes)
        + ",\n"
        + _bpe_flat_tail(f"we{n_merges}", toks_where=encode_where)
        + "\n"
        + _BPE_ENCODE_SELECT
    )


def _bpe_pack_oracle(n_merges: int, seq_len: int) -> str:
    # GPT-style packing over the encoded id stream: global symbol
    # position = per-doc offset (plain cumsum in doc order) + intra-doc
    # rank; sequences tile the flat stream every seq_len ids. The
    # Spark side computes the same offsets with a distributed two-phase
    # bucketed prefix sum — identical values by construction.
    return f"""WITH {_bpe_flat_ctes(n_merges)},
doclen AS MATERIALIZED (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM flat GROUP BY 1),
off AS MATERIALIZED (
  SELECT doc_id, COALESCE(sum(n) OVER (ORDER BY doc_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
  FROM doclen),
g AS MATERIALIZED (
  SELECT f.doc_id,
    o.off + row_number() OVER (
      PARTITION BY f.doc_id ORDER BY f.pos, f.qi) - 1 AS gpos,
    f.id
  FROM flat f JOIN off o USING (doc_id))
SELECT CAST(floor(gpos / CAST({seq_len} AS DOUBLE)) AS BIGINT) AS seq_id,
  CAST(count(*) AS BIGINT) AS n_ids,
  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
  string_agg(CAST(id AS VARCHAR), ' ' ORDER BY gpos) AS ids_str
FROM g GROUP BY 1"""


def _bpe_pack_bound_oracle(n_merges: int, seq_len: int, eos_id: int) -> str:
    # The EOS/boundary-aware packer (VERDICT r11 #4): flat2 appends one
    # EOS row per doc (pos = max_pos + 1 sorts after every real token);
    # offsets/gpos then follow the plain _bpe_pack_oracle shape over
    # flat2; bnd emits each sequence's sorted within-sequence doc-start
    # offsets from the SAME off table the packer derives them from.
    return f"""WITH {_bpe_flat_ctes(n_merges)},
flat2 AS MATERIALIZED (
  SELECT doc_id, pos, qi, id FROM flat
  UNION ALL
  SELECT doc_id, max_pos + 1 AS pos, CAST(1 AS BIGINT) AS qi,
    CAST({int(eos_id)} AS BIGINT) AS id
  FROM (SELECT doc_id, max(pos) AS max_pos FROM flat GROUP BY doc_id)),
doclen AS MATERIALIZED (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM flat2 GROUP BY 1),
off AS MATERIALIZED (
  SELECT doc_id, COALESCE(sum(n) OVER (ORDER BY doc_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
  FROM doclen),
g AS MATERIALIZED (
  SELECT f.doc_id,
    o.off + row_number() OVER (
      PARTITION BY f.doc_id ORDER BY f.pos, f.qi) - 1 AS gpos,
    f.id
  FROM flat2 f JOIN off o USING (doc_id)),
packed AS (
  SELECT CAST(floor(gpos / CAST({seq_len} AS DOUBLE)) AS BIGINT) AS seq_id,
    CAST(count(*) AS BIGINT) AS n_ids,
    CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
    string_agg(CAST(id AS VARCHAR), ' ' ORDER BY gpos) AS ids_str
  FROM g GROUP BY 1),
bnd AS (
  SELECT CAST(floor(off / CAST({seq_len} AS DOUBLE)) AS BIGINT) AS seq_id,
    string_agg(CAST(off % {seq_len} AS VARCHAR), ' ' ORDER BY off)
      AS boundaries_str
  FROM off GROUP BY 1)
SELECT p.seq_id, p.n_ids, p.n_docs, p.ids_str,
  COALESCE(b.boundaries_str, '') AS boundaries_str
FROM packed p LEFT JOIN bnd b ON b.seq_id = p.seq_id"""


def _bpe_flat_ctes(n_merges: int) -> str:
    """The shared encode chain up to ``flat`` (doc_id, pos, qi, id) —
    one row per emitted symbol, consumed by both the per-doc encode
    oracle and the packing oracle."""
    return f"""{_bpe_oracle_rounds(n_merges)},
mt AS ({_bpe_merge_table_select(n_merges)}),
{_bpe_flat_tail(f"w{n_merges}")}"""


def _bpe_flat_tail(seg_cte: str, toks_where: str = "") -> str:
    """alpha..flat CTEs shared by every encode oracle: vocabulary ids
    (sorted base alphabet then merges by rank, deduped on sym keeping
    the lowest id — mirrors bpe_vocab, ADVICE r11), the segmented-word
    id arrays, and the per-symbol flat stream. Expects ``wf``, ``mt``
    and ``{seg_cte}`` (w, s = final symbol string) upstream. The base
    alphabet always derives from ``wf`` (the TRAINING corpus — ids must
    be stable across encoded corpora); ``toks_where`` restricts which
    documents get ENCODED (the cross-corpus shape)."""
    us = _BPE_ORACLE_US
    return f"""alpha AS (
  SELECT sym,
    CAST(row_number() OVER (ORDER BY sym ASC) - 1 AS BIGINT) AS id
  FROM (
    SELECT DISTINCT unnest(list_transform(list_filter(
        string_split(regexp_replace(w, '(.)', ' \\1{us}', 'g'), '{us}'),
        x -> x <> ''), x -> substr(x, 2))) AS sym
    FROM wf)),
na AS (SELECT CAST(count(*) AS BIGINT) AS a FROM alpha),
mv AS (SELECT merged AS sym, a + merge_rank - 1 AS id FROM mt, na),
vocab AS (
  -- dedup on sym keeping the lowest id: distinct merges can emit the
  -- same merged string; mirrors bpe_vocab (ADVICE r11)
  SELECT sym, min(id) AS id FROM (
    SELECT sym, id FROM alpha UNION ALL SELECT sym, id FROM mv) u
  GROUP BY sym),
wsyms AS (
  SELECT w, list_transform(list_filter(string_split(s, '{us}'),
      x -> x <> ''), x -> substr(x, 2)) AS ls
  FROM {seg_cte}),
wsp AS (
  SELECT w, i AS spos, ls[i] AS sym
  FROM wsyms, unnest(range(1, len(ls) + 1)) AS u(i)),
wids AS (
  SELECT p.w, p.spos, COALESCE(v.id, -1) AS id
  FROM wsp p LEFT JOIN vocab v ON v.sym = p.sym),
wid_arr AS (
  SELECT w, list(id ORDER BY spos) AS ids,
    CAST(count(*) AS BIGINT) AS n_syms
  FROM wids GROUP BY w),
toks AS (
  SELECT doc_id,
    string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
      ' ') AS ts
  FROM documents WHERE text IS NOT NULL{toks_where}),
tp AS (
  SELECT t.doc_id, t.ts[j + 1] AS w, CAST(j AS BIGINT) AS pos
  FROM toks t, unnest(range(len(t.ts))) AS j(j)),
dw AS (
  SELECT t.doc_id, t.pos, a.ids FROM tp t JOIN wid_arr a ON a.w = t.w),
flat AS MATERIALIZED (
  SELECT doc_id, pos, qi, ids[qi] AS id
  FROM dw, unnest(range(1, len(ids) + 1)) AS q(qi))"""


_BPE_ENCODE_SELECT = """SELECT doc_id,
  CAST(count(DISTINCT pos) AS BIGINT) AS n_tokens,
  CAST(count(*) AS BIGINT) AS n_syms,
  string_agg(CAST(id AS VARCHAR), ' ' ORDER BY pos, qi) AS ids_str
FROM flat GROUP BY doc_id"""


def _bpe_grid_encode_oracle(max_merges: int) -> str:
    """Encode oracle for the CONSTRUCTED production-size merge table
    (operators/text.py:bpe_grid_merge_table): the mt CTE builds the
    same alphabet-grid merges (pairs then triples, (i,j,k)-ranked,
    capped), and — the part the unrolled trained-merge oracles cannot
    do at this depth — a RECURSIVE CTE replays the sequential
    rank-order replace chain, one iteration per merge, joining on
    merge_rank = k + 1 so iteration k applies exactly merge k. The
    recursion's working set is the bounded distinct-word table; the
    chain terminates when the join finds no merge_rank = k + 1. The
    flat tail (vocab ids, per-doc rebuild) is shared verbatim with the
    trained-merge oracles."""
    us = _BPE_ORACLE_US
    return f"""WITH RECURSIVE {_BPE_WF_CTE},
al AS MATERIALIZED (
  SELECT sym, row_number() OVER (ORDER BY sym ASC) AS aid FROM (
    SELECT DISTINCT unnest(list_transform(list_filter(
        string_split(regexp_replace(w, '(.)', ' \\1{us}', 'g'), '{us}'),
        x -> x <> ''), x -> substr(x, 2))) AS sym
    FROM wf)),
grid AS (
  SELECT 0 AS tier, a1.aid AS i1, a2.aid AS i2, 0 AS i3,
    a1.sym AS l, a2.sym AS r, a1.sym || a2.sym AS m
  FROM al a1, al a2
  UNION ALL
  SELECT 1 AS tier, a1.aid, a2.aid, a3.aid,
    a1.sym || a2.sym AS l, a3.sym AS r,
    a1.sym || a2.sym || a3.sym AS m
  FROM al a1, al a2, al a3),
mt AS MATERIALIZED (
  SELECT CAST(row_number() OVER (ORDER BY tier, i1, i2, i3) AS BIGINT)
      AS merge_rank,
    l AS left_sym, r AS right_sym, m AS merged, CAST(0 AS BIGINT) AS n
  FROM grid
  QUALIFY row_number() OVER (ORDER BY tier, i1, i2, i3)
      <= {int(max_merges)}),
nmt AS (SELECT CAST(count(*) AS BIGINT) AS nmr FROM mt),
w0g AS MATERIALIZED (
  SELECT w, regexp_replace(w, '(.)', ' \\1{us}', 'g') AS s FROM wf),
seg AS (
  SELECT w, s, CAST(0 AS BIGINT) AS k FROM w0g
  UNION ALL
  SELECT seg.w,
    replace(seg.s, ' ' || m.left_sym || '{us}' || ' ' || m.right_sym
        || '{us}', ' ' || m.left_sym || m.right_sym || '{us}') AS s,
    seg.k + 1 AS k
  FROM seg JOIN mt m ON m.merge_rank = seg.k + 1),
segf AS MATERIALIZED (
  SELECT seg.w, seg.s FROM seg, nmt WHERE seg.k = nmt.nmr),
{_bpe_flat_tail("segf")}
{_BPE_ENCODE_SELECT}"""


@_register("bpe_train_merges", _bpe_train_oracle(12))
def q_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The full iterative BPE TRAINING loop (bpe_merge_candidates mines
    # one round; this applies the winner and re-counts, 12 times): the
    # corpus is scanned ONCE into the (word, cnt) table and every
    # iteration runs over distinct words — at 100 TB the loop cost is
    # bounded by vocabulary, not corpus. Per round: a map-side-partial
    # pair-count agg + a 1-ROW argmax collect (inherent to BPE's
    # sequential dependence) + one codegen replace() projection;
    # state re-checkpointed every 4 merges with superseded-checkpoint
    # release (the pagerank loop discipline). The oracle replays all
    # 12 rounds as unrolled CTEs with the identical greedy-replace
    # semantics (operators/text.py:bpe_train).
    d = _t(spark, sf_dir, "documents")
    return tx.bpe_train(d, n_merges=12, min_count=2)


@_register(
    "bpe_roundtrip_documents",
    """
SELECT doc_id,
  trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS text,
  CAST(0 AS BIGINT) AS n_unknown
FROM documents
WHERE text IS NOT NULL
  AND length(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) >= 1
""",
)
def q_bpe_roundtrip_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Tokenizer LOSSLESSNESS, end to end: train with the SentencePiece-
    # style word-boundary marker, encode every document to subword ids,
    # decode from the ids alone — the recovered text must equal the
    # normalized corpus byte-for-byte (the oracle is the normalization
    # itself; the value-hash covers every document's full text, so this
    # is NOT a vacuous 0=0 grade) with zero unknown ids. This is the
    # property a pretraining pipeline actually needs from its tokenizer
    # pair (operators/text.py:bpe_train/bpe_encode/bpe_decode).
    d = _t(spark, sf_dir, "documents")
    marker = "\x11"
    merges = tx.bpe_train(d, n_merges=8, min_count=2, marker=marker)
    alpha = tx.bpe_alphabet(d, marker=marker)
    enc = tx.bpe_encode(d, merges, marker=marker, alphabet=alpha)
    return tx.bpe_decode(enc, merges, alpha, marker=marker)


@_register("bpe_pack_sequences", _bpe_pack_oracle(8, 512))
def q_bpe_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The last step of the pretraining chain (train → encode → PACK):
    # GPT-style packing of the encoded id stream into 512-id training
    # sequences, documents spanning boundaries. The global offset is a
    # distributed two-phase bucketed prefix sum (bucket-local cumsum
    # windows over ≤ 4096-row partitions + a bounded bucket-offset
    # table) — never a single global window; one posexplode of the id
    # stream (inherent: the output IS the stream) and one seq-keyed
    # shuffle (operators/text.py:pack_token_ids). Every sequence's
    # full id content is hash-compared via ids_str.
    d = _t(spark, sf_dir, "documents")
    merges = tx.bpe_train(d, n_merges=8, min_count=2)
    enc = tx.bpe_encode(d, merges)
    return tx.pack_token_ids(enc, seq_len=512)


@_register("bpe_pack_with_boundaries", _bpe_pack_bound_oracle(8, 512, 99999))
def q_bpe_pack_with_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The packer a boundary-aware trainer actually consumes (VERDICT
    # r11 #4): an EOS id separates documents in the concatenated
    # stream (constant-suffix projection — the packing plan is
    # unchanged), and each sequence carries boundaries_str = the sorted
    # within-sequence offsets where a document starts (the
    # attention-reset spans). Boundary offsets come from the SAME
    # two-phase prefix sums the packer already computes — one bounded
    # groupBy + join, no second id-stream pass. Both ids_str (now with
    # EOS rows) and boundaries_str are hash-graded.
    d = _t(spark, sf_dir, "documents")
    merges = tx.bpe_train(d, n_merges=8, min_count=2)
    enc = tx.bpe_encode(d, merges)
    return tx.pack_token_ids(
        enc, seq_len=512, eos_id=99999, with_boundaries=True
    )


@_register("bpe_encode_documents", _bpe_encode_oracle(8))
def q_bpe_encode_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Tokenizer-APPLY with the learned merges (subword segmentation) —
    # vocab_encode_documents looks whole words up; this segments each
    # word by replaying the 8 trained merges in rank order (one nested
    # codegen replace() projection over DISTINCT words, then a
    # word-keyed join back to the token stream and the span_cut ordered
    # rebuild — one doc-keyed shuffle). Ids: sorted base alphabet then
    # merges by rank; ids_str space-joined per the FIXTURES array rule.
    d = _t(spark, sf_dir, "documents")
    merges = tx.bpe_train(d, n_merges=8, min_count=2)
    return tx.bpe_encode(d, merges)


@_register("bpe_encode_staged_2k", _bpe_grid_encode_oracle(2048))
def q_bpe_encode_staged_2k(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The JVM-only production-vocab scale path GRADED AT DEPTH (VERDICT
    # r11 #1): a constructed 2048-merge table (alphabet-grid pairs +
    # triples — in-plan training cannot reach this depth on a 31-word
    # graded vocabulary, see bpe_grid_merge_table). 2048 merges is the
    # top of the broadcast-array FOLD's band, so bpe_encode routes it
    # there. The name predates the fold: it graded the checkpointed
    # staged applier, since deleted. The oracle replays all 2048 merges
    # one-per-iteration via a recursive CTE, so every merge boundary is
    # value-verified.
    d = _t(spark, sf_dir, "documents")
    mt = tx.bpe_grid_merge_table(d, max_merges=2048)
    return tx.bpe_encode(d, mt)


# one merge past the fold's band: the smallest table bpe_encode hands
# to the Arrow applier
_BPE_ARROW_MERGES = tx._BPE_ARROW_CROSSOVER + 1


@_register("bpe_encode_arrow_2k", _bpe_grid_encode_oracle(_BPE_ARROW_MERGES))
def q_bpe_encode_arrow_2k(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The SERVING-path segmenter at production depth: an Arrow-batched
    # mapInPandas applies the ordered replaces per partition of the
    # distinct-words table (the merge table rides the closure — it IS
    # the vocabulary), no shuffle, no per-row Python. Same
    # recursive-CTE oracle as bpe_encode_staged_2k: both bands are
    # graded equal to the replayed chain, not merely to each other.
    d = _t(spark, sf_dir, "documents")
    mt = tx.bpe_grid_merge_table(d, max_merges=_BPE_ARROW_MERGES)
    return tx.bpe_encode(d, mt)


# one persisted tokenizer artifact per (process, sf_dir): the bench and
# the grading driver pay train+write once, every later call is
# read+encode — the ann_persisted_probe economics applied to the
# tokenizer (VERDICT r11 #2)
_BPE_TOKENIZER_ARTIFACT: dict[str, str] = {}


@_register("bpe_encode_from_artifact", _bpe_encode_oracle(8))
def q_bpe_encode_from_artifact(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Production encodes from a SAVED tokenizer, not an in-query
    # training chain: train once per process, persist (merges,
    # alphabet, marker) as parquet (operators/text.py:
    # bpe_write_tokenizer), then read the artifact and encode. Graded
    # against the SAME oracle as bpe_encode_documents — the artifact
    # round-trip must be byte-identical to the in-query chain (the
    # alphabet travels with the artifact precisely so ids stay stable
    # across encoded corpora).
    import tempfile

    d = _t(spark, sf_dir, "documents")
    path = _BPE_TOKENIZER_ARTIFACT.get(sf_dir)
    if path is None:
        merges = tx.bpe_train(d, n_merges=8, min_count=2)
        alpha = tx.bpe_alphabet(d)
        path = tempfile.mkdtemp(prefix="bpe_tokenizer_")
        tx.bpe_write_tokenizer(merges, alpha, path)
        _BPE_TOKENIZER_ARTIFACT[sf_dir] = path
    merges, alpha, marker = tx.bpe_read_tokenizer(spark, path)
    return tx.bpe_encode(d, merges, alphabet=alpha, marker=marker)


# cross-corpus artifact: trained once per (process, sf_dir) on the
# no-'q' split, then every later call is read+encode of the complement
_BPE_XCORPUS_ARTIFACT: dict[str, str] = {}


@_register(
    "bpe_encode_xcorpus_artifact",
    _bpe_xcorpus_encode_oracle(
        8,
        train_where=" AND text NOT LIKE '%q%'",
        encode_where=" AND text LIKE '%q%'",
    ),
)
def q_bpe_encode_xcorpus_artifact(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # The artifact's actual VALUE (VERDICT r12 #7): encode a SECOND
    # corpus with ids stable from the training run. Train split = docs
    # containing no 'q' (115/500 at the graded slice); encode split =
    # the complement, where 'q' — a character the training alphabet has
    # never seen — must take the oov_id branch (real out-of-alphabet
    # chars, not a synthetic stub), while every shared character keeps
    # the exact id the artifact assigned at train time. The oracle
    # replays the learned merges over the ENCODE split's own word
    # table (the train-side word states cannot cover unseen words) and
    # decodes ids against the train vocabulary.
    import tempfile

    d = _t(spark, sf_dir, "documents")
    train = d.filter(
        F.col("text").isNotNull() & ~F.col("text").contains("q")
    )
    test = d.filter(
        F.col("text").isNotNull() & F.col("text").contains("q")
    )
    path = _BPE_XCORPUS_ARTIFACT.get(sf_dir)
    if path is None:
        merges = tx.bpe_train(train, n_merges=8, min_count=2)
        alpha = tx.bpe_alphabet(train)
        path = tempfile.mkdtemp(prefix="bpe_tokenizer_x_")
        tx.bpe_write_tokenizer(merges, alpha, path)
        _BPE_XCORPUS_ARTIFACT[sf_dir] = path
    merges, alpha, marker = tx.bpe_read_tokenizer(spark, path)
    return tx.bpe_encode(test, merges, alphabet=alpha, marker=marker)


@_register(
    "token_entropy",
    """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
tc AS (
  SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY 1, 2),
tt AS (
  SELECT doc_id, tok, c, sum(c) OVER (PARTITION BY doc_id) AS n FROM tc)
SELECT doc_id, CAST(max(n) AS BIGINT) AS n_tokens,
  CAST(count(*) AS BIGINT) AS n_distinct,
  CAST(round(-sum((CAST(c AS DOUBLE) / n) * ln(CAST(c AS DOUBLE) / n)),
             6) AS DOUBLE) AS token_entropy
FROM tt GROUP BY 1
""",
)
def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Shannon entropy of each doc's token distribution — the
    # information-density quality signal (low entropy = repetitive /
    # boilerplate text; complements gopher_quality_flags' ratio rules).
    # ONE shuffle total, of the COMPACT docs (not the exploded tokens):
    # repartition(doc_id) before explode — hash(doc_id) satisfies
    # ClusteredDistribution for the (doc_id, tok) agg AND the doc_id
    # window, so neither re-exchanges (plan test pins it). p*ln(p)
    # terms are exact-integer-ratio doubles; the +/-1 ulp libm seam is
    # absorbed by round-6 over O(ln V)-magnitude sums.
    d = _t(spark, sf_dir, "documents")
    from pyspark.sql import Window

    tc = (
        d.repartition("doc_id")
        .select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n = F.sum("c").over(Window.partitionBy("doc_id"))
    p = F.col("c").cast("double") / F.col("n")
    return (
        tc.withColumn("n", n)
        .groupBy("doc_id")
        .agg(
            F.max("n").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_distinct"),
            F.round(-F.sum(p * F.log(p)), 6).alias("token_entropy"),
        )
    )


@_register(
    "session_window_stats",
    """
WITH s AS (
  SELECT user_id, ts, value,
    CASE WHEN lag(ts) OVER w IS NULL
              OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
         THEN 1 ELSE 0 END AS new_s
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), t AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM s
)
SELECT user_id,
  CAST(epoch_us(min(ts)) AS BIGINT) AS w_start_us,
  CAST(epoch_us(max(ts)) + 1800000000 AS BIGINT) AS w_end_us,
  CAST(count(*) AS BIGINT) AS n_events,
  round(sum(value), 6) AS total_value
FROM t GROUP BY user_id, sid
""",
)
def q_session_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Spark's NATIVE session_window API (the declarative twin of the
    # manual gaps-and-islands in `sessionization`): one groupBy over
    # (user_id, session_window(ts, gap)) compiles to a dedicated
    # SessionWindow merge — no lag/running-sum window pair. The merge
    # boundary is CLOSED (measured, pinned by pytest): events exactly
    # one gap apart share a session, so the oracle's island break is
    # `> 1800` — the same convention as the manual `sessionization`.
    # window.end is last-event ts + gap by definition.
    e = _t(spark, sf_dir, "events")
    sw = F.session_window("ts", "30 minutes")
    return (
        e.groupBy("user_id", sw)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        .select(
            "user_id",
            F.unix_micros("session_window.start").alias("w_start_us"),
            F.unix_micros("session_window.end").alias("w_end_us"),
            "n_events",
            "total_value",
        )
    )


@_register(
    "kl_source_drift",
    """
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
  WHERE source IS NOT NULL AND text IS NOT NULL),
sc AS (SELECT source, tok, count(*) AS c FROM tok GROUP BY 1, 2),
en AS (
  SELECT source, tok, c,
    sum(c) OVER (PARTITION BY source) AS n_s,
    sum(c) OVER (PARTITION BY tok) AS cc,
    sum(c) OVER () AS n
  FROM sc)
SELECT source, CAST(max(n_s) AS BIGINT) AS n_tokens,
  CAST(round(sum((CAST(c AS DOUBLE) / n_s)
                 * ln((CAST(c AS DOUBLE) / n_s)
                      / (CAST(cc AS DOUBLE) / n))), 6) AS DOUBLE) AS kl_div
FROM en GROUP BY 1
""",
)
def q_kl_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Per-source KL divergence of the token distribution vs the whole
    # corpus — the "is this source drifting / off-domain" curation
    # signal. No smoothing needed: p_source > 0 only for present
    # tokens, and every present token has corpus probability > 0. The
    # (source, tok) count table is the small intermediate (sources x
    # vocab); marginals (r9, VERDICT r8 #3): the GLOBAL total is a
    # 1-row broadcast cross join (benford/important_stock pattern) and
    # the per-SOURCE totals a tiny broadcast join (both keys are
    # low-cardinality — a window over either funnels the vocab-sized
    # table through a handful of tasks at corpus scale); only the
    # per-TOKEN marginal stays a window, partitioned by the
    # vocab-cardinality token key, which distributes fine. Plan
    # guardrail pins zero empty-partition window specs.
    # Non-null contract (ADVICE r9): BOTH the exploded path and the
    # totals path filter `source IS NOT NULL AND text IS NOT NULL` —
    # without it an all-NULL-text source makes SUM return None (driver
    # TypeError on the total), and NULL-source rows would silently
    # diverge from the oracle (inner-join keys never match NULL while
    # PARTITION BY keeps a NULL group). The oracle carries the same
    # WHERE, so the contract is explicit on both engines.
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents").filter(
        F.col("source").isNotNull() & F.col("text").isNotNull()
    )
    sc = (
        d.select("source", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # per-source totals WITHOUT explode: Σ size(split) ≡ Σ c per source
    # (same tokenizer), a map-side-combine agg over documents collected
    # to bounded driver state (#sources rows) — so the expensive
    # exploded lineage runs exactly once and the totals come back as a
    # broadcast local frame + a literal, not a second corpus scan
    src_rows = (
        d.groupBy("source")
        .agg(F.sum(F.size(F.split("text", " "))).alias("n_s"))
        .collect()
    )
    n = sum(r["n_s"] for r in src_rows)
    src_tot = local_frame(
        spark,
        [(r["source"], r["n_s"]) for r in src_rows],
        "source string, n_s long",
    )
    cc = F.sum("c").over(Window.partitionBy("tok"))
    p_s = F.col("c").cast("double") / F.col("n_s")
    p_c = F.col("cc").cast("double") / F.lit(float(n))
    return (
        sc.withColumn("cc", cc)
        .join(F.broadcast(src_tot), "source")
        .groupBy("source")
        .agg(
            F.max("n_s").cast("long").alias("n_tokens"),
            F.round(F.sum(p_s * F.log(p_s / p_c)), 6).alias("kl_div"),
        )
    )


@_register(
    "chisq_type_weekday",
    """
WITH obs AS (
  SELECT event_type AS a, isodow(ts) - 1 AS b, count(*) AS o
  FROM events GROUP BY 1, 2),
m AS (
  SELECT a, b, o,
    sum(o) OVER (PARTITION BY a) AS n_a,
    sum(o) OVER (PARTITION BY b) AS n_b,
    sum(o) OVER () AS n
  FROM obs)
SELECT
  CAST(round(sum((o - CAST(n_a * n_b AS DOUBLE) / n)
                 * (o - CAST(n_a * n_b AS DOUBLE) / n)
                 / (CAST(n_a * n_b AS DOUBLE) / n)), 6) AS DOUBLE) AS chi2,
  CAST((count(DISTINCT a) - 1) * (count(DISTINCT b) - 1) AS BIGINT) AS dof,
  CAST(max(n) AS BIGINT) AS n_obs
FROM m
""",
)
def q_chisq_type_weekday(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Pearson chi-square independence test: is event_type distribution
    # uniform across ISO weekdays? (the F5 ANOVA's categorical-x-
    # categorical sibling; mlstats.chisq_independence). Weekday via
    # F.weekday (0=Mon) == DuckDB isodow-1 — the ISO trap the datetime
    # family already pins. Marginals are windows over the 5x7
    # contingency table, not re-scans.
    e = _t(spark, sf_dir, "events").select(
        "event_type", F.weekday("ts").alias("weekday")
    )
    return ms.chisq_independence(e, "event_type", "weekday")


@_register(
    "association_rules",
    """
WITH b AS (
  SELECT DISTINCT user_id, event_type FROM events),
n AS (SELECT count(DISTINCT user_id) AS n_users FROM b),
tc AS (SELECT event_type, count(*) AS c FROM b GROUP BY 1),
pc AS (
  SELECT x.event_type AS antecedent, y.event_type AS consequent,
         count(*) AS c_ab
  FROM b x JOIN b y ON x.user_id = y.user_id
  WHERE x.event_type <> y.event_type
  GROUP BY 1, 2)
SELECT antecedent, consequent,
  CAST(round(CAST(c_ab AS DOUBLE) / n.n_users, 6) AS DOUBLE) AS support,
  CAST(round(CAST(c_ab AS DOUBLE) / ta.c, 6) AS DOUBLE) AS confidence,
  CAST(round((CAST(c_ab AS DOUBLE) / n.n_users)
             / ((CAST(ta.c AS DOUBLE) / n.n_users)
                * (CAST(tb.c AS DOUBLE) / n.n_users)), 6) AS DOUBLE) AS lift
FROM pc
JOIN tc ta ON pc.antecedent = ta.event_type
JOIN tc tb ON pc.consequent = tb.event_type
CROSS JOIN n
""",
)
def q_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Market-basket association rules over per-user event-type baskets:
    # support / confidence / lift for every ordered type pair. The
    # basket frame fans out four ways (self-join x2, type totals, user
    # count), so it is MATERIALIZED once — one fact scan total, pinned
    # by plan test (unmaterialized, Catalyst re-scans events per
    # consumer: measured 5 scans / 0 reused exchanges). r9 (ADVICE r8):
    # localCheckpoint instead of persist — a persist inside a lazy
    # query function can never be unpersisted by the caller, so every
    # grading/bench invocation leaked another pinned cache copy into
    # the long-lived session; checkpointed blocks are released by the
    # ContextCleaner when the frame is GC'd. Lineage truncation is the
    # point here (single-node local[*]); on a multi-executor cluster
    # prefer reliable checkpointing or caller-scoped persist for
    # fault-tolerance. repartition(user_id) before the distinct means
    # hash(user_id) serves the distinct AND survives materialization
    # into the self-join — no re-exchange. All ratios are
    # exact-integer doubles under round-6.
    e = _t(spark, sf_dir, "events")
    b = (
        e.repartition("user_id")
        .select("user_id", "event_type")
        .distinct()
        .localCheckpoint(eager=False)
    )
    x = b.alias("x")
    y = b.alias("y")
    pc = (
        x.join(y, "user_id")
        .filter(F.col("x.event_type") != F.col("y.event_type"))
        .groupBy(
            F.col("x.event_type").alias("antecedent"),
            F.col("y.event_type").alias("consequent"),
        )
        .agg(F.count(F.lit(1)).alias("c_ab"))
    )
    tc = b.groupBy("event_type").agg(F.count(F.lit(1)).alias("c"))
    n = b.agg(F.count_distinct("user_id").alias("n_users"))
    ta = tc.select(F.col("event_type").alias("antecedent"), F.col("c").alias("c_a"))
    tb = tc.select(F.col("event_type").alias("consequent"), F.col("c").alias("c_b"))
    c_ab = F.col("c_ab").cast("double")
    supp = c_ab / F.col("n_users")
    return (
        pc.join(F.broadcast(ta), "antecedent")
        .join(F.broadcast(tb), "consequent")
        .crossJoin(F.broadcast(n))
        .select(
            "antecedent",
            "consequent",
            F.round(supp, 6).alias("support"),
            F.round(c_ab / F.col("c_a"), 6).alias("confidence"),
            F.round(
                supp
                / (
                    (F.col("c_a").cast("double") / F.col("n_users"))
                    * (F.col("c_b").cast("double") / F.col("n_users"))
                ),
                6,
            ).alias("lift"),
        )
    )


@_register(
    "ewma_daily",
    """
WITH d AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         sum(value) / count(value) AS mean_value
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
i AS (
  SELECT event_type, day, mean_value,
         datediff('day', min(day) OVER (PARTITION BY event_type), day) AS t
  FROM d),
s AS (
  SELECT event_type, day, mean_value,
    sum(mean_value * pow(0.7, -t)) OVER w AS num,
    sum(pow(0.7, -t)) OVER w AS den
  FROM i WINDOW w AS (PARTITION BY event_type ORDER BY day
                      ROWS UNBOUNDED PRECEDING))
SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
  CAST(round(mean_value, 6) AS DOUBLE) AS mean_value,
  CAST(round(num / den, 6) AS DOUBLE) AS ewma
FROM s
""",
)
def q_ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Exponentially weighted moving average (alpha=0.3, pandas
    # adjust=True semantics) of the daily mean value per event type —
    # the exponential-smoothing member of the window family (W3/W4 are
    # flat-window). Closed form as a RATIO OF RUNNING SUMS:
    # ewma_t = sum(x_i r^-i) / sum(r^-i) with r=1-alpha — the r^t
    # prefactors cancel, so no per-row recursion (which SQL windows
    # can't express). r9 (VERDICT r8 #2): r^-t grows 1.43^t and
    # overflows double near t≈2046, so the sums now RESTART every
    # L=512-day segment with the previous segment's totals carried as
    # an algebraically exact seed: a previous-segment row at local
    # offset tl contributes weight r^(L-tl) at the new segment's base,
    # so ewma = (cum_seg + carry_prev) / (den_seg + carry_prev_den)
    # with every intermediate bounded by r^-(L-1) ≈ 1e79 << DBL_MAX.
    # Non-adjacent segments' carry (weight ≤ r^(L+1) ≈ 1e-80, den ≥ 1)
    # is below double resolution — pandas' own recursion drops it
    # identically — so only the adjacent carry is kept (lag over the
    # per-segment totals, gated on seg adjacency). Unbounded-horizon
    # pandas-parity pytest (3,650 days) pins no NaN/Inf and 6dp
    # agreement. Running sums stay order-deterministic; pow's ulp seam
    # washes out under round-6.
    from pyspark.sql import Window

    L = 512
    r = 0.7
    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    d = e.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg((F.sum("value") / F.count("value")).alias("mean_value"))
    wmin = Window.partitionBy("event_type")
    d2 = (
        d.withColumn("t", F.datediff("day", F.min("day").over(wmin)))
        .withColumn("seg", F.floor(F.col("t") / L))
        .withColumn("tl", F.col("t") - F.col("seg") * L)
    )
    word = (
        Window.partitionBy("event_type", "seg")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_den = F.pow(F.lit(r), -F.col("tl"))
    w_num = F.col("mean_value") * w_den
    # previous-segment totals, pre-scaled to this segment's base
    # (weight r^(L-tl) ≤ r — no overflow); the per-segment table is
    # tiny (horizon/512 rows per type), so the lag window is bounded
    segs = d2.groupBy("event_type", "seg").agg(
        F.sum(F.col("mean_value") * F.pow(F.lit(r), L - F.col("tl"))).alias("cn"),
        F.sum(F.pow(F.lit(r), L - F.col("tl"))).alias("cd"),
    )
    wlag = Window.partitionBy("event_type").orderBy("seg")
    adjacent = F.col("seg") - F.lag("seg").over(wlag) == 1
    carry = segs.select(
        "event_type",
        "seg",
        F.when(adjacent, F.lag("cn").over(wlag)).otherwise(F.lit(0.0)).alias("carry_n"),
        F.when(adjacent, F.lag("cd").over(wlag)).otherwise(F.lit(0.0)).alias("carry_d"),
    )
    return (
        d2.withColumn("num", F.sum(w_num).over(word))
        .withColumn("den", F.sum(w_den).over(word))
        .join(F.broadcast(carry), ["event_type", "seg"])
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.round("mean_value", 6).alias("mean_value"),
            F.round(
                (F.col("num") + F.col("carry_n"))
                / (F.col("den") + F.col("carry_d")),
                6,
            ).alias("ewma"),
        )
    )


@_register(
    "bigram_logprob_scores",
    """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
bg AS (
  SELECT doc_id, ts[i] AS w1, ts[i+1] AS w2
  FROM toks, unnest(generate_series(1, greatest(0, len(ts) - 1))) AS u(i)),
c12 AS (SELECT w1, w2, count(*) AS c FROM bg GROUP BY 1, 2),
c1 AS (SELECT w1, sum(c) AS c FROM c12 GROUP BY 1),
v AS (SELECT count(DISTINCT w1) AS vocab FROM c1)
SELECT bg.doc_id,
  CAST(count(*) AS BIGINT) AS n_bigrams,
  CAST(round(sum(ln((CAST(c12.c AS DOUBLE) + 1)
                    / (CAST(c1.c AS DOUBLE) + v.vocab))) / count(*),
             6) AS DOUBLE) AS avg_logprob
FROM bg
JOIN c12 ON bg.w1 = c12.w1 AND bg.w2 = c12.w2
JOIN c1 ON bg.w1 = c1.w1
CROSS JOIN v
GROUP BY 1
""",
)
def q_bigram_logprob_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Statistical LM quality scoring WITHOUT an external model (the
    # KenLM-perplexity-filter shape, self-trained): add-1-smoothed
    # corpus bigram log-probs, averaged per doc — low scores flag
    # gibberish / off-distribution text. The corpus bigram table is the
    # small intermediate; docs join to it on the bigram key (one
    # equi-shuffle of doc bigrams), the unigram marginal comes from the
    # BIGRAM table (never a second corpus pass), vocab is a 1-row
    # broadcast. ln of exact-integer ratios under round-6 — the same
    # libm seam budget as token_entropy/kl_source_drift. The graded form
    # keys by the raw word strings for oracle exactness; hashed=True
    # (operators/text.py) is the measured 100 TB shuffle-bytes path.
    d = _t(spark, sf_dir, "documents")
    return tx.bigram_logprob_scores(d, hashed=False)


@_register(
    "cusum_changepoint",
    """
WITH d AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         sum(value) / count(value) AS x
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
m AS (
  SELECT event_type, day, x,
         avg(x) OVER (PARTITION BY event_type) AS mu
  FROM d),
c AS (
  SELECT event_type, day,
         sum(x - mu) OVER (PARTITION BY event_type ORDER BY day
                           ROWS UNBOUNDED PRECEDING) AS cusum
  FROM m),
r AS (
  SELECT event_type, day, cusum,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY round(abs(cusum), 6) DESC, day ASC) AS rn
  FROM c)
SELECT event_type, strftime(day, '%Y-%m-%d') AS change_day,
  CAST(round(cusum, 6) AS DOUBLE) AS cusum_peak
FROM r WHERE rn = 1
""",
)
def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    # CUSUM changepoint detection per event type: the day where the
    # running sum of deviations from the series mean peaks in absolute
    # value — the classic single-changepoint estimator (argmax |S_t|).
    # One shuffle to daily means; the mean, the ordered running sum and
    # the argmax are three windows over the SAME hash(event_type)
    # distribution — no further exchanges. Running sum is
    # order-deterministic; the argmax ranks on round(|cusum|, 6) so a
    # sub-ulp cross-engine difference in the series mean can never flip
    # which day wins (day asc breaks exact ties).
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    d = e.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg((F.sum("value") / F.count("value")).alias("x"))
    wp = Window.partitionBy("event_type")
    word = wp.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wrank = wp.orderBy(
        F.round(F.abs(F.col("cusum")), 6).desc(), F.col("day").asc()
    )
    return (
        d.withColumn("mu", F.avg("x").over(wp))
        .withColumn("cusum", F.sum(F.col("x") - F.col("mu")).over(word))
        .withColumn("rn", F.row_number().over(wrank))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("change_day"),
            F.round("cusum", 6).alias("cusum_peak"),
        )
    )


@_register(
    "snapshot_user_diff",
    """
WITH old AS (
  SELECT user_id, date_trunc('week', ts) AS w, count(*) AS n_old,
    round(sum(value), 6) AS sum_old
  FROM events WHERE user_id IS NOT NULL AND ts < TIMESTAMP '2024-01-28'
  GROUP BY 1, 2),
new AS (
  SELECT user_id, date_trunc('week', ts) AS w, count(*) AS n_new,
    round(sum(value), 6) AS sum_new
  FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2)
SELECT new.user_id, strftime(new.w, '%Y-%m-%d') AS week,
  CAST(COALESCE(old.n_old, 0) AS BIGINT) AS n_old,
  CAST(new.n_new AS BIGINT) AS n_new,
  COALESCE(old.sum_old, 0.0) AS sum_old,
  new.sum_new,
  CASE WHEN old.user_id IS NULL THEN 'added'
       WHEN old.n_old = new.n_new THEN 'unchanged'
       ELSE 'changed' END AS status
FROM new LEFT JOIN old ON old.user_id = new.user_id AND old.w = new.w
""",
)
def q_snapshot_user_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    # CDC-style diff between two gold-table versions (the versioned-
    # store read path, side-effect-free: "old" = the per-user-week
    # rollup a Jan-28 build would have written, "new" = today's). The
    # user×ISO-week entity + a mid-week cutoff makes ALL THREE branches
    # real at both graded SFs (149 added / 129 changed / 471 unchanged
    # at sf0.01) — a user-level diff graded every row 'changed', the
    # vacuous-branch trap. Classification keys on the INTEGER count
    # only: events are append-only, so equal counts imply identical row
    # sets, while rounded-float-sum equality would sit on a 6dp
    # boundary. Both snapshots aggregate before the join; at 100 TB
    # each prunes to its date partitions first.
    e = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    wk = F.date_trunc("week", F.col("ts"))
    old = (
        e.filter(F.col("ts") < F.lit("2024-01-28").cast("timestamp"))
        .groupBy("user_id", wk.alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_old"),
            F.round(F.sum("value"), 6).alias("sum_old"),
        )
    )
    new = e.groupBy("user_id", wk.alias("w")).agg(
        F.count(F.lit(1)).alias("n_new"),
        F.round(F.sum("value"), 6).alias("sum_new"),
    )
    j = new.join(old, ["user_id", "w"], "left")
    return j.select(
        "user_id",
        F.date_format("w", "yyyy-MM-dd").alias("week"),
        F.coalesce(F.col("n_old"), F.lit(0)).cast("long").alias("n_old"),
        F.col("n_new").cast("long").alias("n_new"),
        F.coalesce(F.col("sum_old"), F.lit(0.0)).alias("sum_old"),
        "sum_new",
        F.when(F.col("n_old").isNull(), "added")
        .when(F.col("n_old") == F.col("n_new"), "unchanged")
        .otherwise("changed")
        .alias("status"),
    )


@_register(
    "theil_sen_daily_trend",
    """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, round(sum(value), 6) AS v
  FROM events GROUP BY 1),
p AS (
  SELECT (b.v - a.v) / date_diff('day', a.d, b.d) AS slope
  FROM daily a JOIN daily b ON a.d < b.d)
SELECT round(median(slope), 6) AS theil_sen_slope,
  CAST(count(*) AS BIGINT) AS n_pairs
FROM p
""",
)
def q_theil_sen_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Theil-Sen robust trend (median of all pairwise slopes — immune to
    # up to ~29% outlier days, where the OLS in group_regression is
    # not): the pair blow-up runs on the AGGREGATED daily table, never
    # the event stream — days grow with calendar time, not data volume,
    # so the self-join is ~D^2/2 rows of two doubles (4k pairs at 92
    # days) and broadcastable at any corpus size. Slopes divide the
    # SAME rounded daily values in both engines; median picks/averages
    # the same order statistics.
    e = _t(spark, sf_dir, "events").withColumn("d", F.to_date("ts"))
    daily = e.groupBy("d").agg(F.round(F.sum("value"), 6).alias("v"))
    a = daily.alias("a")
    b = daily.alias("b")
    pairs = a.join(
        F.broadcast(b), F.col("a.d") < F.col("b.d")
    ).select(
        (
            (F.col("b.v") - F.col("a.v"))
            / F.datediff(F.col("b.d"), F.col("a.d"))
        ).alias("slope")
    )
    return pairs.agg(
        F.round(F.median("slope"), 6).alias("theil_sen_slope"),
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
    )


@_register(
    "acf_daily_revenue",
    """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, round(sum(value), 6) AS v
  FROM events GROUP BY 1),
l AS (SELECT CAST(unnest(range(1, 8)) AS INTEGER) AS lag)
SELECT CAST(l.lag AS BIGINT) AS lag,
  round(corr(a.v, b.v), 6) AS acf,
  CAST(count(*) AS BIGINT) AS n_pairs
FROM daily a CROSS JOIN l JOIN daily b ON b.d = a.d + l.lag
GROUP BY 1
""",
)
def q_acf_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Autocorrelation of daily revenue at CALENDAR lags 1..7 (weekly
    # seasonality shows as a lag-7 peak). Calendar-lag pairing is a
    # date-arithmetic equi-join on the bounded daily table — no global
    # ordering window anywhere, well-defined under missing days, and
    # both engines pair the exact same (d, d+lag) rows. Pearson at 6dp
    # per the correlation_matrix precedent.
    e = _t(spark, sf_dir, "events").withColumn("d", F.to_date("ts"))
    daily = e.groupBy("d").agg(F.round(F.sum("value"), 6).alias("v"))
    lags = spark.range(1, 8).select(F.col("id").cast("int").alias("lag"))
    a = daily.alias("a")
    b = daily.alias("b")
    pairs = a.crossJoin(F.broadcast(lags)).join(
        F.broadcast(b),
        F.col("b.d") == F.date_add(F.col("a.d"), F.col("lag")),
    )
    return (
        pairs.groupBy(F.col("lag").cast("long").alias("lag"))
        .agg(
            F.round(F.corr(F.col("a.v"), F.col("b.v")), 6).alias("acf"),
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
        )
    )


_SEASONAL_CTE = """daily AS (
  SELECT CAST(ts AS DATE) AS d, round(sum(value), 6) AS v
  FROM events GROUP BY 1),
off AS (SELECT CAST(unnest(range(-3, 4)) AS INTEGER) AS o),
tr AS (
  SELECT a.d, a.v, sum(b.v) / 7.0 AS trend
  FROM daily a CROSS JOIN off JOIN daily b ON b.d = a.d + off.o
  GROUP BY 1, 2 HAVING count(*) = 7),
se AS (
  SELECT isodow(d) AS wd, sum(v - trend) / count(*) AS seasonal
  FROM tr GROUP BY 1)"""
# ONE copy of the decomposition core (SQL above, Spark below): the
# decompose query and the anomaly query must stay bit-identical in
# trend/seasonal arithmetic or their oracles drift apart — the
# _label_prop_cte / functions-literals lesson applied here too.


def _seasonal_frames(spark: SparkSession, sf_dir: str):
    """(tr, seasonal_by_weekday) frames shared by the decomposition
    queries: centered 7-day CALENDAR trend on interior days only, then
    per-ISO-weekday seasonal means. sum/7.0 and sum/count spelled
    identically to the SQL CTE (avg()'s accumulation could drift)."""
    e = _t(spark, sf_dir, "events").withColumn("d", F.to_date("ts"))
    daily = e.groupBy("d").agg(F.round(F.sum("value"), 6).alias("v"))
    offs = spark.range(-3, 4).select(F.col("id").cast("int").alias("o"))
    a = daily.alias("a")
    b = daily.alias("b")
    tr = (
        a.crossJoin(F.broadcast(offs))
        .join(
            F.broadcast(b),
            F.col("b.d") == F.date_add(F.col("a.d"), F.col("o")),
        )
        .groupBy(F.col("a.d").alias("d"), F.col("a.v").alias("v"))
        .agg(
            (F.sum(F.col("b.v")) / F.lit(7.0)).alias("trend"),
            F.count(F.lit(1)).alias("n7"),
        )
        .filter(F.col("n7") == 7)
        .drop("n7")
    )
    wd = F.weekday("d") + 1  # ISO weekday (DuckDB isodow; SURVEY trap 2)
    se = tr.groupBy(wd.alias("wd")).agg(
        (F.sum(F.col("v") - F.col("trend")) / F.count(F.lit(1))).alias(
            "seasonal"
        )
    )
    return tr, se


@_register(
    "seasonal_decompose_daily",
    f"""
WITH {_SEASONAL_CTE}
SELECT strftime(tr.d, '%Y-%m-%d') AS d, tr.v,
  round(tr.trend, 6) AS trend,
  round(se.seasonal, 6) AS seasonal,
  round(tr.v - tr.trend - se.seasonal, 6) AS resid
FROM tr JOIN se ON se.wd = isodow(tr.d)
""",
)
def q_seasonal_decompose_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Additive seasonal decomposition (classical, moving-average form):
    # trend = centered 7-day CALENDAR mean (offset join on the bounded
    # daily table — interior days only, edges and gap-adjacent days
    # excluded rather than silently averaged over fewer points);
    # seasonal = per-ISO-weekday mean of the detrended series; resid =
    # v - trend - seasonal. No global window — every step is an
    # equi-join or grouped agg on the daily table. Core shared with
    # seasonal_adjusted_anomalies via _SEASONAL_CTE/_seasonal_frames
    # so the two graded copies cannot drift.
    tr, se = _seasonal_frames(spark, sf_dir)
    wd = F.weekday("d") + 1
    return (
        tr.withColumn("wd", wd)
        .join(F.broadcast(se), "wd")
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("d"),
            "v",
            F.round("trend", 6).alias("trend"),
            F.round("seasonal", 6).alias("seasonal"),
            F.round(
                F.col("v") - F.col("trend") - F.col("seasonal"), 6
            ).alias("resid"),
        )
    )


def _huber_irls_oracle(iters: int = 3, c: float = 1.5) -> str:
    # Huber M-estimator of location by fixed-count IRLS, unrolled as
    # chained CTEs (the pagerank-oracle discipline): start at the
    # median, reweight w = min(1, c*s/|x-mu|) with s = MAD scale frozen
    # from the start, re-estimate mu = sum(w*x)/sum(w). Every literal
    # CAST to DOUBLE; float drift is summation-order only at 6dp.
    cd = f"CAST({c} AS DOUBLE)"
    steps = ",\n".join(
        f"""mu{i + 1} AS (
  SELECT sum(
    CASE WHEN abs(d.v - (SELECT mu FROM mu{i})) <= {cd} * (SELECT s FROM sc)
      THEN d.v
      ELSE d.v * ({cd} * (SELECT s FROM sc)
                  / abs(d.v - (SELECT mu FROM mu{i}))) END) /
  sum(
    CASE WHEN abs(d.v - (SELECT mu FROM mu{i})) <= {cd} * (SELECT s FROM sc)
      THEN CAST(1.0 AS DOUBLE)
      ELSE {cd} * (SELECT s FROM sc)
           / abs(d.v - (SELECT mu FROM mu{i})) END) AS mu
  FROM daily d
)"""
        for i in range(iters)
    )
    return f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, round(sum(value), 6) AS v
  FROM events GROUP BY 1),
mu0 AS (SELECT median(v) AS mu FROM daily),
sc AS (
  SELECT median(abs(v - (SELECT mu FROM mu0))) AS s FROM daily),
{steps}
SELECT round((SELECT mu FROM mu{iters}), 6) AS huber_location,
  round((SELECT mu FROM mu0), 6) AS median_start,
  round((SELECT s FROM sc), 6) AS mad_scale,
  CAST((SELECT count(*) FROM daily) AS BIGINT) AS n_days
"""


@_register("huber_location_daily", _huber_irls_oracle(3, 1.5))
def q_huber_location_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Robust location of daily revenue: Huber M-estimator by exactly 3
    # IRLS rounds (fixed-count => deterministic and SQL-replayable, the
    # pagerank discipline applied to statistics) — between the mean
    # (efficient, outlier-fragile) and the median (robust, inefficient),
    # completing the robust family (MAD, Theil-Sen). Start = median,
    # scale s = MAD frozen from the start; w = min(1, c*s/|x-mu|).
    # Every step aggregates the BOUNDED daily table; the per-iteration
    # scalars ride the plan as broadcast 1-row aggregates — fully lazy,
    # no driver action, no global window.
    c = 1.5
    e = _t(spark, sf_dir, "events").withColumn("d", F.to_date("ts"))
    daily = e.groupBy("d").agg(F.round(F.sum("value"), 6).alias("v"))
    mu = daily.agg(F.median("v").alias("mu"))
    sc = daily.crossJoin(F.broadcast(mu)).agg(
        F.median(F.abs(F.col("v") - F.col("mu"))).alias("s")
    )
    start = mu
    for _ in range(3):
        j = daily.crossJoin(F.broadcast(mu)).crossJoin(F.broadcast(sc))
        dev = F.abs(F.col("v") - F.col("mu"))
        wgt = F.when(dev <= c * F.col("s"), F.lit(1.0)).otherwise(
            c * F.col("s") / dev
        )
        mu = j.agg(
            (F.sum(F.col("v") * wgt) / F.sum(wgt)).alias("mu")
        )
    return (
        mu.crossJoin(F.broadcast(start.withColumnRenamed("mu", "mu0")))
        .crossJoin(F.broadcast(sc))
        .crossJoin(
            F.broadcast(daily.agg(F.count(F.lit(1)).alias("n_days")))
        )
        .select(
            F.round("mu", 6).alias("huber_location"),
            F.round("mu0", 6).alias("median_start"),
            F.round("s", 6).alias("mad_scale"),
            F.col("n_days").cast("long").alias("n_days"),
        )
    )


@_register(
    "seasonal_adjusted_anomalies",
    f"""
WITH {_SEASONAL_CTE},
res AS (
  SELECT tr.d, tr.v, round(tr.v - tr.trend - se.seasonal, 6) AS resid
  FROM tr JOIN se ON se.wd = isodow(tr.d)),
md AS (SELECT median(resid) AS m FROM res),
sc AS (
  SELECT median(abs(resid - (SELECT m FROM md))) AS s FROM res)
SELECT strftime(d, '%Y-%m-%d') AS d, v, resid,
  round(abs(resid - (SELECT m FROM md))
    / (CAST(1.4826 AS DOUBLE) * (SELECT s FROM sc)), 6) AS robust_z
FROM res
WHERE (SELECT s FROM sc) > 0
  AND abs(resid - (SELECT m FROM md))
  > 2.0 * (CAST(1.4826 AS DOUBLE) * (SELECT s FROM sc))
""",
)
def q_seasonal_adjusted_anomalies(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # Seasonality-AWARE anomaly flags: a weekly-pattern day is only
    # anomalous relative to trend+seasonal, not raw level (zscore/mad
    # anomalies both flag ordinary weekend dips). Decomposition core
    # shared with seasonal_decompose_daily (_SEASONAL_CTE /
    # _seasonal_frames — one copy, no drift), then a MAD threshold on
    # the RESIDUAL (median/1.4826-MAD robust z > 2). Residuals are
    # 6dp-rounded BEFORE the median/MAD/threshold on both engines, so
    # the flag decision compares identical doubles.
    c = 1.4826
    tr, se = _seasonal_frames(spark, sf_dir)
    wd = F.weekday("d") + 1
    res = (
        tr.withColumn("wd", wd)
        .join(F.broadcast(se), "wd")
        .select(
            "d",
            "v",
            F.round(
                F.col("v") - F.col("trend") - F.col("seasonal"), 6
            ).alias("resid"),
        )
    )
    md = res.agg(F.median("resid").alias("m"))
    sc = res.crossJoin(F.broadcast(md)).agg(
        F.median(F.abs(F.col("resid") - F.col("m"))).alias("s")
    )
    out = res.crossJoin(F.broadcast(md)).crossJoin(F.broadcast(sc))
    dev = F.abs(F.col("resid") - F.col("m"))
    # s=0 (>=50% identical residuals): robust-z undefined and the
    # division ANSI-aborts — both engines exclude the degenerate scale
    return out.filter((F.col("s") > 0) & (dev > 2.0 * (c * F.col("s")))).select(
        F.date_format("d", "yyyy-MM-dd").alias("d"),
        "v",
        "resid",
        F.round(dev / (c * F.col("s")), 6).alias("robust_z"),
    )


@_register(
    "kaplan_meier_churn",
    """
WITH u AS (
  SELECT user_id, CAST(min(ts) AS DATE) AS f
  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
hit AS (
  SELECT user_id, CAST(min(ts) AS DATE) AS h
  FROM events WHERE user_id IS NOT NULL AND value > 200 GROUP BY 1),
obs AS (
  SELECT u.user_id,
    CASE WHEN hit.h IS NULL
      THEN date_diff('day', u.f,
        (SELECT CAST(max(ts) AS DATE) FROM events
         WHERE user_id IS NOT NULL))
      ELSE date_diff('day', u.f, hit.h) END AS dur,
    CAST(hit.h IS NULL AS INTEGER) AS censored
  FROM u LEFT JOIN hit ON hit.user_id = u.user_id),
ev AS (
  SELECT dur AS t, count(*) AS d FROM obs WHERE censored = 0 GROUP BY 1),
risk AS (
  SELECT ev.t, ev.d, count(*) AS n
  FROM ev JOIN obs ON obs.dur >= ev.t GROUP BY 1, 2),
km AS (
  SELECT r.t, r.n, r.d,
    CASE WHEN (SELECT max(CASE WHEN r2.d = r2.n THEN 1 ELSE 0 END)
               FROM risk r2 WHERE r2.t <= r.t) = 1
      THEN CAST(0.0 AS DOUBLE)
      ELSE exp((SELECT sum(ln(1.0 - CAST(r2.d AS DOUBLE) / r2.n))
                FROM risk r2 WHERE r2.t <= r.t AND r2.d < r2.n)) END AS s
  FROM risk r)
SELECT CAST(t AS BIGINT) AS t_days, CAST(n AS BIGINT) AS n_risk,
  CAST(d AS BIGINT) AS d_hit, round(s, 6) AS survival
FROM km
""",
)
def q_kaplan_meier_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Kaplan-Meier time-to-event with real CENSORING: days from a
    # user's first event to their first value>200 event; users who
    # never hit are censored at corpus end and stay in every risk set
    # up to their censor time — the semantics retention_matrix cannot
    # express (it treats absence as the event). Threshold probed so
    # both branches are populated at BOTH graded SFs (47/150 censored
    # at sf0.01, 5/15 at sf0.001; a naive last-event-churn definition
    # graded 0 rows — every user is active to corpus end). S(t) =
    # exp(sum(ln(1-d/n))) spelled identically on both engines (the
    # equity_curve W7 precedent). Every post-rollup table is bounded by
    # the distinct-duration count (<= observation days), so the risk
    # join and cumulative self-join are broadcast-sized at any corpus
    # size; no global window.
    e = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    end = e.agg(F.max("ts").cast("date").alias("end_d"))
    u = e.groupBy("user_id").agg(F.min("ts").cast("date").alias("f"))
    hit = (
        e.filter(F.col("value") > 200)
        .groupBy("user_id")
        .agg(F.min("ts").cast("date").alias("h"))
    )
    obs = (
        u.join(hit, "user_id", "left")
        .crossJoin(F.broadcast(end))
        .select(
            F.when(
                F.col("h").isNull(),
                F.datediff(F.col("end_d"), F.col("f")),
            )
            .otherwise(F.datediff(F.col("h"), F.col("f")))
            .alias("dur"),
            F.col("h").isNull().cast("int").alias("censored"),
        )
        .localCheckpoint(eager=True)  # reused by ev and the risk join
    )
    ev = (
        obs.filter(F.col("censored") == 0)
        .groupBy(F.col("dur").alias("t"))
        .agg(F.count(F.lit(1)).alias("d"))
    )
    risk = (
        ev.join(obs, obs.dur >= ev.t)
        .groupBy("t", "d")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # d == n absorbs the curve to EXACTLY 0 (everyone at risk hit at
    # t): neither engine may evaluate ln(0) — DuckDB hard-errors,
    # Spark's NULL would silently DROP the term and report a wrong
    # nonzero survival. Zero-flag + d<n-filtered log sum on both sides.
    r2 = risk.select(
        F.col("t").alias("t2"),
        F.when(
            F.col("d") < F.col("n"),
            F.log(1.0 - F.col("d").cast("double") / F.col("n")),
        ).otherwise(F.lit(0.0)).alias("lg"),
        (F.col("d") == F.col("n")).cast("int").alias("zero"),
    )
    km = (
        risk.join(F.broadcast(r2), F.col("t2") <= F.col("t"))
        .groupBy("t", "n", "d")
        .agg(
            F.when(
                F.max("zero") == 1, F.lit(0.0)
            ).otherwise(F.exp(F.sum("lg"))).alias("s")
        )
    )
    return km.select(
        F.col("t").cast("long").alias("t_days"),
        F.col("n").cast("long").alias("n_risk"),
        F.col("d").cast("long").alias("d_hit"),
        F.round("s", 6).alias("survival"),
    )


@_register(
    "benford_deviation",
    """
WITH v AS (
  SELECT regexp_extract(CAST(CAST(o_totalprice AS DECIMAL(18,6)) AS VARCHAR),
                        '[1-9]') AS digit
  FROM orders WHERE o_totalprice > 0),
c AS (SELECT digit, count(*) AS n FROM v GROUP BY 1),
t AS (SELECT sum(n) AS tot FROM c)
SELECT CAST(digit AS BIGINT) AS digit, CAST(n AS BIGINT) AS n,
  CAST(round(CAST(n AS DOUBLE) / tot, 6) AS DOUBLE) AS observed,
  CAST(round(log10(1 + 1.0 / CAST(digit AS BIGINT)), 6) AS DOUBLE)
    AS benford_p,
  CAST(round(CAST(n AS DOUBLE) / tot
             - log10(1 + 1.0 / CAST(digit AS BIGINT)), 6) AS DOUBLE)
    AS deviation
FROM c CROSS JOIN t
""",
)
def q_benford_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Benford first-digit test on order totals — the forensic
    # data-quality screen (fabricated or unit-mangled money values
    # break the log distribution). The first significant digit comes
    # from a regexp on the FIXED-SCALE DECIMAL string, not from
    # floor(log10(v)) — log10 of an exact power of ten can land a hair
    # below the integer and misclassify the digit; the string path has
    # no libm in the classification, only in the reported Benford
    # probabilities. One scan, one 9-row aggregate, 1-row broadcast
    # total.
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    digit = F.regexp_extract(
        F.col("o_totalprice").cast("decimal(18,6)").cast("string"),
        "[1-9]", 0,
    )
    c = o.select(digit.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).alias("n")
    )
    t = c.agg(F.sum("n").alias("tot"))
    obs = F.col("n").cast("double") / F.col("tot")
    bp = F.log10(1 + 1.0 / F.col("digit").cast("long"))
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            F.col("digit").cast("long").alias("digit"),
            F.col("n").cast("long").alias("n"),
            F.round(obs, 6).alias("observed"),
            F.round(bp, 6).alias("benford_p"),
            F.round(obs - bp, 6).alias("deviation"),
        )
    )


@_register(
    "locf_gap_fill",
    """
WITH d AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         sum(value) / count(value) AS x
  FROM events
  WHERE value IS NOT NULL AND event_type = 'purchase' AND user_id < 30
  GROUP BY 1, 2),
span AS (SELECT min(day) AS lo, max(day) AS hi FROM d),
cal AS (
  SELECT t.user_id, CAST(u.day AS DATE) AS day
  FROM (SELECT DISTINCT user_id FROM d) t
  CROSS JOIN span,
       unnest(generate_series(span.lo, span.hi, INTERVAL 1 DAY)) AS u(day)),
j AS (
  SELECT cal.user_id, cal.day, d.x FROM cal
  LEFT JOIN d ON cal.user_id = d.user_id AND cal.day = d.day)
SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
  CAST(x IS NULL AS BIGINT) AS was_gap,
  CAST(round(last_value(x IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY day
                   ROWS UNBOUNDED PRECEDING), 6) AS DOUBLE) AS filled
FROM j
""",
)
def q_locf_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Calendar-spine gap fill with last-observation-carried-forward:
    # the time-series imputation shape (dense calendar x dims LEFT JOIN
    # sparse facts, then last(ignorenulls) over an ordered frame). The
    # spine is per-user purchase days — users do NOT purchase daily, so
    # the fill path really executes (291 gaps at sf0.001 / 2,896 at
    # sf0.01; the event_type spine is gapless on this corpus and would
    # grade a vacuous LOCF). The calendar is generated IN-PLAN
    # (sequence over the broadcast global min/max — no driver-side date
    # loop); leading nulls (before a user's first purchase) stay null
    # in both engines. user_id < 30 keeps the graded output bounded.
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
        & (F.col("event_type") == "purchase")
        & (F.col("user_id") < 30)
    )
    d = e.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg((F.sum("value") / F.count("value")).alias("x"))
    span = d.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    cal = (
        d.select("user_id")
        .distinct()
        .crossJoin(F.broadcast(span))
        .select(
            "user_id",
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))
            ).alias("day"),
        )
    )
    j = cal.join(d, ["user_id", "day"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("x").isNull().cast("long").alias("was_gap"),
        F.round(F.last("x", ignorenulls=True).over(w), 6).alias("filled"),
    )


@_register(
    "mann_whitney_value",
    """
WITH s AS (
  SELECT value,
    count(*) FILTER (WHERE event_type = 'purchase') AS n_p,
    count(*) FILTER (WHERE event_type = 'click') AS n_c
  FROM events
  WHERE value IS NOT NULL AND event_type IN ('purchase', 'click')
  GROUP BY 1),
r AS (
  SELECT n_p, n_c,
    sum(n_p + n_c) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING)
      - (n_p + n_c) + 1 + (n_p + n_c - 1) / 2.0 AS avg_rank
  FROM s),
agg AS (
  SELECT sum(n_p * avg_rank) AS r1,
         sum(n_p) AS n1, sum(n_c) AS n2
  FROM r)
SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
  CAST(round(r1 - n1 * (n1 + 1) / 2.0, 6) AS DOUBLE) AS u1,
  CAST(round((r1 - n1 * (n1 + 1) / 2.0 - n1 * n2 / 2.0)
             / sqrt(n1 * n2 * (n1 + n2 + 1) / 12.0), 6) AS DOUBLE) AS z
FROM agg
""",
)
def q_mann_whitney_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Mann-Whitney U (Wilcoxon rank-sum) test: are purchase values
    # stochastically larger than click values? Ranks are computed at
    # VALUE granularity (group by value first) with DISTRIBUTED
    # two-pass ranking (the q_price_rank_dist_scalable trick): an
    # unpartitioned Window.orderBy would funnel the whole distinct-value
    # table (≈ rows for a continuous double) through ONE task. Instead:
    # quantile-bucket the value domain (approxQuantile — bounded
    # driver state, n_buckets-1 doubles; exactness never depends on the
    # boundary placement, only balance does), aggregate per-bucket
    # totals (collected: ≤ n_buckets rows), embed the cumulative
    # offsets as a literal CASE, and rank WITHIN each bucket via a
    # bucket-partitioned window. Equal values always land in one
    # bucket (strict `<` boundaries), so avg-rank tie handling is
    # preserved exactly. All rank arithmetic is exact (integers and .5
    # halves; sums < 2^53); the only libm is the final sqrt. Plan
    # guardrail pins zero SinglePartition windows.
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
        & F.col("event_type").isin("purchase", "click")
    )
    s = e.groupBy("value").agg(
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("n_p"),
        F.count(F.when(F.col("event_type") == "click", 1)).alias("n_c"),
    )
    # The two-pass ranking needs THREE driver actions over `s`
    # (approxQuantile, bucket-totals collect, then the final agg) — pin
    # one execution with an eager localCheckpoint so events is scanned
    # and aggregated ONCE, not re-scanned per action (ADVICE r9; the
    # checkpointed frame is the compact distinct-value table, and its
    # blocks are GC-released like the association-rules checkpoint).
    s = s.localCheckpoint(eager=True)
    n_buckets = 32
    qs = [i / n_buckets for i in range(1, n_buckets)]
    bounds = sorted(set(s.stat.approxQuantile("value", qs, 0.01)))

    def bucket_of(col):
        b = F.lit(len(bounds))
        for i in reversed(range(len(bounds))):
            b = F.when(col < F.lit(bounds[i]), F.lit(i)).otherwise(b)
        return b

    nv = F.col("n_p") + F.col("n_c")
    sb = s.withColumn("bucket", bucket_of(F.col("value")))
    btot = {
        r["bucket"]: r["tot"]
        for r in sb.groupBy("bucket").agg(F.sum(nv).alias("tot")).collect()
    }
    run = 0
    offsets = {}
    for b in sorted(btot):
        offsets[b] = run
        run += btot[b]
    off = F.lit(0)
    for b, v in offsets.items():
        off = F.when(F.col("bucket") == F.lit(b), F.lit(v)).otherwise(off)
    w = (
        Window.partitionBy("bucket")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    avg_rank = (
        off + F.sum(nv).over(w) - nv + 1 + (nv - 1) / 2.0
    )
    agg = sb.withColumn("avg_rank", avg_rank).agg(
        F.sum(F.col("n_p") * F.col("avg_rank")).alias("r1"),
        F.sum("n_p").alias("n1"),
        F.sum("n_c").alias("n2"),
    )
    u1 = F.col("r1") - F.col("n1") * (F.col("n1") + 1) / 2.0
    mu = F.col("n1") * F.col("n2") / 2.0
    sd = F.sqrt(
        F.col("n1") * F.col("n2") * (F.col("n1") + F.col("n2") + 1) / 12.0
    )
    return agg.select(
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        F.round(u1, 6).alias("u1"),
        F.round((u1 - mu) / sd, 6).alias("z"),
    )

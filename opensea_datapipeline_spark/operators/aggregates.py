"""Aggregation operators (SURVEY.md §2.4, A1-A19).

Spark-first re-expressions of the reference's `EventAggregator`
(`opensea_pipeline/pipeline/src/aggregate.py:16-274`) and the analytics
scripts' rollups. Everything is ``groupBy().agg()`` — Spark's physical
planner does partial (map-side) + final aggregation, spill, and
distinct-aggregate rewrites automatically, so each of these scales to
arbitrarily large inputs as long as the group-key cardinality per partition
is sane (AQE handles skewed keys).

Determinism notes (SURVEY.md §7.3): Polars ``first``/``last`` depend on
encounter order; here every order-sensitive aggregate is expressed as
``min_by``/``max_by`` with an explicit ordering column so results are
stable and oracle-comparable.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def det_mean(col: str | Column, digits: int = 6) -> Column:
    """Cross-engine-deterministic mean: ``round(sum(x), digits) / count(x)``.

    A plain ``avg`` over doubles is order-dependent in its ulps (Spark and a
    SQL oracle sum partitions in different orders), so when the true mean
    lands exactly on the midpoint of the comparison-rounding digit, the two
    engines round opposite ways and value-hash comparison flips. Source data
    here carries ≤6 decimal digits, so rounding the *sum* first recovers the
    exact decimal sum identically on both engines; the final IEEE division
    is then bit-identical. Oracle-side equivalent:
    ``round(sum(x), digits) / count(x)``.
    """
    return F.round(F.sum(col), digits) / F.count(col)


def daily_stats(
    df: DataFrame,
    group_cols: Sequence[str],
    user_col: str,
    price_col: str,
    event_type_col: str = "event_type",
    event_types: Sequence[str] | None = None,
) -> DataFrame:
    """A1+A2+A3+J1: the reference's flagship daily-collection-stats query
    (`aggregate.py:16-94`): per-group transaction counts + distinct actors,
    price stats over priced rows only (`aggregate.py:29`), event-type pivot
    counts (`aggregate.py:32-37`), left-joined back and sorted.

    One logical plan → Catalyst shares the shuffle on ``group_cols`` where
    possible; the three branches are map-side-combined hash aggregates.
    """
    keys = list(group_cols)

    # ONE conditional aggregate instead of three grouped branches + two
    # re-joins: price stats take `when(price>0)` inputs (aggregates skip
    # the nulls, matching the reference's pre-filter, `aggregate.py:29`);
    # the event-type pivot becomes fixed-list conditional counts
    # (`pivot(values=...)` semantics, `aggregate.py:32-37`, null→0 per
    # `aggregate.py:88`). Single shuffle on the group key — at 100 TB this
    # is 1 pass over the fact table instead of 3 plus two join shuffles.
    priced = F.when(F.col(price_col) > 0, F.col(price_col))
    type_counts = [
        F.count(F.when(F.col(event_type_col) == t, F.lit(1)))
        .cast("long")
        .alias(f"{t}_count")
        for t in (event_types or [])
    ]
    return df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("total_transactions"),
        F.countDistinct(user_col).alias("unique_users"),
        F.sum(priced).alias("volume_total"),
        det_mean(priced).alias("price_mean"),
        F.median(priced).alias("price_median"),
        F.min(priced).alias("price_min"),
        F.max(priced).alias("price_max"),
        *type_counts,
    )


def entity_stats(
    df: DataFrame,
    key_cols: Sequence[str],
    price_col: str,
    ts_col: str,
    distinct_col: str,
) -> DataFrame:
    """A4+A5: per-token stats (`aggregate.py:109-140`) generalized to any
    entity key: counts, volume, mean price, distinct counterparties,
    first/last timestamps, and the price at the latest event.

    The reference's ``first``/``last`` (encounter order, `aggregate.py:119,
    128-129`) become explicit ``min``/``max``/``max_by`` orderings.
    """
    keys = list(key_cols)
    return (
        df.groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(price_col).alias("volume_total"),
            det_mean(price_col).alias("price_mean"),
            F.countDistinct(distinct_col).alias("n_distinct"),
            F.min(ts_col).alias("first_seen"),
            F.max(ts_col).alias("last_seen"),
            F.max_by(price_col, ts_col).alias("last_price"),
        )
        
    )


def two_sided_stats(
    df: DataFrame,
    side_a_key: str,
    side_b_key: str,
    price_col: str,
    ts_col: str,
    entity_name: str = "entity",
) -> DataFrame:
    """A7: the wallet-dimension pattern (`aggregate.py:181-212`): aggregate
    each side (buyer/seller) independently, full-outer join on the entity
    key, and combine horizontal min/max via least/greatest.

    Full-outer join with *list-form* ``on`` so the key is coalesced
    (SURVEY.md §7.3 trap 8).
    """
    def _present(col: str) -> F.Column:
        # '' is the missing sentinel for string keys (FIXTURES.md conv. 4);
        # numeric keys only need the null check.
        cond = F.col(col).isNotNull()
        if dict(df.dtypes)[col] == "string":
            cond = cond & (F.col(col) != "")
        return cond

    a = (
        df.filter(_present(side_a_key))
        .groupBy(F.col(side_a_key).alias(entity_name))
        .agg(
            F.count(F.lit(1)).alias("a_events"),
            F.sum(price_col).alias("a_volume"),
            F.min(ts_col).alias("a_first"),
            F.max(ts_col).alias("a_last"),
        )
    )
    b = (
        df.filter(_present(side_b_key))
        .groupBy(F.col(side_b_key).alias(entity_name))
        .agg(
            F.count(F.lit(1)).alias("b_events"),
            F.sum(price_col).alias("b_volume"),
            F.min(ts_col).alias("b_first"),
            F.max(ts_col).alias("b_last"),
        )
    )
    joined = a.join(b, on=[entity_name], how="full_outer")
    return joined.select(
        entity_name,
        F.coalesce("a_events", F.lit(0)).alias("a_events"),
        F.coalesce("b_events", F.lit(0)).alias("b_events"),
        (F.coalesce("a_volume", F.lit(0.0)) + F.coalesce("b_volume", F.lit(0.0))).alias(
            "total_volume"
        ),
        F.least("a_first", "b_first").alias("first_active"),
        F.greatest("a_last", "b_last").alias("last_active"),
    )


def summary_quantiles(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    approx: bool = False,
    accuracy: int = 10_000,
) -> DataFrame:
    """A8: collection summary with quartiles (`aggregate.py:251-268`).

    Two quantile paths, same schema:

    - ``approx=False`` (oracle path): exact ``percentile`` — continuous
      interpolation on both engines (Spark ``percentile`` ↔ DuckDB
      ``quantile_cont``, FIXTURES.md convention 3). Exact percentile
      buffers per-group values in the aggregate — fine for dimension-sized
      groups, a single-reducer bottleneck for 100 TB fact scans.
    - ``approx=True`` (scale path): ``percentile_approx`` (t-digest-style
      mergeable sketch of bounded size ``accuracy``) — fully map-side
      combinable, no per-group value buffering; rank error ≤ 1/accuracy.
    """
    keys = list(group_cols)
    if approx:
        q = [
            F.percentile_approx(value_col, p, accuracy).alias(a)
            for p, a in [(0.5, "median_value"), (0.25, "p25_value"),
                         (0.75, "p75_value")]
        ]
    else:
        q = [
            F.median(value_col).alias("median_value"),
            F.percentile(value_col, 0.25).alias("p25_value"),
            F.percentile(value_col, 0.75).alias("p75_value"),
        ]
    return df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(value_col).alias("total_value"),
        det_mean(value_col).alias("mean_value"),
        *q,
        F.min(value_col).alias("min_value"),
        F.max(value_col).alias("max_value"),
    )


def exact_percentile_distributed(
    df: DataFrame,
    value_col: str,
    p: float,
    accuracy: int = 10_000,
    bracket_cap: int = 5_000_000,
) -> float | None:
    """EXACT linear-interpolation percentile without the single-reducer
    value buffer of ``F.percentile`` — the distributed-selection form:

    1. one pass: count n + a mergeable ``percentile_approx`` sketch gives
       a value bracket [lo, hi] whose rank window provably contains the
       target order statistics (sketch rank error ≤ n/accuracy, bracket
       padded by 2/accuracy in rank);
    2. one pass: exact ranks of the bracket edges (count below lo /
       inside the bracket);
    3. one pass over ONLY the bracket rows (~4n/accuracy + ties) to pick
       the k-th and (k+1)-th order statistics and interpolate exactly as
       ``F.percentile`` / DuckDB ``quantile_cont`` do.

    Every pass is map-side combinable; nothing holds the full column in
    one task, so the same code answers p99-of-100 TB (size ``accuracy``
    ~ n/10^6 there, so the bracket stays a few million rows). If the sketch
    bracket misses (never observed, but the guarantee is verified, not
    trusted) or ties blow the bracket past ``bracket_cap`` rows, falls
    back to the exact single-reducer aggregate rather than answering
    wrong. Returns a Python float (or None on empty input): the scalar
    is algorithm output meant to parameterize a downstream filter — a
    deliberate O(1)-row driver action, like any iterative-algorithm
    control value.
    """
    base = df.select(F.col(value_col).alias("v")).filter(F.col("v").isNotNull())
    pad = 2.0 / accuracy
    p_lo, p_hi = max(0.0, p - pad), min(1.0, p + pad)
    first = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.percentile_approx("v", [p_lo, p_hi], accuracy).alias("br"),
    ).first()
    n = first.n
    if n == 0:
        return None
    lo, hi = float(first.br[0]), float(first.br[1])
    rk = p * (n - 1)
    k = int(rk)
    frac = rk - k

    ranks = base.agg(
        F.count(F.when(F.col("v") < lo, 1)).alias("c_lo"),
        F.count(F.when((F.col("v") >= lo) & (F.col("v") <= hi), 1)).alias("n_br"),
    ).first()
    c_lo, n_br = ranks.c_lo, ranks.n_br
    need_hi = k + (1 if frac > 0 else 0)

    if not (c_lo <= k and need_hi < c_lo + n_br) or n_br > bracket_cap:
        # bracket missed or tie-inflated: exact fallback, never wrong
        return base.agg(F.percentile("v", p)).first()[0]

    idx1 = k - c_lo + 1  # element_at is 1-indexed
    idx2 = idx1 + 1 if frac > 0 else idx1
    vals = (
        base.filter((F.col("v") >= lo) & (F.col("v") <= hi))
        .agg(F.sort_array(F.collect_list("v")).alias("s"))
        .select(
            F.element_at("s", idx1).alias("vk"),
            F.element_at("s", idx2).alias("vk1"),
        )
        .first()
    )
    return float(vals.vk) + frac * (float(vals.vk1) - float(vals.vk))


def monthly_stats(
    df: DataFrame, ts_col: str, value_col: str
) -> DataFrame:
    """A10: monthly market stats (`prepare_visual_market_data.py:156-161`):
    mean/median/count/std by (year, month). ``stddev_samp`` matches
    pandas/Polars ``std`` (ddof=1)."""
    return (
        df.groupBy(
            F.year(ts_col).alias("year"), F.month(ts_col).alias("month")
        )
        .agg(
            det_mean(value_col).alias("mean_value"),
            F.median(value_col).alias("median_value"),
            F.count(F.lit(1)).alias("n_events"),
            F.stddev_samp(value_col).alias("std_value"),
        )
        
    )


def weekday_rollup(df: DataFrame, ts_col: str, value_col: str) -> DataFrame:
    """A13: weekday rollup (`advanced_timeseries_analysis.py:36-40`).

    ISO weekday 1=Mon..7=Sun via ``weekday()+1`` — matches Polars and DuckDB
    ``isodow`` (SURVEY.md §7.3 trap 2; Spark ``dayofweek`` is 1=Sun).
    """
    return (
        df.groupBy((F.weekday(ts_col) + 1).alias("iso_weekday"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(value_col).alias("total_value"),
            det_mean(value_col).alias("mean_value"),
        )
        
    )


def hourly_rollup(df: DataFrame, ts_col: str, value_col: str) -> DataFrame:
    """A13: hourly rollup (`advanced_timeseries_analysis.py:104-106`)."""
    return (
        df.groupBy(F.hour(ts_col).alias("hour"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(value_col).alias("total_value"),
            det_mean(value_col).alias("mean_value"),
        )
        
    )


def top_n(
    df: DataFrame,
    group_cols: Sequence[str],
    measure_col: str,
    n: int,
) -> DataFrame:
    """A14/O4: top-N entities by an aggregate measure
    (`generate_visualizations.py:226-239`). ``orderBy().limit(n)`` compiles
    to a distributed TakeOrdered — no global sort materialized.

    Ties broken by group key for deterministic, oracle-stable output.
    """
    keys = list(group_cols)
    return (
        df.groupBy(*keys)
        .agg(F.sum(measure_col).alias("total"), F.count(F.lit(1)).alias("n_events"))
        .orderBy(F.desc("total"), *keys)
        .limit(n)
    )


def mode_per_group(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """A15: most-frequent value per group (`analyze_cluster_traits.py:355-360`)
    via count + row_number — deterministic tie-break on the value itself."""
    counted = df.groupBy(group_col, value_col).agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy(group_col).orderBy(F.desc("cnt"), F.col(value_col))
    return (
        counted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(group_col, F.col(value_col).alias("mode_value"), F.col("cnt").alias("mode_count"))
        
    )


def duplicate_keys(df: DataFrame, key_cols: Sequence[str]) -> DataFrame:
    """A16: duplicate detection over a key subset (`validate.py:82-91`):
    groups with >1 row, with their multiplicity."""
    keys = list(key_cols)
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .filter(F.col("n_rows") > 1)
        
    )


def pairwise_correlation(
    df: DataFrame,
    time_col: str,
    series_col: str,
    value_col: str,
    series_values: Sequence[str],
) -> DataFrame:
    """A17: correlation matrix between per-series time series
    (`advanced_timeseries_analysis.py:336-344`): pivot wide by series, then
    pairwise Pearson ``F.corr`` over the aligned frame.

    Output is long-form (series_a, series_b, corr) — scale-friendly and
    trivially comparable to a SQL oracle.
    """
    wide = (
        df.groupBy(time_col)
        .pivot(series_col, list(series_values))
        .agg(F.sum(value_col))
        .na.fill(0.0, list(series_values))
    )
    pairs = [
        (a, b) for i, a in enumerate(series_values) for b in series_values[i + 1 :]
    ]
    agg_exprs = [
        F.corr(F.col(a), F.col(b)).alias(f"{a}__{b}") for a, b in pairs
    ]
    row = wide.agg(*agg_exprs)
    # unpivot to long form
    stack_expr = ", ".join(f"'{a}', '{b}', `{a}__{b}`" for a, b in pairs)
    return row.selectExpr(
        f"stack({len(pairs)}, {stack_expr}) as (series_a, series_b, corr)"
    )


def zscore_anomalies(
    df: DataFrame,
    time_col: str,
    value_col: str,
    threshold: float = 3.0,
) -> DataFrame:
    """A18: z-score anomaly detection over a daily series
    (`advanced_timeseries_analysis.py:291-297`).

    Global mean/std computed as a 1-row aggregate and cross-joined back
    (broadcast — it is one row), instead of an unpartitioned window which
    would serialize the whole series through a single task at scale.
    """
    stats = df.agg(
        F.avg(value_col).alias("_mu"), F.stddev_samp(value_col).alias("_sigma")
    )
    return (
        df.crossJoin(F.broadcast(stats))
        # sigma=0 (constant series) has NO anomalies by definition; the
        # bare division is an ANSI DIVIDE_BY_ZERO job abort (r13)
        .withColumn(
            "zscore",
            F.when(
                F.col("_sigma") != 0,
                (F.col(value_col) - F.col("_mu")) / F.col("_sigma"),
            ),
        )
        .filter(F.abs(F.col("zscore")) > threshold)
        .drop("_mu", "_sigma")

    )


def quality_metrics(
    df: DataFrame,
    ts_col: str,
    id_cols: Sequence[str],
) -> DataFrame:
    """A9: global data-quality scalars (`clean_events.py:292-316`) as a
    single-row DataFrame: row count, distinct counts, date range."""
    exprs = [F.count(F.lit(1)).alias("total_rows")]
    for c in id_cols:
        exprs.append(F.countDistinct(c).alias(f"distinct_{c}"))
    exprs.append(F.min(F.to_date(ts_col)).alias("min_date"))
    exprs.append(F.max(F.to_date(ts_col)).alias("max_date"))
    return df.agg(*exprs)


def profile_columns(
    df: DataFrame,
    numeric_cols: Sequence[str] = (),
    string_cols: Sequence[str] = (),
    ts_cols: Sequence[str] = (),
) -> DataFrame:
    """Column profiler (DESCRIBE-style data-quality summary): one row per
    column with null count, exact distinct count, and stringified min/max.

    ONE pass over the input: every per-column statistic is an aggregate in
    a single ``agg`` (multiple exact distincts compile to one Expand +
    aggregate pair — row multiplication by #distinct-columns, still a
    single scan/shuffle, vs one scan per column for the naive union
    form). The 1-row wide result is then inlined to long form, which is
    free. At 100 TB swap ``countDistinct`` for ``approx_count_distinct``
    per column if the Expand fan-out dominates; min/max/null counts are
    plain monoids either way. Doubles format via '%.6f' and timestamps
    via date_format so the profile is engine-portable text.
    """
    aggs: list[F.Column] = [F.count(F.lit(1)).alias("_n")]
    specs: list[tuple[str, str, str]] = []  # (col, kind, safe_name)
    for c in numeric_cols:
        specs.append((c, "num", c))
    for c in string_cols:
        specs.append((c, "str", c))
    for c in ts_cols:
        specs.append((c, "ts", c))
    for c, kind, s in specs:
        aggs.append(F.count(c).alias(f"{s}__cnt"))
        aggs.append(F.countDistinct(c).alias(f"{s}__nd"))
        if kind == "num":
            aggs.append(F.format_string("%.6f", F.min(c)).alias(f"{s}__min"))
            aggs.append(F.format_string("%.6f", F.max(c)).alias(f"{s}__max"))
        elif kind == "ts":
            aggs.append(
                F.date_format(F.min(c), "yyyy-MM-dd HH:mm:ss").alias(f"{s}__min")
            )
            aggs.append(
                F.date_format(F.max(c), "yyyy-MM-dd HH:mm:ss").alias(f"{s}__max")
            )
        else:
            aggs.append(F.min(c).cast("string").alias(f"{s}__min"))
            aggs.append(F.max(c).cast("string").alias(f"{s}__max"))
    wide = df.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("column_name"),
                F.col("_n").cast("long").alias("n_rows"),
                (F.col("_n") - F.col(f"{s}__cnt")).cast("long").alias("n_nulls"),
                F.col(f"{s}__nd").cast("long").alias("n_distinct"),
                F.col(f"{s}__min").alias("min_value"),
                F.col(f"{s}__max").alias("max_value"),
            )
            for c, _, s in specs
        ]
    )
    return wide.select(F.inline(rows))


def group_percentile_exact_distributed(
    df: DataFrame,
    group_col: str,
    value_col: str,
    p: float,
    accuracy: int = 10_000,
    bracket_cap: int = 5_000_000,
) -> DataFrame:
    """Per-GROUP exact percentile without per-group value buffering — the
    grouped generalization of ``exact_percentile_distributed``.

    ``F.percentile`` buffers every value of a group inside one aggregate
    buffer; fine for dimension-sized groups, deadly when one group holds
    billions of fact rows. Here each pass is a plain map-side-combinable
    aggregate keyed by the group, and the per-group bracket metadata
    rides a broadcast join back over the facts:

    1. per-group count + percentile_approx sketch bracket [lo, hi];
    2. per-group exact ranks of the bracket edges;
    3. per-group sorted in-bracket slice (~4n/accuracy rows per group),
       exact k-th / (k+1)-th order statistics via element_at with the
       group's own index, linear interpolation.

    Groups whose sketch bracket misses the target ranks (verified, not
    trusted) fall back to the exact buffered percentile — for those
    groups only. Returns (group, p<percent> value) rows.
    """
    g, v = group_col, value_col
    base = df.select(F.col(g), F.col(v).alias("_v")).filter(
        F.col("_v").isNotNull()
    )
    pad = 2.0 / accuracy
    p_lo, p_hi = max(0.0, p - pad), min(1.0, p + pad)
    meta = (
        base.groupBy(g)
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.percentile_approx("_v", [p_lo, p_hi], accuracy).alias("_br"),
        )
        .select(
            g,
            "_n",
            F.col("_br")[0].alias("_lo"),
            F.col("_br")[1].alias("_hi"),
            F.floor(F.lit(p) * (F.col("_n") - 1)).cast("long").alias("_k"),
            (F.lit(p) * (F.col("_n") - 1)
             - F.floor(F.lit(p) * (F.col("_n") - 1))).alias("_frac"),
        )
    )

    joined = base.join(F.broadcast(meta), g)
    ranks = joined.groupBy(g).agg(
        F.count(F.when(F.col("_v") < F.col("_lo"), 1)).alias("_c_lo"),
        F.count(
            F.when((F.col("_v") >= F.col("_lo")) & (F.col("_v") <= F.col("_hi")), 1)
        ).alias("_n_br"),
    )
    meta2 = meta.join(ranks, g).withColumn(
        "_ok",
        (F.col("_c_lo") <= F.col("_k"))
        & (
            F.col("_k")
            + F.when(F.col("_frac") > 0, 1).otherwise(0)
            < F.col("_c_lo") + F.col("_n_br")
        )
        # tie-heavy groups can inflate the bracket to ~the whole group;
        # collect_list'ing that reinstates the per-group buffering this
        # function exists to avoid — cap it and take the fallback instead
        & (F.col("_n_br") <= F.lit(bracket_cap)),
    )

    good = meta2.filter(F.col("_ok"))
    slices = (
        base.join(F.broadcast(good), g)
        .filter((F.col("_v") >= F.col("_lo")) & (F.col("_v") <= F.col("_hi")))
        .groupBy(g)
        .agg(F.sort_array(F.collect_list("_v")).alias("_s"))
        .join(good, g)
        .select(
            g,
            (
                F.element_at("_s", (F.col("_k") - F.col("_c_lo") + 1).cast("int"))
                + F.col("_frac")
                * (
                    F.element_at(
                        "_s",
                        F.least(
                            F.col("_k") - F.col("_c_lo") + 2,
                            F.col("_n_br"),
                        ).cast("int"),
                    )
                    - F.element_at(
                        "_s", (F.col("_k") - F.col("_c_lo") + 1).cast("int")
                    )
                )
            ).alias("_pv"),
        )
    )
    bad = meta2.filter(~F.col("_ok")).select(g)
    fallback = (
        base.join(F.broadcast(bad), g)
        .groupBy(g)
        .agg(F.percentile("_v", p).alias("_pv"))
    )
    return slices.unionByName(fallback).withColumnRenamed("_pv", "p_value")


def population_stability(
    df: DataFrame,
    value_col: str,
    period_col: str,
    bucket_width: float,
    max_bucket: int,
) -> DataFrame:
    """Population Stability Index between two periods — the standard
    drift monitor a long-running ingest pipeline keeps on every scored
    column (PSI < 0.1 stable, 0.1–0.25 moderate shift, > 0.25 retrain/
    investigate; public credit-scoring folklore, e.g. Siddiqi 2006).

    ``period_col`` must hold exactly two values, 'base' and 'curr'.
    Values bucket into fixed-width bins clamped to [0, ``max_bucket``]
    (the upper cap folds a thin tail into one bin so both periods
    populate every bucket; the lower clamp folds negatives into bucket 0
    so a broken upstream cannot mint unbounded distinct bucket ids);
    Laplace-smoothed shares (+0.5 per bucket) keep ln() finite
    when a bin empties on one side. All inputs to the float math are
    integers, so the arithmetic is engine-exact and the oracle replays
    it; shares and terms round to 6 dp.

    One conditional aggregate over the fact table → per-bucket rows +
    a broadcast-total join: no wide shuffle, PSI at 100 TB costs one
    scan.
    """
    # clamp BOTH ends: a broken upstream emitting negatives (exactly the
    # regime a drift monitor must catch) lands in bucket 0 instead of an
    # unbounded run of distinct negative bucket ids that would dilute the
    # Laplace-smoothed shares (ADVICE r6).
    bucket = F.greatest(
        F.lit(0),
        F.least(
            F.floor(F.col(value_col) / F.lit(float(bucket_width))),
            F.lit(max_bucket),
        ),
    ).cast("long")
    counts = (
        df.filter(F.col(value_col).isNotNull())
        .select(bucket.alias("bucket"), F.col(period_col).alias("_p"))
        .groupBy("bucket")
        .agg(
            F.sum(F.when(F.col("_p") == "base", 1).otherwise(0)).alias("n_base"),
            F.sum(F.when(F.col("_p") == "curr", 1).otherwise(0)).alias("n_curr"),
        )
    )
    totals = counts.agg(
        F.sum("n_base").alias("_tb"),
        F.sum("n_curr").alias("_tc"),
        F.count(F.lit(1)).alias("_nb"),
    )
    smoothed = counts.crossJoin(F.broadcast(totals)).select(
        "bucket",
        "n_base",
        "n_curr",
        ((F.col("n_base") + 0.5) / (F.col("_tb") + 0.5 * F.col("_nb"))).alias("_pb"),
        ((F.col("n_curr") + 0.5) / (F.col("_tc") + 0.5 * F.col("_nb"))).alias("_pc"),
    )
    term = (F.col("_pc") - F.col("_pb")) * F.log(F.col("_pc") / F.col("_pb"))
    w = Window.partitionBy()
    return smoothed.select(
        "bucket",
        "n_base",
        "n_curr",
        F.round("_pb", 6).alias("p_base"),
        F.round("_pc", 6).alias("p_curr"),
        F.round(term, 6).alias("psi_term"),
        F.round(F.sum(term).over(w), 6).alias("psi_total"),
    )


def _heavy_hitter_frames(df: DataFrame, col: str, *, k: int, top: int):
    """The LAZY building blocks of :func:`heavy_hitters`, split out so the
    plan guardrails (tests/test_plans_and_io.py) can inspect them — the
    operator itself executes eagerly to certify, so its returned frame is
    just a local scan and pins on it are blind (VERDICT r9 #1). Returns:

    - ``emitted``: the zero-shuffle Misra-Gries candidate pass — a
      ``mapInPandas`` directly over the scan, candidate rows plus one
      NULL-keyed summary row per partition carrying that partition's
      accumulated decrement ``eps``;
    - ``exact_all``: the exact full-groupBy fallback frame;
    - ``verify(candidates, broadcast_ok)``: exact counts restricted to a
      candidate frame (broadcast hash join when ``broadcast_ok``), top
      rows ordered (count desc, value asc).
    """
    import pandas as pd  # local: Arrow seam only

    cap = 8 * k
    field = df.select(col).schema[0]

    def local_candidates(batches):
        merged = None
        eps = 0
        for b in batches:
            vc = b[col].dropna().value_counts()
            merged = vc if merged is None else merged.add(vc, fill_value=0)
            if len(merged) > cap:
                d = int(merged.nlargest(cap + 1).iloc[-1])
                eps += d
                merged = merged - d
                merged = merged[merged > 0]
        if merged is None:
            return
        keys = merged.index.to_series().reset_index(drop=True)
        out = pd.DataFrame({col: keys, "eps": 0})
        summary = pd.DataFrame({col: [None], "eps": [eps]})
        yield pd.concat([out, summary], ignore_index=True)

    cand_schema = T.StructType(
        [T.StructField(field.name, field.dataType, True),
         T.StructField("eps", T.LongType(), False)]
    )
    emitted = df.select(col).mapInPandas(local_candidates, schema=cand_schema)

    exact_all = (
        df.filter(F.col(col).isNotNull())
        .groupBy(col)
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
        .orderBy(F.col("n_rows").desc(), F.col(col).asc())
        .limit(top)
    )

    def verify(candidates: DataFrame, broadcast_ok: bool) -> DataFrame:
        cand = F.broadcast(candidates) if broadcast_ok else candidates
        return (
            df.join(cand, on=col, how="inner")
            .groupBy(col)
            .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
            .orderBy(F.col("n_rows").desc(), F.col(col).asc())
            .limit(top)
        )

    return emitted, exact_all, verify


def heavy_hitters(
    df: DataFrame,
    col: str,
    *,
    k: int,
    top: int,
    stats_out: dict | None = None,
) -> DataFrame:
    """Bounded-state heavy hitters, EXACT by construction: zero-shuffle
    Misra-Gries candidate pass + exact verification pass, with a proved
    error bound that triggers an exact-groupBy fallback whenever the
    sketch cannot certify the answer (low-skew inputs).

    Pass 1 (``mapInPandas``, no shuffle): each partition keeps a batch-
    merged count table, and whenever it exceeds ``8*k`` entries applies
    the Misra-Gries batch decrement (subtract the (8k+1)-th largest
    count, drop non-positives, accumulate the total decrement ``eps``) —
    per-partition state is O(k) regardless of the column's cardinality.
    At partition end it emits EVERY retained entry (≤ 8k values — no
    frequency bar, so low-skew inputs cannot silently empty the
    candidate set) plus one NULL-keyed summary row carrying ``eps``.
    Misra-Gries invariant: any value NOT retained by a partition has
    local count ≤ eps_p there, so a value retained nowhere has global
    count ≤ B = Σ_p eps_p.

    Pass 2: exact counts for candidates only — a broadcast semi join
    (skipped above ~1M candidates; AQE decides then) keeps reducer
    state bounded by the candidate set instead of the full key
    cardinality, which is the point at 100 TB: a groupBy over a
    trillion-distinct column builds hash state everywhere, while this
    shuffles only retained-candidate keys.

    Certification: if B == 0 the candidate set is exhaustive (no
    partition ever overflowed) and the result is exact outright; else
    the result is exact iff the ``top``-th verified count > B (no
    non-candidate can reach it). When neither holds, fall back to the
    exact full groupBy — correct on every input, sketch-fast on skewed
    ones. Returns ``top`` rows ordered (count desc, value asc);
    driver-side state is bounded (1 summary row + ``top`` rows).

    The candidate pass is nondeterministic (partition boundaries decide
    which keys survive), so ONE execution of it is pinned with an eager
    ``localCheckpoint`` before any driver action (ADVICE r9: with a plain
    ``persist``, cached blocks lost to an executor failure would silently
    RECOMPUTE a possibly-different candidate set / eps than the bound
    already collected, letting certification pass against a stale bound;
    a localCheckpoint truncates lineage, so a lost block fails the job
    loudly instead — and the blocks are GC-released like the
    association-rules checkpoint, no orphaned cache copy).
    """
    spark = df.sparkSession
    field = df.select(col).schema[0]
    emitted, exact_all, verify = _heavy_hitter_frames(df, col, k=k, top=top)
    pinned = emitted.localCheckpoint(eager=True)
    stats = pinned.agg(
        F.sum("eps").alias("b"),
        F.count(col).alias("n_cand"),
    ).first()
    bound = int(stats["b"] or 0)
    n_cand = int(stats["n_cand"] or 0)

    def _report(certified: bool) -> None:
        # observability hook (r10 review): callers that need the
        # certification outcome (scaling legs, monitoring) read it from
        # the operator's OWN pinned execution instead of re-running the
        # nondeterministic candidate pass and risking a stale bound
        if stats_out is not None:
            stats_out.update(
                {"bound": bound, "n_candidates": n_cand, "certified": certified}
            )

    if n_cand == 0:
        # no retained keys: either no non-null data at all (bound 0 →
        # provably empty) or a pathological all-ties decrement emptied
        # every table (bound > 0 → cannot certify, go exact)
        _report(bound == 0)
        return exact_all.limit(0) if bound == 0 else exact_all

    candidates = pinned.filter(F.col(col).isNotNull()).select(col).distinct()
    verified = verify(candidates, broadcast_ok=n_cand <= 1_000_000).collect()
    certified = bound == 0 or (
        len(verified) == top and verified[-1]["n_rows"] > bound
    )
    _report(certified)
    if certified:
        # imported here: the functions package imports pandas, which the
        # batch pipeline (this module's main importer) does not need
        from ..functions.literals import local_frame

        out_schema = T.StructType(
            [T.StructField(field.name, field.dataType, True),
             T.StructField("n_rows", T.LongType(), False)]
        )
        return local_frame(spark, verified, out_schema)
    return exact_all

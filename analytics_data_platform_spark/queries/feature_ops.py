"""Feature-engineering and forecast-evaluation queries.

Three patterns a feature pipeline runs constantly, each formulated so the
statistic is exact-integer (and therefore bit-stable against the DuckDB
oracle) rather than float-accumulated:

- **winsorization** clamps at per-group p05/p95 chosen by *row position*
  (the same integer-quantile idiom as the adaptive k-core threshold) —
  the clamped values stay integers, so before/after moments are exact;
- **sequence mining** counts event-type trigrams from two stacked lead()
  windows sharing one user-keyed sort;
- **seasonal-naive forecasting** is scored with WAPE (Σ|err| / Σ actual),
  which unlike MAPE is a ratio of two exact integer sums.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from analytics_data_platform_spark.operators.ordered import with_global_order
from analytics_data_platform_spark.queries import QuerySpec, register
from analytics_data_platform_spark.sources.testdata import load_table


def winsorized_stats_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type winsorization of `value` at [p05, p95] with
    before/after means.

    The percentile cut points are the cent values at row positions
    ceil(0.05·n) and ceil(0.95·n) of the per-group sort — integer
    selection, no interpolated quantile, so both engines clamp at the
    identical boundary. One sort-shuffle on the group key serves the
    ranking; clamped sums stay BIGINT.
    """
    e = load_table(spark, sf_dir, "events")
    base = e.select(
        "event_type",
        F.col("event_id").alias("eid"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    w = Window.partitionBy("event_type").orderBy("cents", "eid")
    ranked = base.select(
        "event_type",
        "cents",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("n"),
    )
    cuts = (
        ranked.where(
            (F.col("rn") == F.expr("(5 * n + 99) div 100"))
            | (F.col("rn") == F.expr("(95 * n + 99) div 100"))
        )
        .groupBy("event_type")
        .agg(F.min("cents").alias("lo_c"), F.max("cents").alias("hi_c"))
    )
    clamped = base.join(F.broadcast(cuts), "event_type").select(
        "event_type",
        "cents",
        F.least(F.greatest(F.col("cents"), F.col("lo_c")), F.col("hi_c")).alias("wc"),
        "lo_c",
        "hi_c",
    )
    return clamped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.first("lo_c").alias("lo_cents"),
        F.first("hi_c").alias("hi_cents"),
        F.round(F.sum("cents") / F.count(F.lit(1)) / 100.0, 4).alias("mean_raw"),
        F.round(F.sum("wc") / F.count(F.lit(1)) / 100.0, 4).alias("mean_winsorized"),
    )


WINSOR_SQL = """
WITH base AS (
  SELECT event_type, event_id AS eid, CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events
),
ranked AS (
  SELECT event_type, cents,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY cents, eid) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM base
),
cuts AS (
  SELECT event_type, MIN(cents) AS lo_c, MAX(cents) AS hi_c
  FROM ranked
  WHERE rn = (5 * n + 99) // 100 OR rn = (95 * n + 99) // 100
  GROUP BY event_type
),
clamped AS (
  SELECT b.event_type, b.cents,
         LEAST(GREATEST(b.cents, c.lo_c), c.hi_c) AS wc,
         c.lo_c, c.hi_c
  FROM base b JOIN cuts c ON b.event_type = c.event_type
)
SELECT event_type, COUNT(*) AS n_events,
       CAST(ANY_VALUE(lo_c) AS BIGINT) AS lo_cents,
       CAST(ANY_VALUE(hi_c) AS BIGINT) AS hi_cents,
       ROUND(SUM(cents) / COUNT(*) / 100.0, 4) AS mean_raw,
       ROUND(SUM(wc) / COUNT(*) / 100.0, 4) AS mean_winsorized
FROM clamped GROUP BY event_type
"""

register(
    QuerySpec(
        "winsorized_stats_by_type",
        winsorized_stats_by_type,
        WINSOR_SQL,
        doc="per-group p05/p95 winsorization via integer-position quantiles",
        cites="feature-engineering family; integer-quantile idiom shared with kcore",
        tags=("ml", "feature", "window"),
    )
)


TRIGRAM_TOP = 20


def event_trigrams_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top 20 event-type trigrams across per-user ordered event
    sequences — the sequence-mining step behind session-pattern
    dashboards. Both lead() offsets share the single user-keyed sort
    window (one shuffle); the trigram aggregate is |types|³-bounded.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tri = (
        e.select(
            F.col("event_type").alias("t1"),
            F.lead("event_type", 1).over(w).alias("t2"),
            F.lead("event_type", 2).over(w).alias("t3"),
        )
        .where(F.col("t3").isNotNull())
        .groupBy("t1", "t2", "t3")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wr = Window.orderBy(F.desc("n"), "t1", "t2", "t3")
    return (
        tri.withColumn("pos", F.row_number().over(wr))
        .where(F.col("pos") <= TRIGRAM_TOP)
        .select("pos", "t1", "t2", "t3", "n")
    )


TRIGRAM_SQL = f"""
WITH seq AS (
  SELECT event_type AS t1,
         LEAD(event_type, 1) OVER w AS t2,
         LEAD(event_type, 2) OVER w AS t3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
tri AS (
  SELECT t1, t2, t3, COUNT(*) AS n FROM seq WHERE t3 IS NOT NULL
  GROUP BY t1, t2, t3
)
SELECT pos, t1, t2, t3, n FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY n DESC, t1, t2, t3) AS pos FROM tri
) WHERE pos <= {TRIGRAM_TOP}
"""

register(
    QuerySpec(
        "event_trigrams_top",
        event_trigrams_top,
        TRIGRAM_SQL,
        doc="top event-type trigrams over per-user sequences (sequence mining)",
        cites="sequence-mining family; extends event_transition_matrix to order 2",
        tags=("analytics", "window"),
    )
)


def seasonal_naive_wape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast evaluation: predict each day's order
    revenue as the revenue 7 days earlier, score with WAPE per weekday.

    Daily revenue is an exact cent sum; the lag(7) runs over the ordered
    day spine (one tiny window over |days| rows). WAPE = Σ|err|/Σactual
    is a ratio of two exact BIGINT sums — unlike MAPE there is no
    per-row float division to accumulate, which is what makes a
    forecast-accuracy metric hashable.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("cents"))
    )
    w = Window.orderBy("d")
    scored = daily.select(
        "d",
        "cents",
        F.lag("cents", 7).over(w).alias("fc"),
    ).where(F.col("fc").isNotNull())
    return (
        scored.groupBy(F.dayofweek("d").alias("weekday"))
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.sum(F.abs(F.col("cents") - F.col("fc"))).alias("abs_err_cents"),
            F.sum("cents").alias("actual_cents"),
        )
        .select(
            "weekday",
            "n_days",
            "abs_err_cents",
            "actual_cents",
            F.round(F.col("abs_err_cents") / F.col("actual_cents"), 6).alias("wape"),
        )
    )


SEASONAL_WAPE_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders GROUP BY CAST(o_orderdate AS DATE)
),
scored AS (
  SELECT d, cents, LAG(cents, 7) OVER (ORDER BY d) AS fc FROM daily
)
SELECT dayofweek(d) + 1 AS weekday, COUNT(*) AS n_days,
       CAST(SUM(ABS(cents - fc)) AS BIGINT) AS abs_err_cents,
       CAST(SUM(cents) AS BIGINT) AS actual_cents,
       ROUND(CAST(SUM(ABS(cents - fc)) AS DOUBLE) / SUM(cents), 6) AS wape
FROM scored WHERE fc IS NOT NULL
GROUP BY dayofweek(d)
"""

register(
    QuerySpec(
        "seasonal_naive_wape",
        seasonal_naive_wape,
        SEASONAL_WAPE_SQL,
        doc="seasonal-naive (lag-7) revenue forecast scored by per-weekday WAPE",
        cites="forecast-evaluation family; complements ols_daily_revenue_trend",
        tags=("ml", "timeseries"),
    )
)


def quantile_normalize_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of doc length across sources: the i-th of a
    source's m docs (by n_chars) is remapped to the GLOBAL n_chars value
    at integer position ceil(i·N/m) — after which every source has an
    identical length distribution (the cross-assay normalization trick,
    applied to per-source corpus drift).

    A per-source rank window (partitioned — scale-safe) + a DISTRIBUTED
    global rank from the two-pass bucketed scan (operators/ordered.py; a
    global sort window over |documents| would single-reduce at 100 TB)
    + an equi-join on the computed position; every value is an integer,
    the position formula is integer arithmetic, so the mapping is
    engine-exact.
    """
    d = load_table(spark, sf_dir, "documents")
    w_src = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    n_all = d.agg(F.count(F.lit(1)).alias("n_total"))
    ranked = (
        d.select("doc_id", "source", "n_chars")
        .withColumn("i", F.row_number().over(w_src))
        .withColumn("m", F.count(F.lit(1)).over(Window.partitionBy("source")))
        .crossJoin(F.broadcast(n_all))
        .withColumn("gpos", F.expr("(i * n_total + m - 1) div m"))
    )
    glob = with_global_order(
        d.select("n_chars", "doc_id"), "n_chars", tiebreaks=["doc_id"],
        rank_col="gpos",
    ).select("gpos", F.col("n_chars").alias("qn_chars"))
    return ranked.join(glob, "gpos").select(
        "doc_id", "source", "n_chars", "qn_chars"
    )


QN_SQL = """
WITH n_all AS (SELECT COUNT(*) AS n_total FROM documents),
ranked AS (
  SELECT doc_id, source, n_chars,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS i,
         COUNT(*) OVER (PARTITION BY source) AS m
  FROM documents
),
pos AS (
  SELECT r.doc_id, r.source, r.n_chars,
         (r.i * a.n_total + r.m - 1) // r.m AS gpos
  FROM ranked r CROSS JOIN n_all a
),
gq AS (
  SELECT ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS gpos, n_chars AS qn_chars
  FROM documents
)
SELECT p.doc_id, p.source, p.n_chars, g.qn_chars
FROM pos p JOIN gq g ON p.gpos = g.gpos
"""

register(
    QuerySpec(
        "quantile_normalize_chars",
        quantile_normalize_chars,
        QN_SQL,
        doc="cross-source quantile normalization of doc length (integer rank remap)",
        cites="feature-engineering family; distribution alignment for corpus drift",
        tags=("ml", "feature", "window"),
    )
)


def join_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew diagnostics for the fact table's join keys: per-key frequency
    histograms bucketed by floor(log2(count)), plus each bucket's max.

    This is the observability query behind salting/AQE decisions — run it
    before picking a shuffle strategy. Two groupBys per key column (key
    counts, then |buckets| rows); log2 of an exact integer is exact at
    the power-of-two boundaries in both engines, so bucket edges agree.
    """
    li = load_table(spark, sf_dir, "lineitem")
    outs = []
    for keycol in ("l_orderkey", "l_partkey", "l_suppkey"):
        counts = li.groupBy(F.col(keycol).alias("key")).agg(
            F.count(F.lit(1)).alias("n")
        )
        outs.append(
            counts.groupBy(
                F.lit(keycol).alias("key_column"),
                F.floor(F.log2("n")).cast("bigint").alias("log2_bucket"),
            ).agg(
                F.count(F.lit(1)).alias("n_keys"),
                F.max("n").alias("max_count"),
                F.sum("n").alias("n_rows"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


SKEW_SQL = """
WITH k1 AS (SELECT l_orderkey AS key, COUNT(*) AS n FROM lineitem GROUP BY l_orderkey),
k2 AS (SELECT l_partkey AS key, COUNT(*) AS n FROM lineitem GROUP BY l_partkey),
k3 AS (SELECT l_suppkey AS key, COUNT(*) AS n FROM lineitem GROUP BY l_suppkey),
b AS (
  SELECT 'l_orderkey' AS key_column, CAST(FLOOR(LOG2(n)) AS BIGINT) AS log2_bucket,
         COUNT(*) AS n_keys, MAX(n) AS max_count, SUM(n) AS n_rows
  FROM k1 GROUP BY 2
  UNION ALL
  SELECT 'l_partkey', CAST(FLOOR(LOG2(n)) AS BIGINT), COUNT(*), MAX(n), SUM(n)
  FROM k2 GROUP BY 2
  UNION ALL
  SELECT 'l_suppkey', CAST(FLOOR(LOG2(n)) AS BIGINT), COUNT(*), MAX(n), SUM(n)
  FROM k3 GROUP BY 2
)
SELECT key_column, log2_bucket, CAST(n_keys AS BIGINT) AS n_keys,
       CAST(max_count AS BIGINT) AS max_count, CAST(n_rows AS BIGINT) AS n_rows
FROM b
"""

register(
    QuerySpec(
        "join_key_skew_profile",
        join_key_skew_profile,
        SKEW_SQL,
        doc="per-join-key skew histogram (log2 frequency buckets) for shuffle planning",
        cites="observability family; feeds AQE skew-join and salting decisions",
        tags=("observability", "agg"),
    )
)


CUSUM_TOP = 5


def cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point screen over daily order revenue: the days where
    the cumulative deviation from the series mean peaks.

    Scaled to stay integral: D·CUSUM_d = D·prefix_d − d·total (prefix via
    one ordered window over the |days|-row daily aggregate), so the
    statistic is an exact BIGINT and the top-|5| selection cannot be
    reordered by float noise. The only data-sized work is the daily
    cent aggregation.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.date_trunc("day", "o_orderdate").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("cents")
    )
    w = Window.orderBy("d")
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    scored = daily.select(
        "d",
        (
            F.count(F.lit(1)).over(w_all) * F.sum("cents").over(w)
            - F.row_number().over(w) * F.sum("cents").over(w_all)
        ).alias("cusum_scaled"),
    )
    wr = Window.orderBy(F.abs(F.col("cusum_scaled")).desc(), F.col("d"))
    return (
        scored.withColumn("pos", F.row_number().over(wr))
        .where(F.col("pos") <= CUSUM_TOP)
        .select("pos", "d", "cusum_scaled")
    )


CUSUM_SQL = f"""
WITH daily AS (
  SELECT date_trunc('day', o_orderdate) AS d,
         SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders GROUP BY date_trunc('day', o_orderdate)
),
scored AS (
  SELECT d,
         CAST(COUNT(*) OVER () *
              SUM(cents) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              - ROW_NUMBER() OVER (ORDER BY d) * SUM(cents) OVER () AS BIGINT) AS cusum_scaled
  FROM daily
)
SELECT pos, d, cusum_scaled FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY ABS(cusum_scaled) DESC, d) AS pos FROM scored
) WHERE pos <= {CUSUM_TOP}
"""

register(
    QuerySpec(
        "cusum_changepoints",
        cusum_changepoints,
        CUSUM_SQL,
        doc="CUSUM change-point screen on daily revenue (integer-scaled statistic)",
        cites="time-series diagnostics family",
        tags=("ml", "timeseries", "window"),
    )
)


ACTIVITY_PAD_MIN = 30


def interval_coverage_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Active-time coverage per user: every event opens a ±30-minute
    activity interval; overlaps are merged by the sweep-line operator
    (operators/intervals.merge_intervals) so the covered minutes are a
    true union measure, never double-counted. Integer epoch math end to
    end; one user-keyed sort-shuffle serves the whole sweep.
    """
    from analytics_data_platform_spark.operators.intervals import merge_intervals

    e = load_table(spark, sf_dir, "events")
    pad = ACTIVITY_PAD_MIN * 60_000_000
    iv = e.select(
        "user_id",
        (F.unix_micros("ts") - pad).alias("s"),
        (F.unix_micros("ts") + pad).alias("e"),
    )
    merged = merge_intervals(iv, "user_id", "s", "e")
    return merged.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_activity_windows"),
        F.sum("n_source").alias("n_events"),
        F.expr("sum(e - s) div 60000000").alias("covered_minutes"),
    )


COVERAGE_SQL = f"""
WITH iv AS (
  SELECT user_id,
         epoch_us(ts) - {ACTIVITY_PAD_MIN} * 60000000 AS s,
         epoch_us(ts) + {ACTIVITY_PAD_MIN} * 60000000 AS e
  FROM events
),
flagged AS (
  SELECT user_id, s, e,
         CASE WHEN MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                OR s > MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS new_grp
  FROM iv
),
grouped AS (
  SELECT user_id, s, e,
         SUM(new_grp) OVER (PARTITION BY user_id ORDER BY s, e
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
  FROM flagged
),
merged AS (
  SELECT user_id, MIN(s) AS s, MAX(e) AS e, COUNT(*) AS n_source
  FROM grouped GROUP BY user_id, grp
)
SELECT user_id, COUNT(*) AS n_activity_windows,
       CAST(SUM(n_source) AS BIGINT) AS n_events,
       CAST(SUM(e - s) // 60000000 AS BIGINT) AS covered_minutes
FROM merged GROUP BY user_id
"""

register(
    QuerySpec(
        "interval_coverage_per_user",
        interval_coverage_per_user,
        COVERAGE_SQL,
        doc="union measure of per-user activity intervals (sweep-line merge, no double count)",
        cites="operators/intervals.py merge_intervals",
        tags=("analytics", "window", "timeseries"),
    )
)


# ---- population stability index (drift) ------------------------------------

_PSI_SPLIT = "2024-01-16 00:00:00"
_PSI_BINS = 10


def psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the event `value` distribution,
    second half-month vs first — THE production drift gate (PSI > 0.2 =
    retrain), complementing the KS test with a per-bin attribution of
    WHERE the distribution moved.

    Bins are the reference period's deciles chosen by integer row
    position; both periods' bin counts are exact (values strictly above
    the last cut fall into bin 10, so counts partition each period);
    +1 Laplace smoothing keeps ln() finite on empty bins. Each row is one
    bin with its PSI term — a single ln/multiply per bin from exact
    counts — so the hash verifies the full drift decomposition, not just
    a scalar."""
    e = load_table(spark, sf_dir, "events").select(
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        (F.col("ts") >= F.lit(_PSI_SPLIT).cast("timestamp")).cast("int").alias("period"),
        "event_id",
    )
    ref = e.where(F.col("period") == 0)
    n_ref = ref.agg(F.count(F.lit(1)).alias("n"))
    cuts = (
        # distributed global rank (|ref events| grows with data — two-pass
        # bucketed scan, operators/ordered.py; no global sort window)
        with_global_order(
            ref.select("cents", "event_id"), "cents", tiebreaks=["event_id"],
            rank_col="rn",
        )
        .crossJoin(F.broadcast(n_ref))
        .where(F.expr(f"exists(sequence(1, {_PSI_BINS - 1}), k -> rn = (k * n) div {_PSI_BINS})"))
        .groupBy("cents")
        .agg(F.min(F.expr(f"CAST(ceil(rn * {_PSI_BINS} / n) AS BIGINT)")).alias("_"))
        .select(F.col("cents").alias("cut"))
    )
    # bin id = 1 + number of cuts strictly below the value
    binned = e.join(F.broadcast(cuts), F.col("cents") > F.col("cut"), "left").groupBy(
        "event_id", "period"
    ).agg((F.count("cut") + 1).alias("bin"))
    cells = binned.groupBy("bin").agg(
        F.sum(F.expr("IF(period = 0, 1, 0)")).alias("n_ref"),
        F.sum(F.expr("IF(period = 1, 1, 0)")).alias("n_cur"),
    )
    tot = cells.agg(F.sum("n_ref").alias("tr"), F.sum("n_cur").alias("tc"))
    term = (
        "((CAST(n_ref + 1 AS DOUBLE) / (tr + {b})) - (CAST(n_cur + 1 AS DOUBLE) / (tc + {b})))"
        " * ln((CAST(n_ref + 1 AS DOUBLE) / (tr + {b})) / (CAST(n_cur + 1 AS DOUBLE) / (tc + {b})))"
    ).format(b=_PSI_BINS)
    return (
        cells.crossJoin(F.broadcast(tot))
        .selectExpr("bin", "n_ref", "n_cur", f"round({term}, 8) AS psi_term")
        .orderBy("bin")
    )


PSI_SQL = f"""
WITH e AS (
  SELECT CAST(ROUND(value * 100) AS BIGINT) AS cents,
         CASE WHEN ts >= TIMESTAMP '{_PSI_SPLIT}' THEN 1 ELSE 0 END AS period,
         event_id
  FROM events
),
ranked AS (
  SELECT cents,
         ROW_NUMBER() OVER (ORDER BY cents, event_id) AS rn,
         COUNT(*) OVER () AS n
  FROM e WHERE period = 0
),
cuts AS (
  SELECT DISTINCT cents AS cut
  FROM ranked, (SELECT UNNEST(generate_series(1, {_PSI_BINS - 1})) AS k) ks
  WHERE rn = (k * n) // {_PSI_BINS}
),
binned AS (
  SELECT e.event_id, e.period, COUNT(c.cut) + 1 AS bin
  FROM e LEFT JOIN cuts c ON e.cents > c.cut
  GROUP BY 1, 2
),
cells AS (
  SELECT bin,
         CAST(SUM(CASE WHEN period = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
         CAST(SUM(CASE WHEN period = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
  FROM binned GROUP BY 1
),
tot AS (SELECT CAST(SUM(n_ref) AS BIGINT) AS tr, CAST(SUM(n_cur) AS BIGINT) AS tc FROM cells)
SELECT bin, n_ref, n_cur,
       ROUND(((CAST(n_ref + 1 AS DOUBLE) / (tr + {_PSI_BINS}))
              - (CAST(n_cur + 1 AS DOUBLE) / (tc + {_PSI_BINS})))
             * ln((CAST(n_ref + 1 AS DOUBLE) / (tr + {_PSI_BINS}))
                  / (CAST(n_cur + 1 AS DOUBLE) / (tc + {_PSI_BINS}))), 8) AS psi_term
FROM cells, tot
ORDER BY bin
"""


register(
    QuerySpec(
        "psi_value_drift",
        psi_value_drift,
        PSI_SQL,
        doc="population stability index per decile bin (reference-period cuts, Laplace-smoothed)",
        cites="drift family with ks_two_sample_drift; decile idiom of winsorized_stats_by_type",
        tags=("feature", "drift", "stats"),
    )
)


def peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent users per day: sweep-line over each user's MERGED
    ±30-min activity intervals (+1 at starts, −1 at ends, running sum) —
    the capacity-planning number a per-bucket count can only
    approximate, since sessions straddle bucket edges. Ties are ordered
    (time, delta, user) so the running maximum is engine-stable; the
    cumulative sum runs per DAY partition (boundaries per day are
    bounded), with exact integer epoch keys throughout. Output: each
    day's peak and the first microsecond attaining it."""
    from analytics_data_platform_spark.operators.intervals import merge_intervals

    e = load_table(spark, sf_dir, "events")
    pad = ACTIVITY_PAD_MIN * 60_000_000
    iv = e.select(
        "user_id",
        (F.unix_micros("ts") - pad).alias("s"),
        (F.unix_micros("ts") + pad).alias("e"),
    )
    merged = merge_intervals(iv, "user_id", "s", "e")
    deltas = merged.select(
        F.col("s").alias("t"), F.lit(1).alias("d"), "user_id"
    ).unionAll(
        merged.select(F.col("e").alias("t"), F.lit(-1).alias("d"), "user_id")
    ).select(
        F.expr("t div 86400000000").alias("day"), "t", "d", "user_id"
    )
    w = Window.partitionBy("day").orderBy("t", "d", "user_id")
    swept = deltas.select(
        "day",
        "t",
        F.sum("d").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("conc"),
    )
    wmax = Window.partitionBy("day")
    return (
        swept.withColumn("peak", F.max("conc").over(wmax))
        .where(F.col("conc") == F.col("peak"))
        .groupBy("day")
        .agg(F.min("t").alias("peak_at_us"), F.min("peak").alias("peak_users"))
        .selectExpr("day", "peak_users", "peak_at_us")
        .orderBy("day")
    )


PEAK_CONCURRENCY_SQL = f"""
WITH iv AS (
  SELECT user_id,
         epoch_us(ts) - {ACTIVITY_PAD_MIN} * 60000000 AS s,
         epoch_us(ts) + {ACTIVITY_PAD_MIN} * 60000000 AS e
  FROM events
),
flagged AS (
  SELECT user_id, s, e,
         CASE WHEN MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                OR s > MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS new_grp
  FROM iv
),
grouped AS (
  SELECT user_id, s, e,
         SUM(new_grp) OVER (PARTITION BY user_id ORDER BY s, e
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
  FROM flagged
),
merged AS (
  SELECT user_id, MIN(s) AS s, MAX(e) AS e FROM grouped GROUP BY user_id, grp
),
deltas AS (
  SELECT s AS t, 1 AS d, user_id FROM merged
  UNION ALL
  SELECT e AS t, -1 AS d, user_id FROM merged
),
swept AS (
  SELECT t // 86400000000 AS day, t,
         CAST(SUM(d) OVER (PARTITION BY t // 86400000000 ORDER BY t, d, user_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS conc
  FROM deltas
),
peaks AS (
  SELECT day, t, conc, MAX(conc) OVER (PARTITION BY day) AS peak FROM swept
)
SELECT day, CAST(MIN(peak) AS BIGINT) AS peak_users, MIN(t) AS peak_at_us
FROM peaks WHERE conc = peak
GROUP BY day ORDER BY day
"""


register(
    QuerySpec(
        "peak_concurrency",
        peak_concurrency,
        PEAK_CONCURRENCY_SQL,
        doc="daily peak concurrent users via sweep-line over merged activity intervals",
        cites="operators/intervals.py merge_intervals; capacity twin of interval_coverage_per_user",
        tags=("analytics", "interval", "window"),
    )
)


# --- Little's law audit per month ------------------------------------------


def littles_law_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Little's law audit (L = λ·W) on order fulfilment: per month,
    average open orders (L) from month-overlap days, arrival rate (λ =
    orders started / days-in-month), and mean residence time W of the
    orders that started that month. The L/(λW) ratio deviates from 1
    exactly where flow isn't stationary (boundary-spanning orders) — the
    queueing sanity check behind every throughput dashboard.

    The interval→month expansion explodes each order to the months it
    spans (sequence over month starts — bounded by the order's own span,
    no global calendar cross join); everything is integer day arithmetic
    until the three final divisions."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    iv = (
        li.groupBy("l_orderkey").agg(F.max("l_shipdate").alias("done"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            "o_orderkey",
            F.to_date("o_orderdate").alias("s"),
            # synthetic data can ship before the order date; clamp so the
            # month sequence never descends (Spark sequence errors on it)
            F.greatest(F.to_date("done"), F.to_date("o_orderdate")).alias("e"),
        )
    )
    months = iv.select(
        "o_orderkey", "s", "e",
        F.explode(
            F.sequence(F.trunc("s", "month"), F.trunc("e", "month"), F.expr("interval 1 month"))
        ).alias("m"),
    )
    m_end = F.last_day("m")
    overlap = (
        F.datediff(F.least(F.col("e"), m_end), F.greatest(F.col("s"), F.col("m"))) + 1
    )
    per_month = months.groupBy("m").agg(
        F.sum(overlap).alias("open_days"),
        F.sum((F.trunc("s", "month") == F.col("m")).cast("bigint")).alias("n_started"),
        F.sum(
            F.when(F.trunc("s", "month") == F.col("m"), F.datediff("e", "s") + 1)
        ).alias("dur_started"),
    )
    days_in_m = (F.datediff(F.last_day("m"), F.col("m")) + 1).cast("double")
    lam = F.col("n_started") / days_in_m
    big_l = F.col("open_days") / days_in_m
    big_w = F.col("dur_started") / F.col("n_started").cast("double")
    return per_month.where(F.col("n_started") > 0).select(
        F.col("m").cast("timestamp").alias("month"),
        "n_started",
        F.round(big_l, 4).alias("avg_open"),
        F.round(lam, 4).alias("arrival_rate"),
        F.round(big_w, 4).alias("mean_residence_days"),
        F.round(big_l / (lam * big_w), 4).alias("littles_ratio"),
    )


LITTLES_SQL = """
WITH iv AS (
  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS s,
         GREATEST(CAST(done AS DATE), CAST(o_orderdate AS DATE)) AS e
  FROM (SELECT l_orderkey, MAX(l_shipdate) AS done FROM lineitem GROUP BY l_orderkey) d
  JOIN orders ON l_orderkey = o_orderkey
),
months AS (
  SELECT o_orderkey, s, e,
         CAST(unnest(generate_series(date_trunc('month', s), date_trunc('month', e),
                                     INTERVAL 1 MONTH)) AS DATE) AS m
  FROM iv
),
per_month AS (
  SELECT m,
         CAST(SUM(date_diff('day', GREATEST(s, m), LEAST(e, last_day(m))) + 1) AS BIGINT)
           AS open_days,
         CAST(SUM(CASE WHEN date_trunc('month', s) = m THEN 1 ELSE 0 END) AS BIGINT)
           AS n_started,
         CAST(SUM(CASE WHEN date_trunc('month', s) = m
                       THEN date_diff('day', s, e) + 1 END) AS BIGINT) AS dur_started
  FROM months GROUP BY m
)
SELECT CAST(m AS TIMESTAMP) AS month, n_started,
       ROUND(open_days / CAST(date_diff('day', m, last_day(m)) + 1 AS DOUBLE), 4) AS avg_open,
       ROUND(n_started / CAST(date_diff('day', m, last_day(m)) + 1 AS DOUBLE), 4) AS arrival_rate,
       ROUND(dur_started / CAST(n_started AS DOUBLE), 4) AS mean_residence_days,
       ROUND((open_days / CAST(date_diff('day', m, last_day(m)) + 1 AS DOUBLE))
             / ((n_started / CAST(date_diff('day', m, last_day(m)) + 1 AS DOUBLE))
                * (dur_started / CAST(n_started AS DOUBLE))), 4) AS littles_ratio
FROM per_month WHERE n_started > 0
"""

register(
    QuerySpec(
        "littles_law_monthly",
        littles_law_monthly,
        LITTLES_SQL,
        doc="Little's law audit per month (avg open vs arrival rate x residence)",
        cites="ops-analytics family; interval-to-month explode bounded by order span",
        tags=("analytics", "window", "intervals"),
    )
)

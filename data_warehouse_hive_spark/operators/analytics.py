"""Statistical / temporal analytics operators (SURVEY.md §2.13 cont.).

The reference delegates ad-hoc analytical SQL wholesale to Hive
(`backend/hive_manager.py:393-401` runs arbitrary HiveQL over the external
tables it registers); this module covers the statistics-flavoured end of
that surface: regression, distribution moments, interval algebra, event
backlogs, sequence pattern matching and geo distance — each as a
declarative DataFrame plan Catalyst can push down and re-order.

Cross-engine exactness: every double aggregation rides the scaled-long
carrier idiom from registry.py.  Higher-order sums (x·y, x², x³, x⁴) use
SMALLER carrier scales (1e2 / 1e4 / 1) chosen so the summed magnitude
stays far below 2^63 at sf1 and beyond — the scale is part of the formula
and is applied identically on both engines, so any scale choice is exact
by construction.  Derived statistics (slope, skewness, …) are then pure
IEEE double expressions with textually mirrored operand order, rounded to
6 decimals as a belt-and-braces guard.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_warehouse_hive_spark.registry import DEC, dsum, query, to_carrier
from data_warehouse_hive_spark.tables import spread, t


def _psum(c: Column, scale: float) -> Column:
    """Exact power-sum carrier: floor(expr*scale + 0.5) as long.

    Same shape as registry.to_carrier but with a caller-chosen scale so
    higher powers of large columns cannot overflow the long accumulator.
    """
    return F.floor(c * F.lit(scale) + F.lit(0.5)).cast("long")


@query(
    "q_stats_regression",
    oracle="""
    WITH s AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             SUM(CAST(floor(l_quantity * 1e6 + 0.5) AS BIGINT)) AS sx,
             SUM(CAST(floor(l_extendedprice * 1e6 + 0.5) AS BIGINT)) AS sy,
             SUM(CAST(floor(l_quantity * l_extendedprice * 100.0 + 0.5)
                      AS BIGINT)) AS sxy,
             SUM(CAST(floor(l_quantity * l_quantity * 100.0 + 0.5)
                      AS BIGINT)) AS sxx,
             SUM(CAST(floor(l_extendedprice * l_extendedprice * 1.0 + 0.5)
                      AS BIGINT)) AS syy
      FROM lineitem
      GROUP BY l_returnflag
    ), m AS (
      SELECT l_returnflag, n,
             CAST(sx AS DOUBLE) / 1e6 / CAST(n AS DOUBLE) AS mx,
             CAST(sy AS DOUBLE) / 1e6 / CAST(n AS DOUBLE) AS my,
             CAST(sxy AS DOUBLE) / 100.0 / CAST(n AS DOUBLE) AS qxy,
             CAST(sxx AS DOUBLE) / 100.0 / CAST(n AS DOUBLE) AS qxx,
             CAST(syy AS DOUBLE) / 1.0 / CAST(n AS DOUBLE) AS qyy
      FROM s
    ), c AS (
      SELECT l_returnflag, n, mx, my,
             qxy - mx * my AS cov,
             qxx - mx * mx AS varx,
             qyy - my * my AS vary
      FROM m
    )
    SELECT l_returnflag, n,
           round(cov / varx, 6) AS slope,
           round(my - cov / varx * mx, 6) AS intercept,
           round(cov * cov / (varx * vary), 6) AS r2
    FROM c
    ORDER BY l_returnflag
    """,
)
def q_stats_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS linear regression (extendedprice ~ quantity) from
    exact power sums: slope, intercept and R² per return flag.

    One map-side-combinable aggregation computes the five sufficient
    statistics (Σx, Σy, Σxy, Σx², Σy²) as exact longs — the regression
    itself is O(groups) driver-free arithmetic on the aggregate row, so
    the plan is a single shuffle regardless of fact size: this is how
    regr_slope/regr_r2 would execute at 100 TB, but with cross-engine
    bit-reproducible results (Spark's regr_* stream doubles whose
    accumulation order varies by partitioning).  Product sums use carrier
    scale 1e2/1 so |Σ| stays < 2^63 far beyond sf1.
    """
    l = t(spark, sf_dir, "lineitem")
    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    s = l.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(to_carrier(x)).alias("sx"),
        F.sum(to_carrier(y)).alias("sy"),
        F.sum(_psum(x * y, 100.0)).alias("sxy"),
        F.sum(_psum(x * x, 100.0)).alias("sxx"),
        F.sum(_psum(y * y, 1.0)).alias("syy"),
    )
    nd = F.col("n").cast("double")
    m = s.select(
        "l_returnflag",
        "n",
        (F.col("sx").cast("double") / F.lit(1e6) / nd).alias("mx"),
        (F.col("sy").cast("double") / F.lit(1e6) / nd).alias("my"),
        (F.col("sxy").cast("double") / F.lit(100.0) / nd).alias("qxy"),
        (F.col("sxx").cast("double") / F.lit(100.0) / nd).alias("qxx"),
        (F.col("syy").cast("double") / F.lit(1.0) / nd).alias("qyy"),
    )
    c = m.select(
        "l_returnflag",
        "n",
        "mx",
        "my",
        (F.col("qxy") - F.col("mx") * F.col("my")).alias("cov"),
        (F.col("qxx") - F.col("mx") * F.col("mx")).alias("varx"),
        (F.col("qyy") - F.col("my") * F.col("my")).alias("vary"),
    )
    return c.select(
        "l_returnflag",
        "n",
        F.round(F.col("cov") / F.col("varx"), 6).alias("slope"),
        F.round(
            F.col("my") - F.col("cov") / F.col("varx") * F.col("mx"), 6
        ).alias("intercept"),
        F.round(
            F.col("cov") * F.col("cov") / (F.col("varx") * F.col("vary")), 6
        ).alias("r2"),
    ).orderBy("l_returnflag")


@query(
    "q_agg_moments",
    oracle="""
    WITH s AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             SUM(CAST(floor(l_quantity * 1e6 + 0.5) AS BIGINT)) AS s1,
             SUM(CAST(floor(l_quantity * l_quantity * 1e4 + 0.5)
                      AS BIGINT)) AS s2,
             SUM(CAST(floor(l_quantity * l_quantity * l_quantity * 1e2 + 0.5)
                      AS BIGINT)) AS s3,
             SUM(CAST(floor(l_quantity * l_quantity * l_quantity * l_quantity
                            * 1.0 + 0.5) AS BIGINT)) AS s4
      FROM lineitem
      GROUP BY l_returnflag
    ), m AS (
      SELECT l_returnflag, n,
             CAST(s1 AS DOUBLE) / 1e6 / CAST(n AS DOUBLE) AS mean,
             CAST(s2 AS DOUBLE) / 1e4 / CAST(n AS DOUBLE) AS q2,
             CAST(s3 AS DOUBLE) / 1e2 / CAST(n AS DOUBLE) AS q3,
             CAST(s4 AS DOUBLE) / 1.0 / CAST(n AS DOUBLE) AS q4
      FROM s
    ), c AS (
      SELECT l_returnflag, n, mean, q2,
             q2 - mean * mean AS varp,
             q3 - 3.0 * mean * q2 + 2.0 * mean * mean * mean AS m3,
             q4 - 4.0 * mean * q3 + 6.0 * mean * mean * q2
                - 3.0 * mean * mean * mean * mean AS m4
      FROM m
    )
    SELECT l_returnflag, n,
           round(mean, 6) AS mean_qty,
           round(sqrt(varp * CAST(n AS DOUBLE)
                      / (CAST(n AS DOUBLE) - 1.0)), 6) AS stddev_samp,
           round(m3 / (sqrt(varp) * varp), 6) AS skewness,
           round(m4 / (varp * varp) - 3.0, 6) AS kurtosis_excess
    FROM c
    ORDER BY l_returnflag
    """,
)
def q_agg_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution moments per group — mean, sample stddev, population
    skewness and excess kurtosis — from exact central-moment algebra.

    Spark's skewness()/kurtosis() builtins stream doubles (result bits
    depend on partition count); here the four raw power sums Σx..Σx⁴
    accumulate as exact longs (scales 1e6/1e4/1e2/1 keep l_quantity⁴ sums
    < 2^63 past sf10), then the central moments are derived with the
    textbook identities in mirrored IEEE arithmetic.  Single shuffle,
    map-side partials, whole-stage codegen throughout.
    """
    l = t(spark, sf_dir, "lineitem")
    x = F.col("l_quantity")
    s = l.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_psum(x, 1e6)).alias("s1"),
        F.sum(_psum(x * x, 1e4)).alias("s2"),
        F.sum(_psum(x * x * x, 1e2)).alias("s3"),
        F.sum(_psum(x * x * x * x, 1.0)).alias("s4"),
    )
    nd = F.col("n").cast("double")
    m = s.select(
        "l_returnflag",
        "n",
        (F.col("s1").cast("double") / F.lit(1e6) / nd).alias("mean"),
        (F.col("s2").cast("double") / F.lit(1e4) / nd).alias("q2"),
        (F.col("s3").cast("double") / F.lit(1e2) / nd).alias("q3"),
        (F.col("s4").cast("double") / F.lit(1.0) / nd).alias("q4"),
    )
    mean = F.col("mean")
    c = m.select(
        "l_returnflag",
        "n",
        "mean",
        "q2",
        (F.col("q2") - mean * mean).alias("varp"),
        (
            F.col("q3") - F.lit(3.0) * mean * F.col("q2")
            + F.lit(2.0) * mean * mean * mean
        ).alias("m3"),
        (
            F.col("q4")
            - F.lit(4.0) * mean * F.col("q3")
            + F.lit(6.0) * mean * mean * F.col("q2")
            - F.lit(3.0) * mean * mean * mean * mean
        ).alias("m4"),
    )
    nd2 = F.col("n").cast("double")
    return c.select(
        "l_returnflag",
        "n",
        F.round(F.col("mean"), 6).alias("mean_qty"),
        F.round(
            F.sqrt(F.col("varp") * nd2 / (nd2 - F.lit(1.0))), 6
        ).alias("stddev_samp"),
        F.round(
            F.col("m3") / (F.sqrt(F.col("varp")) * F.col("varp")), 6
        ).alias("skewness"),
        F.round(
            F.col("m4") / (F.col("varp") * F.col("varp")) - F.lit(3.0), 6
        ).alias("kurtosis_excess"),
    ).orderBy("l_returnflag")


@query(
    "q_time_overlap_merge",
    oracle="""
    WITH iv AS (
      SELECT user_id, event_id, ts AS s,
             ts + to_minutes(CAST(floor(value) AS BIGINT) % 120 + 10) AS e
      FROM events
    ), mk AS (
      SELECT user_id, event_id, s, e,
             MAX(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING) AS prev_max
      FROM iv
    ), fl AS (
      SELECT user_id, event_id, s, e,
             CASE WHEN prev_max IS NULL OR s > prev_max
                  THEN 1 ELSE 0 END AS new_island
      FROM mk
    ), isl AS (
      SELECT user_id, s, e,
             SUM(new_island) OVER (PARTITION BY user_id ORDER BY s, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) AS island
      FROM fl
    ), grp AS (
      SELECT user_id, island, MIN(s) AS ms, MAX(e) AS me,
             COUNT(*) AS n_ev
      FROM isl GROUP BY user_id, island
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_merged,
           CAST(SUM(n_ev) AS BIGINT) AS n_intervals,
           CAST(SUM(epoch_us(me) - epoch_us(ms)) AS BIGINT)
             AS covered_us
    FROM grp
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def q_time_overlap_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval overlap-merge (interval union) per key: each event opens a
    variable-length interval [ts, ts + 10..129 min]; overlapping intervals
    coalesce into maximal covered spans — the classic gaps-and-islands
    generalization to ranges (machine-uptime merging, ad-exposure windows,
    CDC validity coalescing).

    The merge is one window pass: running MAX(end) over (start, id) order
    marks island starts where start > max-end-so-far, a running SUM labels
    islands, one groupBy collapses them.  Everything partitions by
    user_id — per-key state is the sort buffer only, so the plan is two
    shuffles (window + final agg share the user_id partitioning; AQE
    reuses the exchange) at any scale.
    """
    ev = t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.col("ts").alias("s"),
        F.expr(
            "ts + make_dt_interval(0, 0, CAST(CAST(floor(value) AS BIGINT)"
            " % 120 + 10 AS INT), 0)"
        ).alias("e"),
    )
    w_order = [F.col("s"), F.col("event_id")]
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy(*w_order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy(*w_order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fl = ev.withColumn("prev_max", F.max("e").over(w_prev)).withColumn(
        "new_island",
        F.when(
            F.col("prev_max").isNull() | (F.col("s") > F.col("prev_max")), 1
        ).otherwise(0),
    )
    isl = fl.withColumn("island", F.sum("new_island").over(w_run))
    grp = isl.groupBy("user_id", "island").agg(
        F.min("s").alias("ms"),
        F.max("e").alias("me"),
        F.count(F.lit(1)).alias("n_ev"),
    )
    return (
        grp.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_merged"),
            F.sum("n_ev").alias("n_intervals"),
            F.sum(
                F.unix_micros("me") - F.unix_micros("ms")
            ).alias("covered_us"),
        )
        .orderBy("user_id")
    )


@query(
    "q_orders_backlog",
    oracle="""
    WITH closed AS (
      SELECT o.o_orderkey,
             date_trunc('month', o.o_orderdate) AS om,
             date_trunc('month', MAX(l.l_shipdate)) AS cm
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, date_trunc('month', o.o_orderdate)
    ), deltas AS (
      SELECT om AS m, 1 AS d FROM closed
      UNION ALL
      SELECT cm AS m, -1 AS d FROM closed
    ), net AS (
      SELECT m, CAST(SUM(d) AS BIGINT) AS net_change
      FROM deltas GROUP BY m
    )
    SELECT strftime(m, '%Y-%m') AS month,
           net_change,
           CAST(SUM(net_change) OVER (ORDER BY m
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS open_orders
    FROM net
    ORDER BY month
    """,
)
def q_orders_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog time series via event-delta accumulation: every
    order contributes +1 at its placement month and −1 at the month its
    last line ships; the running sum of monthly net change IS the number
    of in-flight orders at each month end — the standard inventory /
    queue-depth pattern that avoids the quadratic "count intervals
    covering each day" join.

    Scale shape: the order→last-ship reduction is one key-partitioned
    aggregation over the fact join; the delta stream then collapses to
    O(months) rows BEFORE the global running-sum window, so the
    single-partition window sees dozens of rows, never data-scale — the
    correct way to make a global cumulative metric scale-proof.
    """
    o = t(spark, sf_dir, "orders")
    l = t(spark, sf_dir, "lineitem")
    closed = (
        o.join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            "o_orderkey",
            F.date_trunc("month", "o_orderdate").alias("om"),
        )
        .agg(F.date_trunc("month", F.max("l_shipdate")).alias("cm"))
    )
    deltas = closed.select(
        F.col("om").alias("m"), F.lit(1).alias("d")
    ).unionAll(closed.select(F.col("cm").alias("m"), F.lit(-1).alias("d")))
    net = deltas.groupBy("m").agg(F.sum("d").alias("net_change"))
    w = Window.orderBy("m").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        net.withColumn("open_orders", F.sum("net_change").over(w))
        .select(
            F.date_format("m", "yyyy-MM").alias("month"),
            "net_change",
            "open_orders",
        )
        .orderBy("month")
    )


@query(
    "q_events_seqmatch",
    oracle="""
    WITH seqs AS (
      SELECT user_id,
             string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
               AS seq
      FROM events
      GROUP BY user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(CASE WHEN regexp_matches(seq, 'v.*c.*p')
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_funnel,
           CAST(SUM(CASE WHEN regexp_matches(seq, 'p.*p.*p')
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_triple_buyer,
           CAST(SUM(CASE WHEN regexp_matches(seq, 'e$')
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_end_on_error,
           CAST(SUM(length(seq)) AS BIGINT) AS total_events,
           CAST(MAX(length(seq)) AS BIGINT) AS longest_seq
    FROM seqs
    """,
)
def q_events_seqmatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence pattern matching over per-user event strings — the
    lightweight MATCH_RECOGNIZE: each user's ordered event history is
    compressed to one character per event (the five fixture event types
    have distinct initials), then regex predicates classify whole
    journeys (view→cart→purchase funnel with arbitrary noise between
    steps, 3+ purchases, error-terminated sessions).

    The per-user string is built by ONE aggregation (sort_array over
    (ts, id, char) structs → concat), so ordering is total and
    deterministic; regexes then run per user-row, not per event.  At
    100 TB the per-user sequence is bounded by user activity, not corpus
    size, and the single shuffle partitions on the user key.  Regex
    evaluation is JVM codegen; patterns are in the Java∩RE2 common
    dialect so the DuckDB oracle runs them verbatim.
    """
    ev = t(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.substring("event_type", 1, 1).alias("ch"),
    )
    seqs = ev.groupBy("user_id").agg(
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(F.collect_list(F.struct("ts", "event_id", "ch"))),
                lambda x: x["ch"],
            ),
        ).alias("seq")
    )
    flag = lambda pat: F.sum(  # noqa: E731
        F.when(F.col("seq").rlike(pat), 1).otherwise(0)
    )
    return seqs.agg(
        F.count(F.lit(1)).alias("n_users"),
        flag("v.*c.*p").alias("n_funnel"),
        flag("p.*p.*p").alias("n_triple_buyer"),
        flag("e$").alias("n_end_on_error"),
        F.sum(F.length("seq")).alias("total_events"),
        F.max(F.length("seq")).alias("longest_seq"),
    )


@query(
    "q_geo_haversine",
    oracle="""
    WITH geo AS (
      SELECT n_nationkey AS k, n_name,
             CAST((n_nationkey * 7) % 140 AS DOUBLE) - 70.0 + 0.5 AS lat,
             CAST((n_nationkey * 13) % 360 AS DOUBLE) - 180.0 + 0.25 AS lon
      FROM nation
    ), pairs AS (
      SELECT a.n_name AS name_a, b.n_name AS name_b,
             sin((radians(b.lat) - radians(a.lat)) / 2.0) AS sa,
             sin((radians(b.lon) - radians(a.lon)) / 2.0) AS sb,
             cos(radians(a.lat)) * cos(radians(b.lat)) AS cc
      FROM geo a JOIN geo b ON a.k < b.k
    )
    SELECT name_a, name_b,
           round(2.0 * 6371.0088
                 * asin(sqrt(sa * sa + cc * sb * sb)), 4) AS dist_km
    FROM pairs
    ORDER BY dist_km, name_a, name_b
    LIMIT 20
    """,
)
def q_geo_haversine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Great-circle (haversine) distance over a generated geo dimension:
    deterministic lat/lon per nation, all 300 unordered nation pairs,
    top-20 closest.  The geolocation join pattern for enrichment at
    scale: the coordinate dimension is tiny and broadcast, the trig is
    whole-stage-codegen JVM math, and a top-k TakeOrderedAndProject
    replaces a global sort.

    Cross-engine note: libm sin/cos/asin may differ by an ulp between
    JVM and DuckDB; distances are rounded to 1e-4 km (10 cm) which
    absorbs ~1e5 of that margin while staying a meaningful measure.
    """
    n = t(spark, sf_dir, "nation")
    geo = n.select(
        F.col("n_nationkey").alias("k"),
        "n_name",
        (
            ((F.col("n_nationkey") * 7) % 140).cast("double")
            - F.lit(70.0)
            + F.lit(0.5)
        ).alias("lat"),
        (
            ((F.col("n_nationkey") * 13) % 360).cast("double")
            - F.lit(180.0)
            + F.lit(0.25)
        ).alias("lon"),
    )
    a = geo.alias("a")
    b = geo.alias("b")
    pairs = a.join(b, F.col("a.k") < F.col("b.k")).select(
        F.col("a.n_name").alias("name_a"),
        F.col("b.n_name").alias("name_b"),
        F.sin(
            (F.radians(F.col("b.lat")) - F.radians(F.col("a.lat")))
            / F.lit(2.0)
        ).alias("sa"),
        F.sin(
            (F.radians(F.col("b.lon")) - F.radians(F.col("a.lon")))
            / F.lit(2.0)
        ).alias("sb"),
        (F.cos(F.radians(F.col("a.lat"))) * F.cos(F.radians(F.col("b.lat")))).alias(
            "cc"
        ),
    )
    return (
        pairs.select(
            "name_a",
            "name_b",
            F.round(
                F.lit(2.0)
                * F.lit(6371.0088)
                * F.asin(
                    F.sqrt(
                        F.col("sa") * F.col("sa")
                        + F.col("cc") * F.col("sb") * F.col("sb")
                    )
                ),
                4,
            ).alias("dist_km"),
        )
        .orderBy("dist_km", "name_a", "name_b")
        .limit(20)
    )


# extra business days in the (0..6)-day tail after a start day of ISO dow
# 1..7: flat 7x7 lookup indexed (dow1-1)*7 + rem, generated by enumeration
# (sum of weekday hits walking rem days forward from dow1) — identical
# literal on both engines, so the calendar arithmetic cannot drift.
_BIZ_TAIL = [0, 1, 2, 3, 4, 4, 4, 0, 1, 2, 3, 3, 3, 4, 0, 1, 2, 2, 2, 3, 4,
             0, 1, 1, 1, 2, 3, 4, 0, 0, 0, 1, 2, 3, 4, 0, 0, 1, 2, 3, 4, 5,
             0, 1, 2, 3, 4, 5, 5]


@query(
    "q_time_business_days",
    oracle=f"""
    WITH j AS (
      SELECT date_diff('day', o.o_orderdate, l.l_shipdate) AS d,
             isodow(o.o_orderdate) AS dw
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      WHERE l.l_shipdate >= o.o_orderdate
    )
    SELECT CAST((d // 7) * 5
           + ([{", ".join(str(x) for x in _BIZ_TAIL)}])[(dw - 1) * 7 + (d % 7) + 1]
           AS BIGINT) AS biz_days,
           COUNT(*) AS n_lines
    FROM j
    GROUP BY 1
    ORDER BY biz_days
    """,
)
def q_time_business_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Business-day (Mon–Fri) latency between order placement and line
    shipment — the SLA arithmetic plain calendar diffs get wrong: full
    weeks contribute 5 days, the remainder tail is resolved through a
    49-entry enumerated lookup keyed by (start ISO dow, tail length), so
    there is no per-row iteration and no engine-specific week
    convention.  Output is the latency histogram (O(distinct latencies)
    rows after one fact join + hash agg)."""
    o = t(spark, sf_dir, "orders")
    l = t(spark, sf_dir, "lineitem")
    j = (
        o.join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") >= F.col("o_orderdate"))
        .select(
            F.datediff("l_shipdate", "o_orderdate").alias("d"),
            (F.weekday("o_orderdate") + F.lit(1)).alias("dw"),
        )
    )
    tail = F.element_at(
        F.array(*[F.lit(x) for x in _BIZ_TAIL]),
        ((F.col("dw") - 1) * 7 + (F.col("d") % 7) + 1).cast("int"),
    )
    return (
        j.select(
            (F.floor(F.col("d") / 7) * 5 + tail).cast("long").alias("biz_days")
        )
        .groupBy("biz_days")
        .agg(F.count(F.lit(1)).alias("n_lines"))
        .orderBy("biz_days")
    )


@query(
    "q_fn_uuid",
    oracle="""
    WITH h AS (
      SELECT c_custkey, md5('cust:' || CAST(c_custkey AS VARCHAR)) AS hx
      FROM customer
    )
    SELECT c_custkey,
           substr(hx, 1, 8) || '-' || substr(hx, 9, 4) || '-5'
             || substr(hx, 14, 3) || '-8' || substr(hx, 18, 3) || '-'
             || substr(hx, 21, 12) AS stable_uuid
    FROM h
    """,
)
def q_fn_uuid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic (name-based, UUIDv5-style) surrogate-key minting:
    md5 of a namespaced natural key formatted as 8-4-4-4-12 with the
    version nibble pinned to 5 and the variant to 8.  Spark's uuid() is
    random — useless for idempotent re-runs; a content-derived UUID
    gives every pipeline restart the same key for the same row, which is
    what makes MERGE-based re-ingestion idempotent.  Pure codegen string
    ops, no shuffle."""
    c = t(spark, sf_dir, "customer")
    hx = F.md5(F.concat(F.lit("cust:"), F.col("c_custkey").cast("string")))
    h = c.select("c_custkey", hx.alias("hx"))
    return h.select(
        "c_custkey",
        F.concat(
            F.substring("hx", 1, 8), F.lit("-"),
            F.substring("hx", 9, 4), F.lit("-5"),
            F.substring("hx", 14, 3), F.lit("-8"),
            F.substring("hx", 18, 3), F.lit("-"),
            F.substring("hx", 21, 12),
        ).alias("stable_uuid"),
    )


# Poisson(1) cumulative thresholds for the hash-uniform → replicate-weight
# map (P0=.367879, +P1=.735759, +P2=.919699, +P3=.981012, +P4=.996340).
_POIS = (0.367879, 0.735759, 0.919699, 0.981012, 0.996340)


@query(
    "q_stats_bootstrap",
    oracle=f"""
    WITH rep AS (
      SELECT o_orderkey, o_totalprice, r.r AS r
      FROM orders, LATERAL (SELECT unnest(generate_series(1, 20)) AS r) r
    ),
    drawn AS (
      SELECT r, o_totalprice,
             CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || ':'
                                      || CAST(r AS VARCHAR)), 1, 8))
                  ::UBIGINT::BIGINT AS DOUBLE) / 4294967296.0 AS u
      FROM rep
    ),
    weighted AS (
      SELECT r, o_totalprice,
             CASE WHEN u < {_POIS[0]} THEN 0
                  WHEN u < {_POIS[1]} THEN 1
                  WHEN u < {_POIS[2]} THEN 2
                  WHEN u < {_POIS[3]} THEN 3
                  WHEN u < {_POIS[4]} THEN 4
                  ELSE 5 END AS w
      FROM drawn
    ),
    means AS (
      SELECT r,
             round(CAST(SUM(CAST(w AS BIGINT)
                            * CAST(floor(o_totalprice * 1e6 + 0.5) AS BIGINT))
                        AS DOUBLE) / 1e6
                   / CAST(SUM(CAST(w AS BIGINT)) AS DOUBLE), 6) AS m
      FROM weighted GROUP BY r
    ),
    ranked AS (
      SELECT m, ROW_NUMBER() OVER (ORDER BY m, r) AS rk FROM means
    ),
    point AS (
      SELECT round(CAST(SUM(CAST(floor(o_totalprice * 1e6 + 0.5) AS BIGINT))
                        AS DOUBLE) / 1e6 / CAST(COUNT(*) AS DOUBLE), 6)
               AS point_mean
      FROM orders
    )
    SELECT p.point_mean,
           (SELECT m FROM ranked WHERE rk = 2) AS boot_lo,
           (SELECT m FROM ranked WHERE rk = 19) AS boot_hi,
           CAST(20 AS BIGINT) AS n_replicates
    FROM point p
    """,
)
def q_stats_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence interval for the mean order value:
    20 pseudo-replicates where each row's per-replicate multiplicity is
    Poisson(1), drawn from a DETERMINISTIC md5 uniform mapped through
    fixed cumulative thresholds — the bootstrap that runs at 100 TB
    (one pass over data×B, no resampled copies, no RNG state; the
    idiom behind production error bars on streaming metrics).  The CI
    is the 2nd/19th of the 20 sorted replicate means (≈ 90% band).

    Each replicate mean is Σ(w·carrier)/Σw — exact integer arithmetic;
    the replicate explosion is a generator (no shuffle until the 20-key
    aggregation).  Deterministic end-to-end: same data → same CI, any
    partitioning, either engine."""
    # spread() before the ×20 replicate fan-out (guide §2.5 input skew):
    # the one-row-group orders fixture scans as a single task, which
    # serialized the 3M md5 draws below on one core (r14 measurement:
    # 2.6 s → ~1 s at sf0.1×32); on a many-file layout spread is a no-op.
    o = spread(
        t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice"),
        spark,
    )
    rep = o.select(
        "o_orderkey",
        "o_totalprice",
        F.explode(F.sequence(F.lit(1), F.lit(20))).alias("r"),
    )
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("o_orderkey").cast("string"),
                        F.lit(":"),
                        F.col("r").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
    ).cast("double") / F.lit(4294967296.0)
    w = (
        F.when(u < _POIS[0], 0)
        .when(u < _POIS[1], 1)
        .when(u < _POIS[2], 2)
        .when(u < _POIS[3], 3)
        .when(u < _POIS[4], 4)
        .otherwise(5)
    )
    pc = F.floor(F.col("o_totalprice") * F.lit(1e6) + F.lit(0.5)).cast("long")
    means = (
        rep.select("r", (w.cast("long")).alias("w"), pc.alias("pc"))
        .groupBy("r")
        .agg(
            F.round(
                F.sum(F.col("w") * F.col("pc")).cast("double")
                / F.lit(1e6)
                / F.sum("w").cast("double"),
                6,
            ).alias("m")
        )
    )
    ranked = means.select(
        "m",
        F.row_number().over(Window.orderBy("m", "r")).alias("rk"),
    )
    point = o.agg(
        F.round(
            F.sum(pc).cast("double") / F.lit(1e6) / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("point_mean")
    )
    lo = ranked.filter(F.col("rk") == 2).select(F.col("m").alias("boot_lo"))
    hi = ranked.filter(F.col("rk") == 19).select(F.col("m").alias("boot_hi"))
    return (
        point.crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .select(
            "point_mean",
            "boot_lo",
            "boot_hi",
            F.lit(20).cast("long").alias("n_replicates"),
        )
    )


@query(
    "q_orders_seasonal_decompose",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', o_orderdate) AS d,
             CAST(SUM(CAST(floor(o_totalprice * 1e6 + 0.5) AS BIGINT))
                  AS BIGINT) AS rc
      FROM orders GROUP BY date_trunc('day', o_orderdate)
    ),
    windowed AS (
      SELECT d, rc,
             SUM(rc) OVER w AS w7,
             COUNT(*) OVER w AS n7
      FROM daily
      WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    detr AS (
      SELECT d, rc,
             CAST(w7 AS DOUBLE) / 7.0 / 1e6 AS trend,
             CAST(floor((CAST(rc AS DOUBLE) / 1e6
                         - CAST(w7 AS DOUBLE) / 7.0 / 1e6) * 1e6 + 0.5)
                  AS BIGINT) AS dc
      FROM windowed WHERE n7 = 7
    ),
    seas AS (
      SELECT isodow(d) AS dow,
             CAST(SUM(dc) AS DOUBLE) / 1e6 / CAST(COUNT(*) AS DOUBLE)
               AS seasonal
      FROM detr GROUP BY isodow(d)
    )
    SELECT strftime(t.d, '%Y-%m-%d') AS day,
           round(CAST(t.rc AS DOUBLE) / 1e6, 6) AS revenue,
           round(t.trend, 6) AS trend,
           round(s.seasonal, 6) AS seasonal,
           round(CAST(t.dc AS DOUBLE) / 1e6 - s.seasonal, 6) AS residual
    FROM detr t JOIN seas s ON s.dow = isodow(t.d)
    ORDER BY day
    """,
)
def q_orders_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-lite time-series decomposition of daily revenue:
    trend = centered 7-day moving average, seasonal = day-of-week mean
    of the detrended series, residual = what's left (the WEEKLY-cycle
    twin of q_orders_decompose, which decomposes the monthly series
    against the yearly cycle) — the
    anomaly-vs-seasonality separation behind every "is this dip real"
    question, as three window/group passes over the O(days) rollup
    (raw facts aggregate once, everything after is tiny).

    Carrier discipline end-to-end: the trend is an exact 7-long sum
    divided once; the detrended value is re-pinned to a 1e-6 carrier
    BEFORE the seasonal average so the group mean is order-exact;
    edge days without a full window are excluded (n7 = 7)."""
    o = t(spark, sf_dir, "orders")
    daily = o.groupBy(F.date_trunc("day", "o_orderdate").alias("d")).agg(
        F.sum(
            F.floor(F.col("o_totalprice") * F.lit(1e6) + F.lit(0.5)).cast("long")
        ).alias("rc")
    )
    w = Window.orderBy("d").rowsBetween(-3, 3)
    windowed = daily.select(
        "d",
        "rc",
        F.sum("rc").over(w).alias("w7"),
        F.count(F.lit(1)).over(w).alias("n7"),
    )
    trend = F.col("w7").cast("double") / F.lit(7.0) / F.lit(1e6)
    detr = windowed.filter(F.col("n7") == 7).select(
        "d",
        "rc",
        trend.alias("trend"),
        F.floor(
            (F.col("rc").cast("double") / F.lit(1e6) - trend) * F.lit(1e6)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("dc"),
    )
    dow = F.weekday(F.col("d")) + F.lit(1)
    seas = detr.groupBy(dow.alias("dow")).agg(
        (
            F.sum("dc").cast("double") / F.lit(1e6)
            / F.count(F.lit(1)).cast("double")
        ).alias("seasonal")
    )
    return (
        detr.join(seas, dow == F.col("dow"))
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.round(F.col("rc").cast("double") / F.lit(1e6), 6).alias("revenue"),
            F.round(F.col("trend"), 6).alias("trend"),
            F.round(F.col("seasonal"), 6).alias("seasonal"),
            F.round(
                F.col("dc").cast("double") / F.lit(1e6) - F.col("seasonal"), 6
            ).alias("residual"),
        )
        .orderBy("day")
    )


@query(
    "q_agg_hhi",
    oracle="""
    WITH rev AS (
      SELECT s.s_nationkey AS nk, l.l_suppkey AS sk,
             CAST(SUM(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 1e6
                                 + 0.5) AS BIGINT)) AS BIGINT) AS rc
      FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
      GROUP BY s.s_nationkey, l.l_suppkey
    ),
    tot AS (
      SELECT nk, CAST(SUM(rc) AS BIGINT) AS tc, COUNT(*) AS n_suppliers
      FROM rev GROUP BY nk
    )
    SELECT n.n_name AS nation, t.n_suppliers,
           round(SUM((CAST(r.rc AS DOUBLE) / CAST(t.tc AS DOUBLE))
                     * (CAST(r.rc AS DOUBLE) / CAST(t.tc AS DOUBLE))), 6)
             AS hhi
    FROM rev r
    JOIN tot t ON t.nk = r.nk
    JOIN nation n ON n.n_nationkey = r.nk
    GROUP BY n.n_name, t.n_suppliers
    ORDER BY nation
    """,
)
def q_agg_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration index of supplier revenue per
    nation: Σ shareᵢ² — 1/n for perfect competition, 1.0 for monopoly;
    the dependency-concentration metric procurement and market analyses
    both run.  Two keyed aggregations (supplier revenue, nation totals)
    + one share-squared rollup; every share divides two exact carrier
    longs, and the squared-share sum is small enough (≤1) that the final
    1e-6 pin absorbs addition-order ulps across ≤ thousands of suppliers
    per group."""
    l = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    rev = (
        l.join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy(F.col("s_nationkey").alias("nk"), F.col("l_suppkey").alias("sk"))
        .agg(
            F.sum(
                F.floor(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * F.lit(1e6)
                    + F.lit(0.5)
                ).cast("long")
            ).alias("rc")
        )
    )
    tot = rev.groupBy(F.col("nk").alias("tnk")).agg(
        F.sum("rc").alias("tc"), F.count(F.lit(1)).alias("n_suppliers")
    )
    share = F.col("rc").cast("double") / F.col("tc").cast("double")
    return (
        rev.join(tot, F.col("tnk") == F.col("nk"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("nk"))
        .groupBy(F.col("n_name").alias("nation"), F.col("n_suppliers"))
        .agg(F.round(F.sum(share * share), 6).alias("hhi"))
        .orderBy("nation")
    )


_SEG = """CASE WHEN {m} < 150000.0 THEN 'low'
                   WHEN {m} < 400000.0 THEN 'mid'
                   ELSE 'high' END"""


@query(
    "q_orders_segment_migration",
    oracle=f"""
    WITH halves AS (
      SELECT o_custkey,
             CASE WHEN o_orderdate < TIMESTAMP '1995-01-01' THEN 1 ELSE 2 END
               AS half,
             CAST(floor(o_totalprice * 1e6 + 0.5) AS BIGINT) AS pc
      FROM orders
    ),
    per AS (
      SELECT o_custkey, half,
             CAST(SUM(pc) AS DOUBLE) / 1e6 AS monetary
      FROM halves GROUP BY o_custkey, half
    ),
    seg AS (
      SELECT o_custkey, half,
             {_SEG.format(m="monetary")} AS segment
      FROM per
    ),
    mat AS (
      SELECT coalesce(a.segment, 'absent') AS seg_h1,
             coalesce(b.segment, 'absent') AS seg_h2,
             coalesce(a.o_custkey, b.o_custkey) AS ck
      FROM (SELECT * FROM seg WHERE half = 1) a
      FULL OUTER JOIN (SELECT * FROM seg WHERE half = 2) b
        ON a.o_custkey = b.o_custkey
    )
    SELECT seg_h1, seg_h2, COUNT(*) AS n_customers
    FROM mat
    GROUP BY seg_h1, seg_h2
    ORDER BY seg_h1, seg_h2
    """,
)
def q_orders_segment_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer segment-migration matrix: spend tier (low/mid/high by
    fixed revenue thresholds) in period 1 crossed against period 2,
    including churn-in/churn-out as the 'absent' segment — the
    movement-between-cohorts view behind "are mid-tier customers
    upgrading or leaving" (the longitudinal sibling of the static RFM
    cube, q_agg_rfm).

    Per-period spend is one (customer, half) carrier aggregation; the
    matrix is a FULL OUTER self-join on the customer key (both sides
    already partitioned by it) collapsed to at most 4×4 cells.  Fixed
    thresholds — not per-period quantiles — so a tier means the same
    thing in both periods."""
    o = t(spark, sf_dir, "orders")
    halves = o.select(
        "o_custkey",
        F.when(
            F.col("o_orderdate") < F.lit("1995-01-01").cast("timestamp"), 1
        ).otherwise(2).alias("half"),
        F.floor(F.col("o_totalprice") * F.lit(1e6) + F.lit(0.5))
        .cast("long")
        .alias("pc"),
    )
    per = halves.groupBy("o_custkey", "half").agg(
        (F.sum("pc").cast("double") / F.lit(1e6)).alias("monetary")
    )
    seg = per.select(
        "o_custkey",
        "half",
        F.when(F.col("monetary") < 150000.0, "low")
        .when(F.col("monetary") < 400000.0, "mid")
        .otherwise("high")
        .alias("segment"),
    )
    a = seg.filter(F.col("half") == 1).select(
        F.col("o_custkey").alias("ck1"), F.col("segment").alias("s1")
    )
    b = seg.filter(F.col("half") == 2).select(
        F.col("o_custkey").alias("ck2"), F.col("segment").alias("s2")
    )
    mat = a.join(b, F.col("ck1") == F.col("ck2"), "full_outer").select(
        F.coalesce(F.col("s1"), F.lit("absent")).alias("seg_h1"),
        F.coalesce(F.col("s2"), F.lit("absent")).alias("seg_h2"),
    )
    return (
        mat.groupBy("seg_h1", "seg_h2")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("seg_h1", "seg_h2")
    )


@query(
    "q_win_rolling_corr",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', o_orderdate) AS d,
             COUNT(*) AS n_orders,
             CAST(SUM(CAST(floor(o_totalprice * 1e6 + 0.5) AS BIGINT))
                  AS BIGINT) AS rc
      FROM orders GROUP BY date_trunc('day', o_orderdate)
    ),
    win AS (
      SELECT d,
             COUNT(*) OVER w AS n,
             CAST(SUM(n_orders) OVER w AS BIGINT) AS sx,
             CAST(SUM(rc) OVER w AS BIGINT) AS sy,
             CAST(SUM(n_orders * n_orders) OVER w AS BIGINT) AS sxx,
             CAST(SUM(CAST(floor(CAST(n_orders AS DOUBLE)
                                 * (CAST(rc AS DOUBLE) / 1e6) + 0.5)
                           AS BIGINT)) OVER w AS BIGINT) AS sxy,
             CAST(SUM(CAST(floor((CAST(rc AS DOUBLE) / 1e6)
                                 * (CAST(rc AS DOUBLE) / 1e6) / 1e6 + 0.5)
                           AS BIGINT)) OVER w AS BIGINT) AS syy
      FROM daily
      WINDOW w AS (ORDER BY d ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT strftime(d, '%Y-%m-%d') AS day,
           round((CAST(sxy AS DOUBLE) / CAST(n AS DOUBLE)
                  - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(sy AS DOUBLE) / 1e6 / CAST(n AS DOUBLE)))
                 / nullif(sqrt((CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE)
                         - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                           * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))
                        * (CAST(syy AS DOUBLE) * 1e6 / CAST(n AS DOUBLE)
                           - (CAST(sy AS DOUBLE) / 1e6 / CAST(n AS DOUBLE))
                             * (CAST(sy AS DOUBLE) / 1e6
                                / CAST(n AS DOUBLE)))), 0.0), 6)
             AS rolling_corr
    FROM win
    WHERE n = 14
    ORDER BY day
    """,
)
def q_win_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 14-day Pearson correlation between daily order COUNT and
    daily REVENUE — the co-movement monitor ("are we growing on volume
    or on basket size") computed entirely from windowed exact power
    sums: five carrier-long window sums per day, then one mirrored
    closed-form correlation.  Days without a full 14-day window are
    excluded; a zero-variance window yields NULL via the guarded
    denominator.  The window runs over the O(days) rollup, never raw
    facts.  (The xy and y² product sums pre-scale revenue to units /
    1e6-truncated units so their windowed totals stay well inside a
    long at any SF.)"""
    o = t(spark, sf_dir, "orders")
    daily = o.groupBy(F.date_trunc("day", "o_orderdate").alias("d")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(
            F.floor(F.col("o_totalprice") * F.lit(1e6) + F.lit(0.5)).cast("long")
        ).alias("rc"),
    )
    rd = F.col("rc").cast("double") / F.lit(1e6)
    w = Window.orderBy("d").rowsBetween(-13, Window.currentRow)
    win = daily.select(
        "d",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("n_orders").over(w).alias("sx"),
        F.sum("rc").over(w).alias("sy"),
        F.sum(F.col("n_orders") * F.col("n_orders")).over(w).alias("sxx"),
        F.sum(
            F.floor(F.col("n_orders").cast("double") * rd + F.lit(0.5)).cast(
                "long"
            )
        ).over(w).alias("sxy"),
        F.sum(
            F.floor(rd * rd / F.lit(1e6) + F.lit(0.5)).cast("long")
        ).over(w).alias("syy"),
    )
    nd = F.col("n").cast("double")
    mx = F.col("sx").cast("double") / nd
    my = F.col("sy").cast("double") / F.lit(1e6) / nd
    qxy = F.col("sxy").cast("double") / nd
    qxx = F.col("sxx").cast("double") / nd
    qyy = F.col("syy").cast("double") * F.lit(1e6) / nd
    corr = (qxy - mx * my) / F.nullif(
        F.sqrt((qxx - mx * mx) * (qyy - my * my)), F.lit(0.0)
    )
    return (
        win.filter(F.col("n") == 14)
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.round(corr, 6).alias("rolling_corr"),
        )
        .orderBy("day")
    )


@query(
    "q_agg_gini",
    oracle="""
    WITH vals AS (
      SELECT CAST(floor(o_totalprice * 1e6 + 0.5) AS BIGINT) AS vc,
             o_orderkey
      FROM orders
    ),
    ranked AS (
      SELECT vc,
             ROW_NUMBER() OVER (ORDER BY vc, o_orderkey) AS i
      FROM vals
    ),
    s AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(vc) AS DECIMAL(38,0)) AS sv,
             CAST(SUM(CAST(i AS DECIMAL(38,0)) * vc) AS DECIMAL(38,0)) AS siv
      FROM ranked
    )
    SELECT n,
           round(2.0 * (CAST(siv AS DOUBLE) / (CAST(n AS DOUBLE)
                        * CAST(sv AS DOUBLE)))
                 - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE), 6)
             AS gini
    FROM s
    """,
)
def q_agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of order-value inequality — 0 when every order
    is identical, →1 when revenue concentrates in a few orders; the
    distribution-level sibling of q_agg_hhi's per-entity concentration.
    Computed with the rank formula G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n over
    values sorted ascending (unique (value, key) rank → deterministic).

    Σ(i·xᵢ) can reach n²·x̄ ≈ 10²¹ at sf1, so both rank-weighted sums
    accumulate in DECIMAL(38) and surface once as doubles.  At 100 TB
    the global sort for ranks is the cost — run it per partition-sized
    stratum or on a quantile-bucketed approximation when exactness can
    be traded."""
    o = t(spark, sf_dir, "orders")
    vals = o.select(
        F.floor(F.col("o_totalprice") * F.lit(1e6) + F.lit(0.5))
        .cast("long")
        .alias("vc"),
        "o_orderkey",
    )
    ranked = vals.select(
        "vc",
        F.row_number().over(Window.orderBy("vc", "o_orderkey")).alias("i"),
    )
    s = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("vc").cast("decimal(38,0)")).alias("sv"),
        F.sum(F.col("i").cast("decimal(38,0)") * F.col("vc")).alias("siv"),
    )
    nd = F.col("n").cast("double")
    gini = (
        F.lit(2.0)
        * (F.col("siv").cast("double") / (nd * F.col("sv").cast("double")))
        - (nd + F.lit(1.0)) / nd
    )
    return s.select("n", F.round(gini, 6).alias("gini"))


@query(
    "q_orders_aging",
    oracle="""
    WITH ship AS (
      SELECT o.o_orderkey, o.o_orderdate,
             MAX(l.l_shipdate) AS last_ship
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, o.o_orderdate
    ),
    ref_ts AS (SELECT MAX(o_orderdate) AS now FROM orders),
    open_orders AS (
      SELECT s.o_orderkey,
             date_diff('day', s.o_orderdate, a.now) AS age_days
      FROM ship s CROSS JOIN ref_ts a
      WHERE s.last_ship > a.now
    )
    SELECT CASE WHEN age_days <= 30 THEN '0-30'
                WHEN age_days <= 90 THEN '31-90'
                WHEN age_days <= 180 THEN '91-180'
                ELSE '180+' END AS age_bucket,
           COUNT(*) AS n_open
    FROM open_orders
    GROUP BY 1
    ORDER BY age_bucket
    """,
)
def q_orders_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order aging report: orders still unshipped AS OF the corpus's
    latest order date, bucketed by how long they've been open — the
    operations-review cousin of q_orders_backlog (that one charts the
    count over time; this one says how STALE today's open work is, which
    is what gets escalated).

    Point-in-time "open" is derived from the same order→last-ship
    reduction; the as-of date is a broadcast 1-row aggregate; bucketing
    is pure integer CASE.  One fact join + two tiny aggregates."""
    o = t(spark, sf_dir, "orders")
    l = t(spark, sf_dir, "lineitem")
    ship = (
        o.join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.max("l_shipdate").alias("last_ship"))
    )
    asof = o.agg(F.max("o_orderdate").alias("now"))
    open_orders = (
        ship.crossJoin(F.broadcast(asof))
        .filter(F.col("last_ship") > F.col("now"))
        .select(F.datediff("now", "o_orderdate").alias("age_days"))
    )
    bucket = (
        F.when(F.col("age_days") <= 30, "0-30")
        .when(F.col("age_days") <= 90, "31-90")
        .when(F.col("age_days") <= 180, "91-180")
        .otherwise("180+")
    )
    return (
        open_orders.select(bucket.alias("age_bucket"))
        .groupBy("age_bucket")
        .agg(F.count(F.lit(1)).alias("n_open"))
        .orderBy("age_bucket")
    )


@query(
    "q_orders_lorenz",
    oracle="""
    WITH ranked AS (
      SELECT CAST(floor(o_totalprice * 1e6 + 0.5) AS BIGINT) AS vc,
             NTILE(10) OVER (ORDER BY CAST(floor(o_totalprice * 1e6 + 0.5)
                                           AS BIGINT), o_orderkey) AS decile
      FROM orders
    ),
    per AS (
      SELECT decile, COUNT(*) AS n_orders,
             CAST(SUM(vc) AS BIGINT) AS rev_c
      FROM ranked GROUP BY decile
    ),
    tot AS (SELECT CAST(SUM(rev_c) AS BIGINT) AS t FROM per)
    SELECT CAST(decile AS INT) AS decile, n_orders,
           round(CAST(rev_c AS DOUBLE) / 1e6, 6) AS decile_revenue,
           round(CAST(SUM(rev_c) OVER (ORDER BY decile
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS DOUBLE) / CAST(t.t AS DOUBLE), 6) AS cum_share
    FROM per CROSS JOIN tot t
    ORDER BY decile
    """,
)
def q_orders_lorenz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve of revenue concentration: orders NTILE'd into value
    deciles (ascending, unique (value, key) order so tile edges are
    deterministic), cumulative revenue share per decile — the curve
    whose area complement q_agg_gini summarizes, and the table behind
    "the top decile is X% of revenue".

    Carrier-exact decile sums; the cumulative window runs over 10 rows.
    Same global-sort caveat as Gini at 100 TB — NTILE over a total
    order — with the same stratified mitigation."""
    o = t(spark, sf_dir, "orders")
    vc = F.floor(F.col("o_totalprice") * F.lit(1e6) + F.lit(0.5)).cast("long")
    ranked = o.select(
        vc.alias("vc"),
        F.ntile(10).over(Window.orderBy(vc, F.col("o_orderkey"))).alias(
            "decile"
        ),
    )
    per = ranked.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_orders"), F.sum("vc").alias("rev_c")
    )
    tot = per.agg(F.sum("rev_c").alias("t"))
    w = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            F.col("decile").cast("int").alias("decile"),
            "n_orders",
            F.round(F.col("rev_c").cast("double") / F.lit(1e6), 6).alias(
                "decile_revenue"
            ),
            F.round(
                F.sum("rev_c").over(w).cast("double") / F.col("t").cast("double"),
                6,
            ).alias("cum_share"),
        )
        .orderBy("decile")
    )


@query(
    "q_stats_chi2",
    oracle="""
    WITH obs AS (
      SELECT o_orderpriority, COUNT(*) AS o
      FROM orders GROUP BY o_orderpriority
    ),
    tot AS (
      SELECT CAST(SUM(o) AS BIGINT) AS n, COUNT(*) AS k FROM obs
    )
    SELECT t.n, t.k,
           round(SUM(
             (CAST(o.o AS DOUBLE) - CAST(t.n AS DOUBLE) / CAST(t.k AS DOUBLE))
             * (CAST(o.o AS DOUBLE) - CAST(t.n AS DOUBLE) / CAST(t.k AS DOUBLE))
             / (CAST(t.n AS DOUBLE) / CAST(t.k AS DOUBLE))
           ), 6) AS chi2_uniform
    FROM obs o CROSS JOIN tot t
    GROUP BY t.n, t.k
    """,
)
def q_stats_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square goodness-of-fit of the order-priority distribution
    against uniform — the categorical drift/test statistic completing
    the family (KS for continuous, PSI for binned, JS for token
    distributions, Benford for digits): χ² = Σ(observed−expected)²/
    expected over the k=5 priority cells.

    Observed counts are exact integers from one hash aggregation; the
    statistic is mirrored IEEE arithmetic over those integers and the
    two scalars (n, k).  At 100 TB this is one aggregation regardless
    of cardinality — the cells, not the rows, drive the final math."""
    o = t(spark, sf_dir, "orders")
    obs = o.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("o"))
    tot = obs.agg(F.sum("o").alias("n"), F.count(F.lit(1)).alias("k"))
    e = F.col("n").cast("double") / F.col("k").cast("double")
    term = (F.col("o").cast("double") - e) * (F.col("o").cast("double") - e) / e
    return (
        obs.crossJoin(F.broadcast(tot))
        .groupBy("n", "k")
        .agg(F.round(F.sum(term), 6).alias("chi2_uniform"))
    )


# ---------------------------------------------------------------------------
# Round 5: nonparametric tests + categorical-association measures
# ---------------------------------------------------------------------------


@query(
    "q_stats_mannwhitney",
    oracle="""
    WITH e AS (
      SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events WHERE event_type IN ('click', 'view')
    ),
    vc AS (
      SELECT cents,
             SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS nc,
             SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS nv,
             COUNT(*) AS cnt
      FROM e GROUP BY cents
    ),
    ranked AS (
      SELECT nc, nv, cnt,
             SUM(cnt) OVER (ORDER BY cents
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum
      FROM vc
    ),
    agg AS (
      SELECT CAST(SUM(nc) AS BIGINT) AS n_click,
             CAST(SUM(nv) AS BIGINT) AS n_view,
             SUM(CAST(nc AS DOUBLE)
                 * (CAST(cum - cnt AS DOUBLE)
                    + CAST(cnt + 1 AS DOUBLE) / 2)) AS r1
      FROM ranked
    )
    SELECT n_click, n_view,
           round(r1 - CAST(n_click AS DOUBLE)
                      * CAST(n_click + 1 AS DOUBLE) / 2, 6) AS u_stat,
           round((r1 - CAST(n_click AS DOUBLE)
                       * CAST(n_click + 1 AS DOUBLE) / 2
                  - CAST(n_click AS DOUBLE) * CAST(n_view AS DOUBLE) / 2)
                 / sqrt(CAST(n_click AS DOUBLE) * CAST(n_view AS DOUBLE)
                        * CAST(n_click + n_view + 1 AS DOUBLE) / 12),
                 6) AS z_score
    FROM agg
    """,
)
def q_stats_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test ('click' vs 'view' event values) —
    the nonparametric two-sample comparison run when the value
    distribution is skewed/heavy-tailed and a t-test's normality
    assumption fails (the usual case for revenue-like columns).

    Scalable rank computation WITHOUT a global row sort: values are
    quantized to exact integer cents (the tie grid both engines agree
    on), counted per distinct value (one shuffle, map-side combined),
    and average ranks come from the running count over the MUCH smaller
    distinct-value relation — the histogram trick that turns O(n log n)
    global ranking into O(distinct) post-aggregation work.  Tie handling
    is the standard midrank.  Every rank is a multiple of 0.5 and every
    rank-sum term is (integer × exact-half), so the double sums are
    exact at any aggregation order — no carrier needed; z uses the
    normal approximation without tie correction (documented).
    """
    e = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "view"))
        .select(
            "event_type",
            F.floor(F.col("value") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
    )
    vc = e.groupBy("cents").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("nc"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("nv"),
        F.count(F.lit(1)).alias("cnt"),
    )
    w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    ranked = vc.withColumn("cum", F.sum("cnt").over(w))
    agg = ranked.agg(
        F.sum("nc").alias("n_click"),
        F.sum("nv").alias("n_view"),
        F.sum(
            F.col("nc").cast("double")
            * (
                (F.col("cum") - F.col("cnt")).cast("double")
                + (F.col("cnt") + 1).cast("double") / 2
            )
        ).alias("r1"),
    )
    n1 = F.col("n_click").cast("double")
    n2 = F.col("n_view").cast("double")
    u1 = F.col("r1") - n1 * (F.col("n_click") + 1).cast("double") / 2
    return agg.select(
        "n_click",
        "n_view",
        F.round(u1, 6).alias("u_stat"),
        F.round(
            (u1 - n1 * n2 / 2)
            / F.sqrt(
                n1 * n2 * (F.col("n_click") + F.col("n_view") + 1).cast("double") / 12
            ),
            6,
        ).alias("z_score"),
    )


@query(
    "q_stats_mutual_info",
    oracle="""
    WITH cells AS (
      SELECT lang, source, COUNT(*) AS nxy
      FROM documents GROUP BY lang, source
    ),
    mx AS (SELECT lang, COUNT(*) AS nx FROM documents GROUP BY lang),
    my AS (SELECT source, COUNT(*) AS ny FROM documents GROUP BY source),
    tot AS (SELECT COUNT(*) AS n FROM documents)
    SELECT t.n AS n_rows,
           COUNT(*) AS n_cells,
           round(CAST(SUM(CAST(floor(
             (CAST(c.nxy AS DOUBLE) / CAST(t.n AS DOUBLE))
             * ln(CAST(c.nxy AS DOUBLE) * CAST(t.n AS DOUBLE)
                  / (CAST(x.nx AS DOUBLE) * CAST(y.ny AS DOUBLE)))
             * 1e9 + 0.5) AS BIGINT)) AS DOUBLE) / 1e9, 6) AS mi_nats
    FROM cells c
    JOIN mx x ON x.lang = c.lang
    JOIN my y ON y.source = c.source
    CROSS JOIN tot t
    GROUP BY t.n
    """,
)
def q_stats_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information I(lang; source) over the document corpus — the
    dependence measure a curation pipeline checks before stratifying by
    one dimension and assuming the other stays balanced (MI ≈ 0 ⇒
    stratify freely; high MI ⇒ a source cut skews the language mix).

    Σ p(x,y)·ln(p(x,y)/(p(x)p(y))) over EXACT contingency counts: one
    shuffle for the (lang, source) cells, margins are tiny grouped
    relations broadcast back onto the cells, and each cell's ln-term is
    floored onto a 1e9 carrier before summation so the cross-partition
    sum is associative-exact (both engines compute ln on bit-identical
    integer-ratio doubles).  Zero cells contribute nothing by
    definition (lim p→0 of p·ln p = 0), so only observed cells join.
    """
    d = t(spark, sf_dir, "documents").select("lang", "source")
    cells = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("nxy"))
    mx = d.groupBy("lang").agg(F.count(F.lit(1)).alias("nx"))
    my = d.groupBy("source").agg(F.count(F.lit(1)).alias("ny"))
    tot = d.agg(F.count(F.lit(1)).alias("n"))
    nd = F.col("n").cast("double")
    term = (
        F.col("nxy").cast("double") / nd
    ) * F.log(
        F.col("nxy").cast("double")
        * nd
        / (F.col("nx").cast("double") * F.col("ny").cast("double"))
    )
    return (
        cells.join(F.broadcast(mx), "lang")
        .join(F.broadcast(my), "source")
        .crossJoin(F.broadcast(tot))
        .groupBy("n")
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.round(
                F.sum(
                    F.floor(term * F.lit(1e9) + F.lit(0.5)).cast("long")
                ).cast("double")
                / F.lit(1e9),
                6,
            ).alias("mi_nats"),
        )
        .select(F.col("n").alias("n_rows"), "n_cells", "mi_nats")
    )


@query(
    "q_stats_cramers_v",
    oracle="""
    WITH langs AS (SELECT DISTINCT lang FROM documents),
    srcs AS (SELECT DISTINCT source FROM documents),
    obs AS (
      SELECT lang, source, COUNT(*) AS nxy
      FROM documents GROUP BY lang, source
    ),
    mx AS (SELECT lang, COUNT(*) AS nx FROM documents GROUP BY lang),
    my AS (SELECT source, COUNT(*) AS ny FROM documents GROUP BY source),
    tot AS (SELECT COUNT(*) AS n FROM documents),
    grid AS (
      SELECT l.lang, s.source, COALESCE(o.nxy, 0) AS nxy, x.nx, y.ny, t.n
      FROM langs l CROSS JOIN srcs s
      LEFT JOIN obs o ON o.lang = l.lang AND o.source = s.source
      JOIN mx x ON x.lang = l.lang
      JOIN my y ON y.source = s.source
      CROSS JOIN tot t
    ),
    chi AS (
      SELECT ANY_VALUE(n) AS n,
             COUNT(DISTINCT lang) AS r,
             COUNT(DISTINCT source) AS c,
             CAST(SUM(CAST(floor(
               (CAST(nxy AS DOUBLE)
                - CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE) / CAST(n AS DOUBLE))
               * (CAST(nxy AS DOUBLE)
                - CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE) / CAST(n AS DOUBLE))
               / (CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE) / CAST(n AS DOUBLE))
               * 1e9 + 0.5) AS BIGINT)) AS DOUBLE) / 1e9 AS chi2
      FROM grid
    )
    SELECT CAST(n AS BIGINT) AS n_rows, r AS n_langs, c AS n_sources,
           round(chi2, 6) AS chi2,
           round(sqrt(chi2 / (CAST(n AS DOUBLE)
                 * CAST(least(r - 1, c - 1) AS DOUBLE))), 6) AS cramers_v
    FROM chi
    """,
)
def q_stats_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V — the effect-size companion to the chi-square test of
    independence over the lang × source contingency table (chi2 says
    "dependence exists at this n"; V says "and it is this strong, on a
    0-1 scale comparable across table sizes").

    The full r×c grid (including zero cells, which DO contribute
    (0−e)²/e to chi2) is a cross join of the two tiny distinct-value
    relations — a bounded domain grid, not a data-scale cartesian; the
    observed counts left-join onto it and each cell term rides the 1e9
    carrier so the sum is order-exact.
    """
    d = t(spark, sf_dir, "documents").select("lang", "source")
    langs = d.select("lang").distinct()
    srcs = d.select("source").distinct()
    obs = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("nxy"))
    mx = d.groupBy("lang").agg(F.count(F.lit(1)).alias("nx"))
    my = d.groupBy("source").agg(F.count(F.lit(1)).alias("ny"))
    tot = d.agg(F.count(F.lit(1)).alias("n"))
    grid = (
        langs.crossJoin(F.broadcast(srcs))
        .join(F.broadcast(obs), ["lang", "source"], "left")
        .join(F.broadcast(mx), "lang")
        .join(F.broadcast(my), "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "source",
            F.coalesce(F.col("nxy"), F.lit(0)).alias("nxy"),
            "nx",
            "ny",
            "n",
        )
    )
    nd = F.col("n").cast("double")
    e = F.col("nx").cast("double") * F.col("ny").cast("double") / nd
    dev = F.col("nxy").cast("double") - e
    chi = grid.agg(
        F.any_value(F.col("n")).alias("n"),
        F.countDistinct("lang").alias("r"),
        F.countDistinct("source").alias("c"),
        (
            F.sum(
                F.floor(dev * dev / e * F.lit(1e9) + F.lit(0.5)).cast("long")
            ).cast("double")
            / F.lit(1e9)
        ).alias("chi2"),
    )
    return chi.select(
        F.col("n").alias("n_rows"),
        F.col("r").alias("n_langs"),
        F.col("c").alias("n_sources"),
        F.round(F.col("chi2"), 6).alias("chi2"),
        F.round(
            F.sqrt(
                F.col("chi2")
                / (
                    F.col("n").cast("double")
                    * F.least(F.col("r") - 1, F.col("c") - 1).cast("double")
                )
            ),
            6,
        ).alias("cramers_v"),
    )


@query(
    "q_stats_spearman",
    oracle="""
    WITH base AS (
      SELECT CAST(l_quantity AS BIGINT) AS x,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS y
      FROM lineitem
    ),
    xr AS (
      SELECT x, 2 * (cum - cnt) + cnt + 1 AS rx2 FROM (
        SELECT x, COUNT(*) AS cnt,
               SUM(COUNT(*)) OVER (ORDER BY x
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS cum
        FROM base GROUP BY x
      )
    ),
    yr AS (
      SELECT y, 2 * (cum - cnt) + cnt + 1 AS ry2 FROM (
        SELECT y, COUNT(*) AS cnt,
               SUM(COUNT(*)) OVER (ORDER BY y
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS cum
        FROM base GROUP BY y
      )
    ),
    j AS (
      SELECT CAST(xr.rx2 AS BIGINT) AS rx2, CAST(yr.ry2 AS BIGINT) AS ry2
      FROM base b JOIN xr ON xr.x = b.x JOIN yr ON yr.y = b.y
    ),
    s AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(rx2) AS BIGINT) AS sx,
             CAST(SUM(ry2) AS BIGINT) AS sy,
             CAST(SUM(CAST(rx2 AS HUGEINT) * rx2) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(ry2 AS HUGEINT) * ry2) AS DOUBLE) AS syy,
             CAST(SUM(CAST(rx2 AS HUGEINT) * ry2) AS DOUBLE) AS sxy
      FROM j
    )
    SELECT n,
           round((CAST(n AS DOUBLE) * sxy
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / sqrt((CAST(n AS DOUBLE) * sxx
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * (CAST(n AS DOUBLE) * syy
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
                 6) AS spearman_rho
    FROM s
    """,
)
def q_stats_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation (l_quantity vs l_extendedprice) — the
    monotone-association measure that survives outliers and nonlinear
    scaling where Pearson (q_agg_corr) does not.

    Ranks WITHOUT a global sort, twice: each variable's midranks come
    from the q_stats_mannwhitney histogram trick (per-distinct-value
    counts + running count), DOUBLED so ties' half-ranks become exact
    integers (2·avgrank = 2(cum−cnt)+cnt+1 — scale-invariant for rho).
    Rows join their rank by value (quantity's ~50-value map broadcasts;
    the price map shuffles on the uniform cents key), then one pass of
    exact integer power sums — products ride a 128-bit-wide carrier
    (Spark DECIMAL(38,0) / DuckDB HUGEINT) so n·(2n)² stays exact at any
    SF — and the closed-form rho is mirrored double arithmetic.
    """
    # lineage-cut the projected scan: three consumers (xr, yr, the rank
    # join) otherwise re-read the one-row-group parquet serially each
    # (guide §2.5 / §5)
    li = spread(
        t(spark, sf_dir, "lineitem").select(
            "l_quantity", "l_extendedprice"
        ),
        spark,
    ).select(
        F.col("l_quantity").cast("long").alias("x"),
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("y"),
    ).localCheckpoint(eager=False)

    def rank2(df: DataFrame, col: str, out: str) -> DataFrame:
        vc = df.groupBy(col).agg(F.count(F.lit(1)).alias("cnt"))
        w = Window.orderBy(col).rowsBetween(Window.unboundedPreceding, 0)
        return vc.withColumn("cum", F.sum("cnt").over(w)).select(
            col,
            (
                2 * (F.col("cum") - F.col("cnt")) + F.col("cnt") + 1
            ).cast("long").alias(out),
            "cnt",
        )

    def rank2_wide(df: DataFrame, col: str, out: str) -> DataFrame:
        """rank2 for a HIGH-CARDINALITY key (guide §2.5 stragglers): the
        unpartitioned running-count window serializes ~583k distinct
        cents values through ONE task at sf0.1 (measured 1.0 s of the
        3.0 s total).  Split the cumulation: per-value counts cumulate
        WITHIN fixed 65536-wide value buckets (distributed window,
        bucket count tracks the value DOMAIN, not the row count), and
        each bucket's global offset is a running sum over the tiny
        bucket-total relation.  global_cum = bucket_offset + within_cum
        — associativity of + over an ordered partition, so the midrank
        integers are IDENTICAL to rank2's (oracle unchanged;
        positive-domain floor-div below)."""
        width = 65536
        # truncating `div` would interleave bucket 0 across signs, so the
        # non-negative precondition is ENFORCED, not just documented (r14
        # ADVICE): a signed-domain caller fails loudly instead of getting
        # silently corrupted midranks.  The branch is codegen'd per
        # distinct value (not per row) — no measurable cost.  NULL is
        # guarded first: `NULL >= 0` is NULL, which would otherwise land
        # in the negative-domain branch and blame the wrong cause.
        vc = (
            df.groupBy(col)
            .agg(F.count(F.lit(1)).alias("cnt"))
            .withColumn(
                "bk",
                F.when(
                    F.col(col).isNull(),
                    F.raise_error(
                        F.lit(f"rank2_wide requires a non-NULL domain (got NULL {col})")
                    ).cast("long"),
                )
                .when(F.col(col) >= 0, F.expr(f"{col} div {width}"))
                .otherwise(
                    F.raise_error(
                        F.lit(
                            "rank2_wide requires a non-negative domain "
                            f"(got a negative {col})"
                        )
                    ).cast("long")
                ),
            )
            # vc feeds two branches (within-bucket cumulation + bucket
            # offsets); cut its lineage once so the 600k-row per-value
            # aggregation is guaranteed single-execution (r14 ADVICE)
            .localCheckpoint(eager=False)
        )
        wb = (
            Window.partitionBy("bk")
            .orderBy(col)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        within = vc.withColumn("cumb", F.sum("cnt").over(wb))
        wo = Window.orderBy("bk").rowsBetween(
            Window.unboundedPreceding, -1
        )
        off = (
            vc.groupBy("bk")
            .agg(F.sum("cnt").alias("btot"))
            .withColumn(
                "off", F.coalesce(F.sum("btot").over(wo), F.lit(0))
            )
            .select("bk", "off")
        )
        return within.join(F.broadcast(off), "bk").select(
            col,
            (
                2 * (F.col("off") + F.col("cumb") - F.col("cnt"))
                + F.col("cnt")
                + 1
            ).cast("long").alias(out),
            "cnt",
        )

    xr = rank2(li.select("x"), "x", "rx2")
    yr = rank2_wide(li.select("y"), "y", "ry2")
    d38 = "decimal(38,0)"
    # moment split (guide §2.3 aggregate-before-shuffle): every row of
    # li matches exactly one entry of each rank map (inner join on its
    # own value), so Σ_rows f(rank) = Σ_values cnt·f(rank) — the x/y
    # power sums ride the tiny rank maps and the 600k-row join carries
    # ONLY the cross term, dropping 2 of the 3 per-row decimal128
    # multiplies.  Same exact integers into the same double assembly.
    xs = xr.agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum(F.col("cnt").cast(d38) * F.col("rx2").cast(d38))
        .cast("long")
        .alias("sx"),
        F.sum(
            F.col("cnt").cast(d38)
            * F.col("rx2").cast(d38)
            * F.col("rx2").cast(d38)
        )
        .cast("double")
        .alias("sxx"),
    )
    ys = yr.agg(
        F.sum(F.col("cnt").cast(d38) * F.col("ry2").cast(d38))
        .cast("long")
        .alias("sy"),
        F.sum(
            F.col("cnt").cast(d38)
            * F.col("ry2").cast(d38)
            * F.col("ry2").cast(d38)
        )
        .cast("double")
        .alias("syy"),
    )
    j = (
        li.join(F.broadcast(xr.select("x", "rx2")), "x")
        .join(yr.select("y", "ry2"), "y")
        .select("rx2", "ry2")
    )
    cross = j.agg(
        F.sum(F.col("rx2").cast(d38) * F.col("ry2").cast(d38))
        .cast("double")
        .alias("sxy"),
    )
    s = xs.crossJoin(F.broadcast(ys)).crossJoin(F.broadcast(cross))
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    return s.select(
        "n",
        F.round(
            (nd * F.col("sxy") - sxd * syd)
            / F.sqrt(
                (nd * F.col("sxx") - sxd * sxd)
                * (nd * F.col("syy") - syd * syd)
            ),
            6,
        ).alias("spearman_rho"),
    )


@query(
    "q_stats_cohens_d",
    oracle="""
    WITH s AS (
      SELECT
        CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
             AS BIGINT) AS n1,
        CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
             AS BIGINT) AS n2,
        CAST(SUM(CASE WHEN event_type = 'click'
                 THEN CAST(floor(value * 1e6 + 0.5) AS BIGINT)
                 ELSE 0 END) AS DOUBLE) / 1e6 AS sx1,
        CAST(SUM(CASE WHEN event_type = 'view'
                 THEN CAST(floor(value * 1e6 + 0.5) AS BIGINT)
                 ELSE 0 END) AS DOUBLE) / 1e6 AS sx2,
        CAST(SUM(CASE WHEN event_type = 'click'
                 THEN CAST(floor(value * value * 1e6 + 0.5) AS HUGEINT)
                 ELSE 0 END) AS DOUBLE) / 1e6 AS sxx1,
        CAST(SUM(CASE WHEN event_type = 'view'
                 THEN CAST(floor(value * value * 1e6 + 0.5) AS HUGEINT)
                 ELSE 0 END) AS DOUBLE) / 1e6 AS sxx2
      FROM events WHERE event_type IN ('click', 'view')
    )
    SELECT n1, n2,
           round(sx1 / CAST(n1 AS DOUBLE), 6) AS mean_click,
           round(sx2 / CAST(n2 AS DOUBLE), 6) AS mean_view,
           round((sx1 / CAST(n1 AS DOUBLE) - sx2 / CAST(n2 AS DOUBLE))
                 / sqrt(((sxx1 - sx1 * sx1 / CAST(n1 AS DOUBLE))
                         + (sxx2 - sx2 * sx2 / CAST(n2 AS DOUBLE)))
                        / CAST(n1 + n2 - 2 AS DOUBLE)), 6) AS cohens_d
    FROM s
    """,
)
def q_stats_cohens_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d standardized effect size ('click' vs 'view' values) —
    the magnitude companion to q_stats_mannwhitney's significance: U
    says the distributions differ; d says by how many pooled standard
    deviations, comparable across experiments.

    ONE conditional-aggregation pass (no per-group scan): both groups'
    counts, carrier sums, and carrier sums-of-squares come out of the
    same partial-aggregated scan; x² terms ride the 1e6 carrier into a
    128-bit accumulator (DECIMAL(38,0) / HUGEINT) so the sum is exact
    at any corpus scale.  The pooled-variance formula is mirrored
    double arithmetic on those exact sums.
    """
    e = t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    v = F.col("value")
    is1 = F.col("event_type") == "click"
    car = F.floor(v * F.lit(1e6) + F.lit(0.5)).cast("long")
    car2 = F.floor(v * v * F.lit(1e6) + F.lit(0.5)).cast("decimal(38,0)")
    zero38 = F.lit(0).cast("decimal(38,0)")
    s = e.agg(
        F.sum(F.when(is1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(~is1, 1).otherwise(0)).alias("n2"),
        (F.sum(F.when(is1, car).otherwise(0)).cast("double") / 1e6).alias("sx1"),
        (F.sum(F.when(~is1, car).otherwise(0)).cast("double") / 1e6).alias("sx2"),
        (F.sum(F.when(is1, car2).otherwise(zero38)).cast("double") / 1e6).alias(
            "sxx1"
        ),
        (F.sum(F.when(~is1, car2).otherwise(zero38)).cast("double") / 1e6).alias(
            "sxx2"
        ),
    )
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    m1 = F.col("sx1") / n1d
    m2 = F.col("sx2") / n2d
    pooled = (
        (F.col("sxx1") - F.col("sx1") * F.col("sx1") / n1d)
        + (F.col("sxx2") - F.col("sx2") * F.col("sx2") / n2d)
    ) / (F.col("n1") + F.col("n2") - 2).cast("double")
    return s.select(
        "n1",
        "n2",
        F.round(m1, 6).alias("mean_click"),
        F.round(m2, 6).alias("mean_view"),
        F.round((m1 - m2) / F.sqrt(pooled), 6).alias("cohens_d"),
    )


@query(
    "q_orders_ltv_deciles",
    oracle="""
    WITH rev AS (
      SELECT o_custkey,
             CAST(SUM(CAST(floor(o_totalprice * 1e6 + 0.5) AS BIGINT))
                  AS DOUBLE) / 1e6 AS rev
      FROM orders GROUP BY o_custkey
    ),
    deciled AS (
      SELECT o_custkey, rev,
             CAST(NTILE(10) OVER (ORDER BY rev DESC, o_custkey) AS INT)
               AS decile
      FROM rev
    ),
    per AS (
      SELECT decile, COUNT(*) AS n_customers,
             CAST(SUM(CAST(rev AS DECIMAL(18,6))) AS DOUBLE) AS decile_rev
      FROM deciled GROUP BY decile
    ),
    tot AS (
      SELECT CAST(SUM(CAST(rev AS DECIMAL(18,6))) AS DOUBLE) AS total
      FROM rev
    )
    SELECT p.decile, p.n_customers, round(p.decile_rev, 6) AS decile_rev,
           round(p.decile_rev / t.total, 6) AS revenue_share
    FROM per p CROSS JOIN tot t
    ORDER BY p.decile
    """,
)
def q_orders_ltv_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer lifetime-value decile analysis: rank every customer by
    exact total revenue, cut into NTILE(10) deciles, report each
    decile's size and revenue share — the concentration table behind
    "our top decile is X% of revenue" (the discrete form of
    q_orders_lorenz's continuous curve, and the segmentation grid
    q_agg_rfm refines).

    Revenue rides the carrier; the decile assignment is deterministic
    (NTILE over the fully-tied-broken (rev DESC, custkey) order — both
    engines use the same equal-buckets-remainder-first rule, proven by
    q_win_ntile); decile sums go through the decimal carrier so shares
    are exact.  The window runs over the customer-level rollup, not the
    fact table."""
    o = t(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(dsum("o_totalprice", "rev"))
    w = Window.orderBy(F.col("rev").desc(), "o_custkey")
    deciled = rev.withColumn("decile", F.ntile(10).over(w).cast("int"))
    per = deciled.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(F.col("rev").cast(DEC)).cast("double").alias("decile_rev"),
    )
    tot = rev.agg(
        F.sum(F.col("rev").cast(DEC)).cast("double").alias("total")
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n_customers",
            F.round(F.col("decile_rev"), 6).alias("decile_rev"),
            F.round(F.col("decile_rev") / F.col("total"), 6).alias(
                "revenue_share"
            ),
        )
        .orderBy("decile")
    )


@query(
    "q_stats_anova",
    oracle="""
    WITH g AS (
      SELECT event_type,
             COUNT(*) AS n,
             CAST(SUM(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
               / 1e6 AS sx,
             CAST(SUM(CAST(floor(value * value * 1e6 + 0.5) AS HUGEINT))
                  AS DOUBLE) / 1e6 AS sxx
      FROM events GROUP BY event_type
    ),
    tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS nt,
             CAST(SUM(CAST(sx AS DECIMAL(18,6))) AS DOUBLE) AS sxt,
             COUNT(*) AS k
      FROM g
    ),
    comps AS (
      SELECT t.k, t.nt,
             CAST(SUM(CAST(floor((g.sx * g.sx / CAST(g.n AS DOUBLE)) * 1e6
                                 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6
               - (t.sxt * t.sxt / CAST(t.nt AS DOUBLE)) AS ssb,
             CAST(SUM(CAST(g.sxx AS DECIMAL(18,6))) AS DOUBLE)
               - CAST(SUM(CAST(floor((g.sx * g.sx / CAST(g.n AS DOUBLE))
                                     * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6
               AS ssw
      FROM g CROSS JOIN tot t
      GROUP BY t.k, t.nt, t.sxt
    )
    SELECT CAST(k AS INT) AS n_groups, nt AS n_rows,
           round(ssb, 6) AS ss_between,
           round(ssw, 6) AS ss_within,
           round((ssb / CAST(k - 1 AS DOUBLE))
                 / (ssw / CAST(nt - k AS DOUBLE)), 6) AS f_stat,
           round(ssb / (ssb + ssw), 6) AS eta_squared
    FROM comps
    """,
)
def q_stats_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of event values across the five event types — the
    k-group generalization that completes the repo's test family
    (t-analog Cohen's d for 2 groups, U for ranks, chi² for categories,
    KS for distributions): F = between-group / within-group mean square,
    plus η² (the variance-explained effect size, the ICC-style number
    that says whether event_type is worth conditioning on at all).

    One conditional-aggregation pass builds every per-group sufficient
    statistic (count, carrier sum, 128-bit carrier sum of squares); the
    ANOVA decomposition then runs on the K-row group relation — each
    per-group term re-floored onto the carrier before the cross-group
    sum so SSB/SSW are order-exact, with mirrored double arithmetic for
    the final ratios.
    """
    e = t(spark, sf_dir, "events")
    v = F.col("value")
    g = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        (
            F.sum(F.floor(v * F.lit(1e6) + F.lit(0.5)).cast("long")).cast(
                "double"
            )
            / 1e6
        ).alias("sx"),
        (
            F.sum(
                F.floor(v * v * F.lit(1e6) + F.lit(0.5)).cast("decimal(38,0)")
            ).cast("double")
            / 1e6
        ).alias("sxx"),
    )
    tot = g.agg(
        F.sum("n").cast("long").alias("nt"),
        F.sum(F.col("sx").cast(DEC)).cast("double").alias("sxt"),
        F.count(F.lit(1)).alias("k"),
    )
    gsq_c = F.floor(
        (F.col("sx") * F.col("sx") / F.col("n").cast("double")) * F.lit(1e6)
        + F.lit(0.5)
    ).cast("long")
    comps = (
        g.crossJoin(F.broadcast(tot))
        .groupBy("k", "nt", "sxt")
        .agg(
            (
                F.sum(gsq_c).cast("double") / 1e6
                - (F.col("sxt") * F.col("sxt") / F.col("nt").cast("double"))
            ).alias("ssb"),
            (
                F.sum(F.col("sxx").cast(DEC)).cast("double")
                - F.sum(gsq_c).cast("double") / 1e6
            ).alias("ssw"),
        )
    )
    kd = F.col("k").cast("double")
    ntd = F.col("nt").cast("double")
    return comps.select(
        F.col("k").cast("int").alias("n_groups"),
        F.col("nt").alias("n_rows"),
        F.round(F.col("ssb"), 6).alias("ss_between"),
        F.round(F.col("ssw"), 6).alias("ss_within"),
        F.round(
            (F.col("ssb") / (kd - 1)) / (F.col("ssw") / (ntd - kd)), 6
        ).alias("f_stat"),
        F.round(F.col("ssb") / (F.col("ssb") + F.col("ssw")), 6).alias(
            "eta_squared"
        ),
    )


@query(
    "q_parts_sourcing",
    oracle="""
    WITH ps AS (
      SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
    ),
    per_part AS (
      SELECT l_partkey, COUNT(*) AS n_suppliers FROM ps GROUP BY l_partkey
    ),
    tot AS (SELECT COUNT(*) AS n_parts FROM per_part)
    SELECT p.n_suppliers,
           COUNT(*) AS n_parts,
           round(CAST(COUNT(*) AS DOUBLE) / CAST(t.n_parts AS DOUBLE), 6)
             AS share,
           (p.n_suppliers = 1) AS single_sourced
    FROM per_part p CROSS JOIN tot t
    GROUP BY p.n_suppliers, t.n_parts
    ORDER BY p.n_suppliers
    """,
)
def q_parts_sourcing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supply-chain redundancy histogram: how many distinct suppliers
    has each part actually shipped from, bucketed — the single-source
    risk report (share of parts with exactly one observed supplier is
    the fragility number procurement tracks).  Derived from observed
    lineitem flows since the fixture carries no partsupp catalog —
    i.e. REALIZED sourcing, which is the stronger signal anyway.

    One (part, supplier) dedup shuffle does all the distinct work; the
    per-part counts and the histogram are successive map-side-combined
    rollups of it.
    """
    li = t(spark, sf_dir, "lineitem")
    ps = li.select("l_partkey", "l_suppkey").distinct()
    per_part = ps.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n_suppliers")
    )
    tot = per_part.agg(F.count(F.lit(1)).alias("n_parts_total"))
    return (
        per_part.crossJoin(F.broadcast(tot))
        .groupBy("n_suppliers", "n_parts_total")
        .agg(F.count(F.lit(1)).alias("n_parts"))
        .select(
            "n_suppliers",
            "n_parts",
            F.round(
                F.col("n_parts").cast("double")
                / F.col("n_parts_total").cast("double"),
                6,
            ).alias("share"),
            (F.col("n_suppliers") == 1).alias("single_sourced"),
        )
        .orderBy("n_suppliers")
    )


@query(
    "q_orders_revenue_bridge",
    oracle="""
    WITH cm AS (
      SELECT o_custkey,
             strftime(date_trunc('month', o_orderdate), '%Y-%m') AS mon,
             CAST(SUM(CAST(floor(o_totalprice * 1e6 + 0.5) AS BIGINT))
                  AS BIGINT) AS rev_c
      FROM orders GROUP BY o_custkey, mon
    ),
    lagged AS (
      SELECT mon, o_custkey, rev_c,
             LAG(mon) OVER (PARTITION BY o_custkey ORDER BY mon) AS prev_mon,
             LAG(rev_c) OVER (PARTITION BY o_custkey ORDER BY mon)
               AS prev_rev_c
      FROM cm
    ),
    classed AS (
      SELECT mon,
             CASE WHEN prev_mon IS NULL THEN 'new'
                  WHEN prev_mon = strftime(date_trunc('month',
                       CAST(mon || '-01' AS DATE)) - INTERVAL 1 MONTH,
                       '%Y-%m') THEN 'retained'
                  ELSE 'resurrected' END AS klass,
             rev_c
      FROM lagged
    )
    SELECT mon, klass,
           COUNT(*) AS n_customers,
           CAST(SUM(rev_c) AS DOUBLE) / 1e6 AS revenue
    FROM classed
    GROUP BY mon, klass
    ORDER BY mon, klass
    """,
)
def q_orders_revenue_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue bridge: each customer-month's revenue
    attributed to NEW (first month ever), RETAINED (also bought last
    month), or RESURRECTED (returned after a gap) — the growth-
    accounting decomposition (q_events_lifecycle's user-count logic,
    upgraded to carry revenue mass) that turns "GMV grew 8%" into WHY.

    One (customer, month) rollup with carrier revenue, one LAG window
    per customer over their month sequence (history-depth bounded), a
    tiny classed aggregation.  Month arithmetic stays in string-keyed
    calendar months on both engines.
    """
    o = t(spark, sf_dir, "orders")
    cm = (
        o.select(
            "o_custkey",
            F.date_format("o_orderdate", "yyyy-MM").alias("mon"),
            to_carrier(F.col("o_totalprice")).alias("pc"),
        )
        .groupBy("o_custkey", "mon")
        .agg(F.sum("pc").alias("rev_c"))
    )
    w = Window.partitionBy("o_custkey").orderBy("mon")
    lagged = cm.select(
        "mon",
        "rev_c",
        F.lag("mon").over(w).alias("prev_mon"),
    )
    prev_cal = F.date_format(
        F.add_months(F.to_date(F.concat(F.col("mon"), F.lit("-01"))), -1),
        "yyyy-MM",
    )
    classed = lagged.select(
        "mon",
        F.when(F.col("prev_mon").isNull(), "new")
        .when(F.col("prev_mon") == prev_cal, "retained")
        .otherwise("resurrected")
        .alias("klass"),
        "rev_c",
    )
    return (
        classed.groupBy("mon", "klass")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            # carrier/1e6 is already the exact display value: round()
            # on top of it DIVERGES between engines at ~1e10 magnitudes
            # (DuckDB's multiply-round-divide path injects 1e-6 noise;
            # found by the sf1 sweep) — one division, no re-round
            (F.sum("rev_c").cast("double") / 1e6).alias("revenue"),
        )
        .orderBy("mon", "klass")
    )


@query(
    "q_orders_forecast_holt",
    oracle="""
    WITH monthly AS (
      SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS mon,
             CAST(SUM(CAST(floor(o_totalprice * 1e6 + 0.5) AS BIGINT))
                  AS DOUBLE) / 1e6 AS y
      FROM orders GROUP BY mon
    ),
    idx AS (
      SELECT mon, y,
             CAST(ROW_NUMBER() OVER (ORDER BY mon) AS BIGINT) AS i
      FROM monthly
    ),
    n_t AS (SELECT COUNT(*) AS n FROM idx),
    r AS (
      WITH RECURSIVE rec(i, level, trend) AS (
        SELECT CAST(1 AS BIGINT),
               (SELECT y FROM idx WHERE i = 1),
               (SELECT y FROM idx WHERE i = 2)
                 - (SELECT y FROM idx WHERE i = 1)
        UNION ALL
        SELECT rec.i + 1,
               0.5 * nxt.y + 0.5 * (rec.level + rec.trend),
               0.5 * ((0.5 * nxt.y + 0.5 * (rec.level + rec.trend))
                      - rec.level)
                 + 0.5 * rec.trend
        FROM rec JOIN idx nxt ON nxt.i = rec.i + 1
        WHERE rec.i < (SELECT n FROM n_t)
      )
      SELECT * FROM rec
    )
    SELECT x.mon, x.y AS actual,
           floor(r.level * 1e6 + 0.5) / 1e6 AS level,
           floor(r.trend * 1e6 + 0.5) / 1e6 AS trend,
           floor((r.level + r.trend) * 1e6 + 0.5) / 1e6 AS forecast_next
    FROM r JOIN idx x ON x.i = r.i
    ORDER BY x.mon
    """,
)
def q_orders_forecast_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend (double exponential) smoothing over monthly
    revenue, α=β=0.5 — the level+trend forecaster that beats the flat
    SMA baseline (q_events_forecast_sma) on drifting series, with its
    one-step-ahead forecast per month.

    A smoothing recursion is inherently sequential, so both engines run
    it SEQUENTIALLY over the tiny monthly series (bounded: months, not
    rows): DuckDB as a recursive CTE, Spark by collecting the O(months)
    carrier-exact aggregate to the driver and replaying the identical
    float recurrence (α=0.5 makes every multiply exact-by-half; the
    op sequence is textually mirrored, so results are bit-identical) —
    the q_embed_pca driver-finish discipline applied to time series.
    The heavy part, the monthly rollup, is one map-side-combined
    aggregation over the fact scan.
    """
    o = t(spark, sf_dir, "orders")
    monthly = (
        o.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("mon"))
        .agg(
            (
                F.sum(to_carrier(F.col("o_totalprice"))).cast("double") / 1e6
            ).alias("y")
        )
        .orderBy("mon")
    )
    rows = monthly.collect()
    mons = [r["mon"] for r in rows]
    ys = [r["y"] for r in rows]
    out = []
    level = ys[0]
    trend = ys[1] - ys[0] if len(ys) > 1 else 0.0
    out.append((mons[0], ys[0], level, trend))
    for i in range(1, len(ys)):
        new_level = 0.5 * ys[i] + 0.5 * (level + trend)
        trend = 0.5 * (new_level - level) + 0.5 * trend
        level = new_level
        out.append((mons[i], ys[i], level, trend))
    import math

    def _r6(x: float) -> float:
        # floor-pin (floor(x*1e6+0.5)/1e6), NOT decimal rounding: the
        # identical IEEE op sequence as the oracle's SQL, so large
        # magnitudes can't diverge the way engine round() does (the
        # sf1 round-divergence class; see SCALING.md round 10)
        return math.floor(float(x) * 1e6 + 0.5) / 1e6

    res = [
        (m, y, _r6(lv), _r6(tr), _r6(lv + tr)) for (m, y, lv, tr) in out
    ]
    return spark.createDataFrame(
        res,
        "mon string, actual double, level double, trend double, "
        "forecast_next double",
    ).orderBy("mon")


@query(
    "q_orders_mat",
    oracle="""
    WITH monthly AS (
      SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS mon,
             CAST(SUM(CAST(floor(o_totalprice * 1e6 + 0.5) AS BIGINT))
                  AS BIGINT) AS rev_c,
             COUNT(*) AS n_orders
      FROM orders GROUP BY mon
    )
    SELECT mon,
           CAST(rev_c AS DOUBLE) / 1e6 AS month_revenue,
           CAST(SUM(rev_c) OVER (ORDER BY mon
                ROWS BETWEEN 11 PRECEDING AND CURRENT ROW)
                AS DOUBLE) / 1e6 AS mat_revenue,
           CAST(COUNT(*) OVER (ORDER BY mon
                ROWS BETWEEN 11 PRECEDING AND CURRENT ROW) AS INT)
             AS months_in_window
    FROM monthly
    ORDER BY mon
    """,
)
def q_orders_mat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving annual total (MAT): trailing-12-month revenue per month —
    the deseasonalized growth line every commercial review opens with
    (month-on-month wiggles cancel; only trend remains), with the
    window-fill count so partial early windows are self-describing.

    The 12-month frame runs over the O(months) rollup relation, never
    fact rows; revenue stays an exact carrier integer through the frame
    sum.  One map-side-combined monthly aggregation is the only
    fact-scale work.
    """
    o = t(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("mon")
    ).agg(
        F.sum(to_carrier(F.col("o_totalprice"))).alias("rev_c"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    w = Window.orderBy("mon").rowsBetween(-11, Window.currentRow)
    return monthly.select(
        "mon",
        # exact carrier / 1e6, no re-round (sf1 round-divergence class)
        (F.col("rev_c").cast("double") / 1e6).alias("month_revenue"),
        (F.sum("rev_c").over(w).cast("double") / 1e6).alias("mat_revenue"),
        F.count(F.lit(1)).over(w).cast("int").alias("months_in_window"),
    ).orderBy("mon")


# ---------------------------------------------------------------------------
# Permutation test via hashed relabeling (one-pass, B replicates)
# ---------------------------------------------------------------------------

PERM_B = 32  # replicates (one per sha256 byte of the row key)


def _o_perm_byte(b: int) -> str:
    return f"('0x' || substr(hx, {2 * b + 1}, 2))::INT"


@query(
    "q_stats_permutation",
    oracle=f"""
    WITH pool AS (
      SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS xq,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_a,
             sha256(CAST(event_id AS VARCHAR)) AS hx
      FROM events WHERE event_type IN ('click', 'purchase')
    ),
    tot AS (
      SELECT CAST(SUM(is_a) AS BIGINT) AS na_obs,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(xq) AS BIGINT) AS s,
             CAST(SUM(CASE WHEN is_a = 1 THEN xq END) AS BIGINT) AS sa_obs
      FROM pool
    ),
    thr AS (SELECT CAST(floor(CAST(na_obs * 256 AS DOUBLE) / n)
                        AS BIGINT) AS thr FROM tot),
    reps AS (
      SELECT
        {', '.join(
            f"CAST(SUM(CASE WHEN {_o_perm_byte(b)} < t.thr THEN xq END) "
            f"AS BIGINT) AS sa{b}, "
            f"CAST(SUM(CASE WHEN {_o_perm_byte(b)} < t.thr THEN 1 END) "
            f"AS BIGINT) AS na{b}"
            for b in range(PERM_B)
        )}
      FROM pool CROSS JOIN thr t
    ),
    diffs AS (
      SELECT [
        {', '.join(
            f"round(CAST(sa{b} AS DOUBLE) / 100.0 / na{b} "
            f"- CAST(t.s - sa{b} AS DOUBLE) / 100.0 / (t.n - na{b}), 6)"
            for b in range(PERM_B)
        )}
      ] AS dl
      FROM reps CROSS JOIN tot t
    )
    SELECT t.n, t.na_obs AS n_a,
           round(CAST(t.sa_obs AS DOUBLE) / 100.0 / t.na_obs
                 - CAST(t.s - t.sa_obs AS DOUBLE) / 100.0
                   / (t.n - t.na_obs), 6) AS obs_diff,
           CAST(len(list_filter(d.dl, x ->
             abs(x) >= abs(round(CAST(t.sa_obs AS DOUBLE) / 100.0 / t.na_obs
                   - CAST(t.s - t.sa_obs AS DOUBLE) / 100.0
                     / (t.n - t.na_obs), 6)))) AS BIGINT) AS n_ge,
           round(CAST(1 + len(list_filter(d.dl, x ->
             abs(x) >= abs(round(CAST(t.sa_obs AS DOUBLE) / 100.0 / t.na_obs
                   - CAST(t.s - t.sa_obs AS DOUBLE) / 100.0
                     / (t.n - t.na_obs), 6)))) AS DOUBLE)
                 / {PERM_B + 1}, 6) AS p_value
    FROM tot t CROSS JOIN diffs d
    """,
)
def q_stats_permutation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation test for the click-vs-purchase mean-value gap: B
    hashed relabelings of the pooled rows (group sizes preserved up to
    the 8-bit threshold quantization) rebuild the null distribution of
    the difference-in-means, and the p-value is the fraction of
    replicate |diffs| ≥ |observed| — the distribution-free alternative
    to q_stats_welch_t (no normality assumption, no CDF), and the same
    one-pass conditional-aggregation shape as q_stats_bootstrap.

    Each replicate's label is one BYTE of the row's sha256 (32
    replicates from one hash call per row — not B hash calls), so the
    whole test is a single corpus scan producing 2·B+4 exact-long
    aggregates; no data movement depends on B.  Values ride the cents
    carrier; each diff is fixed-order double math rounded at 6, and the
    comparison happens on the rounded grid, so the count is engine-exact.
    """
    # spread() before the per-row sha256 (guide §2.5 input skew): the
    # one-row-group events fixture scans as a single task, serializing
    # the hash + 64-aggregate pass; on a many-file layout it's a no-op
    pool = (
        spread(
            t(spark, sf_dir, "events")
            .filter(F.col("event_type").isin("click", "purchase"))
            .select("event_id", "event_type", "value"),
            spark,
        )
        .select(
            F.floor(F.col("value") * 100 + 0.5).cast("long").alias("xq"),
            F.when(F.col("event_type") == "click", 1).otherwise(0).alias(
                "is_a"
            ),
            F.sha2(F.col("event_id").cast("string"), 256).alias("hx"),
        )
    )
    tot = pool.agg(
        F.sum("is_a").cast("long").alias("na_obs"),
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("xq").cast("long").alias("s"),
        F.sum(F.when(F.col("is_a") == 1, F.col("xq"))).cast("long").alias(
            "sa_obs"
        ),
    ).withColumn(
        "thr",
        F.floor((F.col("na_obs") * 256).cast("double") / F.col("n")).cast(
            "long"
        ),
    )
    # decode the 32 label bytes ONCE per row into an array; each
    # replicate's two aggregates then read bytes[b] instead of re-running
    # conv(substring(sha256)) per conditional (64 decodes -> 32)
    byte = lambda b: F.conv(  # noqa: E731
        F.substring("hx", 2 * b + 1, 2), 16, 10
    ).cast("int")
    decoded = pool.crossJoin(F.broadcast(tot.select("thr"))).select(
        "xq",
        F.array(*[(byte(b) < F.col("thr")) for b in range(PERM_B)]).alias(
            "in_a"
        ),
    )
    reps_aggs = []
    for b in range(PERM_B):
        cond = F.col("in_a")[b]
        reps_aggs.append(
            F.sum(F.when(cond, F.col("xq"))).cast("long").alias(f"sa{b}")
        )
        reps_aggs.append(
            F.sum(F.when(cond, 1)).cast("long").alias(f"na{b}")
        )
    reps = decoded.agg(*reps_aggs)
    j = reps.crossJoin(F.broadcast(tot))
    diff = lambda sa, na: F.round(  # noqa: E731
        sa.cast("double") / 100.0 / na
        - (F.col("s") - sa).cast("double") / 100.0 / (F.col("n") - na),
        6,
    )
    dl = F.array(
        *[diff(F.col(f"sa{b}"), F.col(f"na{b}")) for b in range(PERM_B)]
    )
    obs = diff(F.col("sa_obs"), F.col("na_obs"))
    n_ge = F.size(F.filter(dl, lambda x: F.abs(x) >= F.abs(obs))).cast("long")
    return j.select(
        "n",
        F.col("na_obs").alias("n_a"),
        obs.alias("obs_diff"),
        n_ge.alias("n_ge"),
        F.round((n_ge + 1).cast("double") / (PERM_B + 1), 6).alias("p_value"),
    )


# ---------------------------------------------------------------------------
# Repeat-purchase rate by acquisition cohort
# ---------------------------------------------------------------------------


@query(
    "q_orders_repeat_rate",
    oracle="""
    WITH per_cust AS (
      SELECT o_custkey,
             strftime(date_trunc('month', MIN(o_orderdate)), '%Y-%m')
               AS cohort,
             CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY o_custkey
    )
    SELECT cohort,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_repeat,
           round(CAST(SUM(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS repeat_rate,
           round(CAST(SUM(n_orders) AS DOUBLE) / COUNT(*), 6)
             AS avg_orders
    FROM per_cust
    GROUP BY cohort
    ORDER BY cohort
    """,
)
def q_orders_repeat_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase rate by acquisition cohort: customers grouped by
    their FIRST order's month; the share who ever ordered again is the
    retention number a marketplace actually steers by (the orders-side
    sibling of q_events_retention, which tracks event-level cohorts).

    One hash aggregate per customer (min date + count in the same
    pass — no window, no self-join), then a month-grain rollup;
    the only corpus shuffle is the o_custkey aggregation.  Rates are
    single divisions of exact longs, rounded at 6.
    """
    o = t(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.date_format(
            F.date_trunc("month", F.min("o_orderdate")), "yyyy-MM"
        ).alias("cohort"),
        F.count(F.lit(1)).cast("long").alias("n_orders"),
    )
    rep = F.sum(F.when(F.col("n_orders") >= 2, 1).otherwise(0)).cast("long")
    return (
        per_cust.groupBy("cohort")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            rep.alias("n_repeat"),
            F.round(
                rep.cast("double") / F.count(F.lit(1)), 6
            ).alias("repeat_rate"),
            F.round(
                F.sum("n_orders").cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_orders"),
        )
        .orderBy("cohort")
    )


# ---------------------------------------------------------------------------
# Run-rate drawdown: worst decline from the peak daily revenue
# ---------------------------------------------------------------------------


@query(
    "q_orders_drawdown",
    oracle="""
    WITH daily AS (
      SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
             CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS rev_cents
      FROM orders GROUP BY day
    ),
    tracked AS (
      SELECT day, rev_cents,
             CAST(MAX(rev_cents) OVER (ORDER BY day
                                       ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS peak_cents
      FROM daily
    )
    SELECT day, rev_cents, peak_cents,
           round(1.0 - CAST(rev_cents AS DOUBLE) / peak_cents, 6)
             AS drawdown
    FROM tracked
    ORDER BY drawdown DESC, day
    LIMIT 5
    """,
)
def q_orders_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-rate drawdown: for every day, how far daily revenue sits
    below the best day seen SO FAR (running peak), reporting the 5
    worst declines — the finance-style health metric ('we are 38% off
    peak run-rate, and here is when it happened') that a flat
    day-over-day delta misses because it has no memory of the peak.

    One day-grain hash aggregate off the scan (revenue summed as exact
    cents), then a running MAX over the bounded O(days) rollup —
    driver-sized window per SCALING.md's rollup rule — and a top-5 via
    TakeOrdered.  The drawdown ratio is one double division of exact
    longs, rounded at 6.
    """
    o = t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("day")
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long"))
        .cast("long")
        .alias("rev_cents")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    tracked = daily.select(
        "day",
        "rev_cents",
        F.max("rev_cents").over(w).cast("long").alias("peak_cents"),
    )
    return (
        tracked.select(
            "day",
            "rev_cents",
            "peak_cents",
            F.round(
                F.lit(1.0)
                - F.col("rev_cents").cast("double") / F.col("peak_cents"),
                6,
            ).alias("drawdown"),
        )
        .orderBy(F.col("drawdown").desc(), "day")
        .limit(5)
    )


# ---------------------------------------------------------------------------
# Order fulfillment progress by status
# ---------------------------------------------------------------------------


@query(
    "q_orders_fulfillment",
    oracle="""
    WITH per_order AS (
      SELECT o.o_orderkey, o.o_orderstatus,
             CAST(COUNT(*) AS BIGINT) AS n_lines,
             CAST(SUM(CASE WHEN l.l_linestatus = 'F' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_filled
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, o.o_orderstatus
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(n_lines) AS BIGINT) AS n_lines,
           round(CAST(SUM(n_filled) AS DOUBLE) / SUM(n_lines), 6)
             AS line_fill_rate,
           CAST(SUM(CASE WHEN n_filled = n_lines THEN 1 ELSE 0 END)
                AS BIGINT) AS n_fully_filled,
           round(CAST(SUM(CASE WHEN n_filled = n_lines THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS order_fill_rate
    FROM per_order
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def q_orders_fulfillment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fulfillment progress by order status: line-level fill rate
    (share of lineitems with linestatus 'F') and order-level fill rate
    (orders with EVERY line filled) — the two numbers operations
    dashboards track separately because they diverge exactly when big
    orders stall (line rate high, order rate low).  Validates the
    o_orderstatus rollup against its lineitem ground truth (an 'O'
    order with every line filled is a data-quality smell this surfaces).

    One fact-side join on the order key (the natural co-partitioning),
    a per-order conditional count, then a tiny status rollup; rates are
    single divisions of exact longs.
    """
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linestatus")
    per_order = (
        o.join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderkey", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum(F.when(F.col("l_linestatus") == "F", 1).otherwise(0))
            .cast("long")
            .alias("n_filled"),
        )
    )
    full = F.sum(
        F.when(F.col("n_filled") == F.col("n_lines"), 1).otherwise(0)
    ).cast("long")
    return (
        per_order.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("n_lines").cast("long").alias("n_lines"),
            F.round(
                F.sum("n_filled").cast("double") / F.sum("n_lines"), 6
            ).alias("line_fill_rate"),
            full.alias("n_fully_filled"),
            F.round(full.cast("double") / F.count(F.lit(1)), 6).alias(
                "order_fill_rate"
            ),
        )
        .orderBy("o_orderstatus")
    )


NEWSVENDOR_LEVELS = (80, 90, 95)


@query(
    "q_orders_newsvendor",
    oracle=f"""
    WITH daily AS (
      SELECT o_orderpriority AS priority,
             strftime(o_orderdate, '%Y-%m-%d') AS day,
             CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS dq
      FROM orders GROUP BY 1, 2
    ),
    hist AS (
      SELECT priority, dq, CAST(COUNT(*) AS BIGINT) AS c
      FROM daily GROUP BY priority, dq
    ),
    cum AS (
      SELECT priority, dq,
             CAST(SUM(c) OVER (PARTITION BY priority ORDER BY dq)
                  AS BIGINT) AS cc
      FROM hist
    ),
    nd AS (
      SELECT priority, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(dq) AS BIGINT) AS sq
      FROM daily GROUP BY priority
    ),
    levels AS (
      SELECT unnest([{', '.join(str(v) for v in NEWSVENDOR_LEVELS)}])
        AS service_pct
    ),
    hits AS (
      SELECT c.priority, l.service_pct,
             CAST(MIN(c.dq) AS BIGINT) AS stock_cents
      FROM cum c
      JOIN nd ON nd.priority = c.priority
      CROSS JOIN levels l
      WHERE c.cc * 100 >= nd.n * l.service_pct
      GROUP BY c.priority, l.service_pct
    )
    SELECT h.priority, h.service_pct,
           round(h.stock_cents / 100.0, 2) AS stock_level,
           nd.n AS n_days,
           round(CAST(nd.sq AS DOUBLE) / nd.n / 100.0, 2) AS mean_daily
    FROM hits h JOIN nd ON nd.priority = h.priority
    ORDER BY h.priority, h.service_pct
    """,
)
def q_orders_newsvendor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newsvendor stocking levels: for each order priority, the daily
    revenue-demand quantile at 80/90/95% service levels (the critical
    fractile q = Cu/(Cu+Co) decides WHICH level; this op supplies the
    demand quantiles those fractiles index into), next to the mean —
    the inventory-planning readout that q_agg_percentile (global
    percentiles) and q_orders_forecast_holt (point forecast) don't
    give: "stock S so that P(demand ≤ S) ≥ q".

    Exact integer percentile machinery end to end: demand is the daily
    cents sum, the per-priority histogram + running count replaces any
    raw-row sort, the crossing test cc·100 ≥ n·pct is exact integers,
    and MIN picks the percentile_disc value.  Everything after the one
    (priority, day) collapse runs on a bounded relation."""
    daily = (
        t(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderpriority").alias("priority"),
            F.date_format(
                F.col("o_orderdate").cast("timestamp"), "yyyy-MM-dd"
            ).alias("day"),
        )
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long"))
            .cast("long")
            .alias("dq")
        )
    )
    hist = daily.groupBy("priority", "dq").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    wcum = (
        Window.partitionBy("priority")
        .orderBy("dq")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.select(
        "priority", "dq", F.sum("c").over(wcum).cast("long").alias("cc")
    )
    nd = daily.groupBy("priority").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("dq").cast("long").alias("sq"),
    )
    levels = spark.range(0, len(NEWSVENDOR_LEVELS)).select(
        F.element_at(
            F.array(*[F.lit(v) for v in NEWSVENDOR_LEVELS]),
            (F.col("id") + 1).cast("int"),
        ).alias("service_pct")
    )
    hits = (
        cum.join(
            F.broadcast(nd.select(F.col("priority").alias("n_pri"), "n")),
            F.col("n_pri") == F.col("priority"),
        )
        .crossJoin(F.broadcast(levels))
        .filter(F.col("cc") * 100 >= F.col("n") * F.col("service_pct"))
        .groupBy("priority", "service_pct")
        .agg(F.min("dq").cast("long").alias("stock_cents"))
    )
    return (
        hits.join(F.broadcast(nd), "priority")
        .select(
            "priority",
            "service_pct",
            F.round(F.col("stock_cents") / 100.0, 2).alias("stock_level"),
            F.col("n").alias("n_days"),
            F.round(
                F.col("sq").cast("double") / F.col("n") / 100.0, 2
            ).alias("mean_daily"),
        )
        .orderBy("priority", "service_pct")
    )


@query(
    "q_orders_price_elasticity",
    oracle="""
    WITH per_part AS (
      SELECT l_partkey,
             CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS pc,
             CAST(SUM(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS BIGINT)
               AS q,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM lineitem GROUP BY l_partkey
    ),
    carrier AS (
      SELECT CAST(floor(ln(CAST(pc AS DOUBLE) / c / 100.0) * 1e9 + 0.5)
                  AS BIGINT) AS x9,
             CAST(floor(ln(CAST(q AS DOUBLE)) * 1e9 + 0.5) AS BIGINT)
               AS y9
      FROM per_part WHERE q > 0 AND pc > 0
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x9) AS BIGINT) AS sx,
             CAST(SUM(y9) AS BIGINT) AS sy,
             CAST(SUM(CAST(x9 AS HUGEINT) * x9) AS HUGEINT) AS sxx,
             CAST(SUM(CAST(y9 AS HUGEINT) * y9) AS HUGEINT) AS syy,
             CAST(SUM(CAST(x9 AS HUGEINT) * y9) AS HUGEINT) AS sxy
      FROM carrier
    )
    SELECT n AS n_parts,
           round(CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                 / CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE), 6)
             AS elasticity,
           round((CAST(sy AS DOUBLE)
                  - CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                    / CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
                    * sx) / n / 1e9, 6) AS intercept_ln,
           round(CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                 * CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                 / CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
                 / CAST(n * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE), 6)
             AS r2
    FROM s
    """,
)
def q_orders_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-log price elasticity of demand across parts: the OLS slope of
    ln(total quantity) on ln(mean unit price) over the per-part relation
    — "a 1% higher price sells how many % fewer units?" — with R².  The
    economics companion to q_stats_regression (linear daily trend) and
    q_stats_theil_sen (robust slope).

    Per-part price/quantity sums are exact integer cents; the two log
    features are pinned at 9 dp and lifted onto 1e9-scaled-long carriers
    (the transcendental rule: identical IEEE inputs → identical ln
    both engines, then integer sums are order-free), so Σx, Σy, Σx²,
    Σxy, Σy² are exact HUGEINT/decimal and the slope/R² divide identical
    integers.  One shuffle on l_partkey; the regression runs on the
    1-row moment relation."""
    per_part = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(
            F.sum(
                F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")
            )
            .cast("long")
            .alias("pc"),
            F.sum(F.floor(F.col("l_quantity") + 0.5).cast("long"))
            .cast("long")
            .alias("q"),
            F.count(F.lit(1)).cast("long").alias("c"),
        )
    )
    carrier = per_part.filter(
        (F.col("q") > 0) & (F.col("pc") > 0)
    ).select(
        F.floor(
            F.log(F.col("pc").cast("double") / F.col("c") / 100.0) * 1e9
            + 0.5
        )
        .cast("long")
        .alias("x9"),
        F.floor(F.log(F.col("q").cast("double")) * 1e9 + 0.5)
        .cast("long")
        .alias("y9"),
    )
    x9d = F.col("x9").cast("decimal(38,0)")
    y9d = F.col("y9").cast("decimal(38,0)")
    s = carrier.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x9").cast("long").alias("sx"),
        F.sum("y9").cast("long").alias("sy"),
        F.sum(x9d * F.col("x9")).alias("sxx"),
        F.sum(y9d * F.col("y9")).alias("syy"),
        F.sum(x9d * F.col("y9")).alias("sxy"),
    )
    sxd = F.col("sx").cast("decimal(38,0)")
    syd = F.col("sy").cast("decimal(38,0)")
    bn = (F.col("n") * F.col("sxy") - sxd * F.col("sy")).cast("double")
    bd = (F.col("n") * F.col("sxx") - sxd * F.col("sx")).cast("double")
    yd = (F.col("n") * F.col("syy") - syd * F.col("sy")).cast("double")
    return s.select(
        F.col("n").alias("n_parts"),
        F.round(bn / bd, 6).alias("elasticity"),
        F.round(
            (F.col("sy").cast("double") - bn / bd * F.col("sx"))
            / F.col("n")
            / 1e9,
            6,
        ).alias("intercept_ln"),
        F.round(bn * bn / bd / yd, 6).alias("r2"),
    )


@query(
    "q_orders_xyz_class",
    oracle="""
    WITH monthly AS (
      SELECT l_partkey, strftime(l_shipdate, '%Y-%m') AS mon,
             CAST(SUM(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS q
      FROM lineitem GROUP BY 1, 2
    ),
    varies AS (
      SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS nm,
             CAST(SUM(q) AS BIGINT) AS s1,
             CAST(SUM(CAST(q AS HUGEINT) * q) AS HUGEINT) AS s2
      FROM monthly GROUP BY l_partkey
    ),
    xyz AS (
      SELECT l_partkey,
             CASE WHEN nm < 2 THEN 'X'
                  WHEN sqrt((CAST(s2 AS DOUBLE)
                             - CAST(s1 AS DOUBLE) / nm * s1) / (nm - 1))
                       / (CAST(s1 AS DOUBLE) / nm) < 0.5 THEN 'X'
                  WHEN sqrt((CAST(s2 AS DOUBLE)
                             - CAST(s1 AS DOUBLE) / nm * s1) / (nm - 1))
                       / (CAST(s1 AS DOUBLE) / nm) < 1.0 THEN 'Y'
                  ELSE 'Z' END AS xyz_class
      FROM varies
    ),
    rev AS (
      SELECT l_partkey,
             CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 1e6
                                 + 0.5) AS BIGINT)) AS BIGINT) AS rev_c
      FROM lineitem GROUP BY l_partkey
    ),
    abc AS (
      SELECT l_partkey, rev_c,
             CASE WHEN CAST(SUM(rev_c) OVER (ORDER BY rev_c DESC,
                           l_partkey) AS DOUBLE)
                       / CAST(SUM(rev_c) OVER () AS DOUBLE) <= 0.8
                    THEN 'A'
                  WHEN CAST(SUM(rev_c) OVER (ORDER BY rev_c DESC,
                           l_partkey) AS DOUBLE)
                       / CAST(SUM(rev_c) OVER () AS DOUBLE) <= 0.95
                    THEN 'B'
                  ELSE 'C' END AS abc_class
      FROM rev
    )
    SELECT a.abc_class, x.xyz_class,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           round(CAST(SUM(a.rev_c) AS DOUBLE) / 1e6, 2) AS cell_revenue
    FROM abc a JOIN xyz x ON x.l_partkey = a.l_partkey
    GROUP BY a.abc_class, x.xyz_class
    ORDER BY a.abc_class, x.xyz_class
    """,
)
def q_orders_xyz_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC×XYZ inventory grid: parts classed by revenue contribution
    (A ≤80% cumulative share, B ≤95%, C tail — q_abc_analysis's
    thresholds) CROSSED with demand-variability class from the
    coefficient of variation of monthly shipped quantity (X cv<0.5
    steady, Y cv<1 variable, Z erratic) — the 9-cell planning matrix
    (AX = automate replenishment, CZ = make-to-order) that an ABC
    report alone cannot produce.

    Two part-key reductions of lineitem (monthly-demand moments on the
    centi-quantity carrier; revenue carrier) — both shuffle once on the
    uniform part key; the CV is a fixed-order expression on exact
    integer moment sums, the ABC share reuses the documented ordered
    window over the AGGREGATED part relation (abc_analysis's scale
    note), and the final grid is a 9-row join+agg."""
    l = t(spark, sf_dir, "lineitem")
    monthly = l.groupBy(
        "l_partkey", F.date_format("l_shipdate", "yyyy-MM").alias("mon")
    ).agg(
        F.sum(F.floor(F.col("l_quantity") * 100 + 0.5).cast("long"))
        .cast("long")
        .alias("q")
    )
    varies = monthly.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("nm"),
        F.sum("q").cast("long").alias("s1"),
        F.sum(F.col("q").cast("decimal(38,0)") * F.col("q")).alias("s2"),
    )
    cv = F.sqrt(
        (
            F.col("s2").cast("double")
            - F.col("s1").cast("double") / F.col("nm") * F.col("s1")
        )
        / (F.col("nm") - 1)
    ) / (F.col("s1").cast("double") / F.col("nm"))
    xyz = varies.select(
        "l_partkey",
        F.when(F.col("nm") < 2, "X")
        .when(cv < 0.5, "X")
        .when(cv < 1.0, "Y")
        .otherwise("Z")
        .alias("xyz_class"),
    )
    rev = l.groupBy("l_partkey").agg(
        F.sum(
            F.floor(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 1e6
                + 0.5
            ).cast("long")
        )
        .cast("long")
        .alias("rev_c")
    )
    wcum = Window.orderBy(F.col("rev_c").desc(), "l_partkey").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy()
    share = F.sum("rev_c").over(wcum).cast("double") / F.sum("rev_c").over(
        wall
    ).cast("double")
    abc = rev.select(
        "l_partkey",
        "rev_c",
        F.when(share <= 0.8, "A")
        .when(share <= 0.95, "B")
        .otherwise("C")
        .alias("abc_class"),
    )
    return (
        abc.join(xyz, "l_partkey")
        .groupBy("abc_class", "xyz_class")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.round(F.sum("rev_c").cast("double") / 1e6, 2).alias(
                "cell_revenue"
            ),
        )
        .orderBy("abc_class", "xyz_class")
    )


# ---------------------------------------------------------------------------
# RFM segmentation (round 9): the classic CRM customer partition.
# ---------------------------------------------------------------------------

RFM_ASOF = "2001-08-01"  # fixture max order date (recency anchor)
# Fixed policy bands (calibrated once to the fixture quantiles, then
# FROZEN — production RFM uses business-defined bands for exactly this
# reason: band edges must not drift with the data, or segments churn
# without behavior changing; quantile scoring would also force a global
# sort/percentile pass the fixed grid avoids at 100 TB).
RFM_R_BANDS = (30, 90, 180, 365)          # days → scores 5..1
RFM_F_BANDS = (14, 12, 10, 8)             # orders → scores 5..1
RFM_M_BANDS = (350_000_00, 290_000_00, 240_000_00, 190_000_00)  # cents


@query(
    "q_orders_rfm",
    oracle=f"""
    WITH cust AS (
      SELECT o_custkey,
             CAST(date_diff('day', CAST(MAX(o_orderdate) AS DATE),
                            DATE '{RFM_ASOF}') AS BIGINT) AS recency,
             CAST(COUNT(*) AS BIGINT) AS freq,
             CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS monetary
      FROM orders GROUP BY 1
    ),
    scored AS (
      SELECT *,
        CASE WHEN recency <= {RFM_R_BANDS[0]} THEN 5
             WHEN recency <= {RFM_R_BANDS[1]} THEN 4
             WHEN recency <= {RFM_R_BANDS[2]} THEN 3
             WHEN recency <= {RFM_R_BANDS[3]} THEN 2 ELSE 1 END AS r_score,
        CASE WHEN freq >= {RFM_F_BANDS[0]} THEN 5
             WHEN freq >= {RFM_F_BANDS[1]} THEN 4
             WHEN freq >= {RFM_F_BANDS[2]} THEN 3
             WHEN freq >= {RFM_F_BANDS[3]} THEN 2 ELSE 1 END AS f_score,
        CASE WHEN monetary >= {RFM_M_BANDS[0]} THEN 5
             WHEN monetary >= {RFM_M_BANDS[1]} THEN 4
             WHEN monetary >= {RFM_M_BANDS[2]} THEN 3
             WHEN monetary >= {RFM_M_BANDS[3]} THEN 2 ELSE 1 END AS m_score
      FROM cust
    ),
    seg AS (
      SELECT *,
        CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4
               THEN 'champions'
             WHEN f_score >= 4 THEN 'loyal'
             WHEN m_score >= 4 THEN 'big_spenders'
             WHEN r_score <= 2 AND f_score >= 3 THEN 'at_risk'
             WHEN r_score <= 2 THEN 'hibernating'
             ELSE 'regular' END AS segment
      FROM scored
    )
    SELECT segment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           round(CAST(SUM(recency) AS DOUBLE) / COUNT(*), 6)
             AS avg_recency_days,
           round(CAST(SUM(freq) AS DOUBLE) / COUNT(*), 6) AS avg_orders,
           round(CAST(SUM(monetary) AS DOUBLE) / COUNT(*) / 100.0, 6)
             AS avg_monetary
    FROM seg GROUP BY segment ORDER BY segment
    """,
)
def q_orders_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation with NAMED segments — the policy-banded sibling
    of q_agg_rfm (operators/aggregates.py), which scores by data-driven
    QUARTILES: quartile scores adapt to the population (good for
    exploratory scoring) but shift every segment boundary whenever the
    data grows; this operator freezes business bands (5..1 each) and
    rolls customers into the named CRM segments an activation team
    consumes (champions, loyal, big_spenders, at_risk, hibernating,
    regular; CASE order fixed so both engines label identically).  Both
    framings are standard practice — the pair covers both.

    One orders pass to the per-customer (recency, freq, cents) relation
    — the only shuffle, keyed on o_custkey; scoring is a stateless
    projection against FIXED policy bands (no quantile pass, no segment
    churn when data grows), and the segment rollup aggregates a 6-row
    domain.  Monetary rides exact integer cents; the averages are
    single fixed-order divisions.  Reference: delegated HiveQL
    analytics class (backend/hive_manager.py:400)."""
    asof = F.lit(RFM_ASOF).cast("date")
    cust = (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.datediff(asof, F.max(F.col("o_orderdate").cast("date")))
            .cast("long")
            .alias("recency"),
            F.count(F.lit(1)).cast("long").alias("freq"),
            F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long"))
            .cast("long")
            .alias("monetary"),
        )
    )
    r_score = (
        F.when(F.col("recency") <= RFM_R_BANDS[0], 5)
        .when(F.col("recency") <= RFM_R_BANDS[1], 4)
        .when(F.col("recency") <= RFM_R_BANDS[2], 3)
        .when(F.col("recency") <= RFM_R_BANDS[3], 2)
        .otherwise(1)
    )
    f_score = (
        F.when(F.col("freq") >= RFM_F_BANDS[0], 5)
        .when(F.col("freq") >= RFM_F_BANDS[1], 4)
        .when(F.col("freq") >= RFM_F_BANDS[2], 3)
        .when(F.col("freq") >= RFM_F_BANDS[3], 2)
        .otherwise(1)
    )
    m_score = (
        F.when(F.col("monetary") >= RFM_M_BANDS[0], 5)
        .when(F.col("monetary") >= RFM_M_BANDS[1], 4)
        .when(F.col("monetary") >= RFM_M_BANDS[2], 3)
        .when(F.col("monetary") >= RFM_M_BANDS[3], 2)
        .otherwise(1)
    )
    scored = cust.select(
        "recency",
        "freq",
        "monetary",
        r_score.alias("r_score"),
        f_score.alias("f_score"),
        m_score.alias("m_score"),
    )
    segment = (
        F.when(
            (F.col("r_score") >= 4)
            & (F.col("f_score") >= 4)
            & (F.col("m_score") >= 4),
            "champions",
        )
        .when(F.col("f_score") >= 4, "loyal")
        .when(F.col("m_score") >= 4, "big_spenders")
        .when((F.col("r_score") <= 2) & (F.col("f_score") >= 3), "at_risk")
        .when(F.col("r_score") <= 2, "hibernating")
        .otherwise("regular")
    )
    return (
        scored.withColumn("segment", segment)
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.round(
                F.sum("recency").cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_recency_days"),
            F.round(
                F.sum("freq").cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_orders"),
            F.round(
                F.sum("monetary").cast("double") / F.count(F.lit(1)) / 100.0,
                6,
            ).alias("avg_monetary"),
        )
        .orderBy("segment")
    )


@query(
    "q_orders_seasonal_index",
    oracle="""
    WITH m AS (
      SELECT CAST(month(o_orderdate) AS BIGINT) AS mo,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS rev_cents
      FROM orders GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(rev_cents) AS BIGINT) AS total FROM m)
    SELECT mo, n_orders,
           round(rev_cents / 100.0, 2) AS revenue,
           round(12.0 * rev_cents / t.total, 6) AS seasonal_index
    FROM m CROSS JOIN tot t ORDER BY mo
    """,
)
def q_orders_seasonal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-month seasonality index of order revenue over the full
    multi-year span: index_m = 12·rev_m / Σrev (1.0 = an average month)
    — the demand-planning input that feeds q_orders_newsvendor's
    stocking levels and deseasonalizes q_orders_share_shift's
    comparisons; the events-side seasonal ops (q_events_seasonal,
    q_stats_seasonal_strength) cover day-of-week on a 30-day window and
    cannot see YEARLY cycles, which only the 6.5-year orders span
    exposes.

    One pass to the 12-row month domain (exact integer cents; the
    month rollup is the only shuffle and its key domain is fixed);
    the index is two exact BIGINTs in one fixed-order division, with
    the total riding the 1-row broadcast crossJoin carrier pattern."""
    m = (
        t(spark, sf_dir, "orders")
        .groupBy(F.month("o_orderdate").cast("long").alias("mo"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long"))
            .cast("long")
            .alias("rev_cents"),
        )
    )
    tot = m.agg(F.sum("rev_cents").cast("long").alias("total"))
    return (
        m.crossJoin(F.broadcast(tot))
        .select(
            "mo",
            "n_orders",
            F.round(F.col("rev_cents") / 100.0, 2).alias("revenue"),
            F.round(
                12.0 * F.col("rev_cents") / F.col("total"), 6
            ).alias("seasonal_index"),
        )
        .orderBy("mo")
    )


# Shared decomposition core (q_orders_decompose + q_orders_anomaly_stl):
# monthly revenue series -> centered 2x12-MA trend carrier T24 ->
# detrended d24 -> month-of-year seasonal numerators (sum24, cnt).
_O_DECOMP_CORE = """
    m AS (
      SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
               AS t,
             CAST(year(o_orderdate) AS BIGINT) AS yr,
             CAST(month(o_orderdate) AS BIGINT) AS mo,
             CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS x
      FROM orders GROUP BY 1, 2, 3
    ),
    tr AS (
      SELECT *,
             CASE WHEN COUNT(*) OVER w = 13
                   AND MAX(t) OVER w - MIN(t) OVER w = 12
                  THEN 2 * SUM(x) OVER w
                       - FIRST_VALUE(x) OVER w - LAST_VALUE(x) OVER w
             END AS t24
      FROM m
      WINDOW w AS (ORDER BY t ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING)
    ),
    det AS (
      SELECT *, 24 * x - t24 AS d24 FROM tr WHERE t24 IS NOT NULL
    ),
    seas AS (
      SELECT mo, CAST(SUM(d24) AS BIGINT) AS sum24,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM det GROUP BY mo
    )
"""


@query(
    "q_orders_decompose",
    oracle=f"""
    WITH {_O_DECOMP_CORE}
    SELECT printf('%04d-%02d', d.yr, d.mo) AS ym,
           d.x / 100.0 AS observed,
           d.t24 / 2400.0 AS trend,
           CAST(s.sum24 AS DOUBLE) / (2400 * s.cnt) AS seasonal,
           CAST(d.d24 * s.cnt - s.sum24 AS DOUBLE) / (2400 * s.cnt)
             AS remainder
    FROM det d JOIN seas s USING (mo) ORDER BY ym
    """,
)
def q_orders_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of the MONTHLY order
    revenue series — observed = trend + seasonal + remainder — the
    decomposition twin of q_orders_seasonal_index (which reports the
    calendar-month INDEX but no trend/remainder split) and the
    completion of the time-series family next to Holt smoothing,
    Mann-Kendall trend and CCF (r9 VERDICT task 7).  Trend is the
    textbook centered 2x12 moving average (half weight on the +-6
    endpoints); seasonal is the month-of-year mean of the detrended
    series; remainder is what's left.  Sibling granularity:
    q_orders_seasonal_decompose is the DAILY twin (7-day MA, day-of-week
    seasonal — the weekly cycle); this is the MONTHLY one (2x12 MA,
    month-of-year — the yearly cycle only the multi-year span exposes),
    the same documented pairing as q_agg_rfm / q_orders_rfm.

    All algebra rides exact BIGINT carriers: T24 = 24*trend via
    2*SUM(frame) - first - last over a 13-row window (contiguity is
    CHECKED, not assumed: count=13 AND max(t)-min(t)=12, so a month gap
    yields NULL trend rather than a silently shifted frame); detrended
    d24 = 24x - T24; seasonal numerator sum24 = SUM(d24) per month; and
    remainder numerator d24*cnt - sum24 — each reported value is ONE
    fixed-order division of exact integers, so both engines agree
    bitwise.  The identity x = T24/24 + sum24/(24c) + (d24c - sum24)/
    (24c) holds exactly in the rationals by construction.  Scale shape:
    one orders pass to the ~80-row month domain (the only data-sized
    shuffle); the window, the 12-row seasonal rollup and the join are
    all month-domain-bounded regardless of corpus size.  Head/tail
    months with an incomplete 13-month frame are excluded, as classical
    decomposition prescribes.  Reference: delegated HiveQL analytics
    class (backend/hive_manager.py:400)."""
    # every display is the RAW single division of exact integers (house
    # rule, r11 sf10 finding: round(single-division, 6) at the ~1e9
    # magnitudes sf10 reaches re-introduces the 1-ulp engine-round
    # divergence the rule exists to prevent; the raw divisions are
    # bit-identical by construction)
    return _decompose_df(spark, sf_dir).select(
        F.format_string("%04d-%02d", "yr", "mo").alias("ym"),
        (F.col("x") / 100.0).alias("observed"),
        (F.col("t24") / 2400.0).alias("trend"),
        (F.col("sum24").cast("double") / (2400 * F.col("cnt"))).alias(
            "seasonal"
        ),
        (
            (F.col("d24") * F.col("cnt") - F.col("sum24")).cast("double")
            / (2400 * F.col("cnt"))
        ).alias("remainder"),
    ).orderBy("ym")


def _decompose_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-carrier decomposition relation: one row per trend-defined
    month with (yr, mo, x cents, T24, d24, sum24, cnt) — see
    q_orders_decompose for the algebra."""
    o = t(spark, sf_dir, "orders").select("o_orderdate", "o_totalprice")
    m = o.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
        .cast("long")
        .alias("t"),
        F.year("o_orderdate").cast("long").alias("yr"),
        F.month("o_orderdate").cast("long").alias("mo"),
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long"))
        .cast("long")
        .alias("x")
    )
    w = Window.orderBy("t").rowsBetween(-6, 6)
    tr = m.withColumn(
        "t24",
        F.when(
            (F.count(F.lit(1)).over(w) == 13)
            & (F.max("t").over(w) - F.min("t").over(w) == 12),
            2 * F.sum("x").over(w)
            - F.first("x").over(w)
            - F.last("x").over(w),
        ),
    )
    det = (
        tr.filter(F.col("t24").isNotNull())
        .withColumn("d24", 24 * F.col("x") - F.col("t24"))
        # consumed by the seasonal rollup AND the final projection —
        # cut lineage so the month rollup + window run once
        .localCheckpoint(eager=False)
    )
    seas = det.groupBy("mo").agg(
        F.sum("d24").cast("long").alias("sum24"),
        F.count(F.lit(1)).cast("long").alias("cnt"),
    )
    return det.join(F.broadcast(seas), "mo")


STL_MAD_K = 3  # flag months beyond 3 robust sigmas (1.4826*MAD), the
#                standard residual-outlier rule


@query(
    "q_orders_anomaly_stl",
    oracle=f"""
    WITH {_O_DECOMP_CORE},
    rem AS (
      SELECT printf('%04d-%02d', d.yr, d.mo) AS ym,
             CAST(floor(CAST(d.d24 * s.cnt - s.sum24 AS DOUBLE)
                        / (2400 * s.cnt) * 1e9 + 0.5) AS BIGINT) AS r9
      FROM det d JOIN seas s USING (mo)
    ),
    med AS (SELECT quantile_disc(r9, 0.5) AS med9 FROM rem),
    dev AS (
      SELECT r.ym, r.r9, abs(r.r9 - m.med9) AS adev
      FROM rem r CROSS JOIN med m
    ),
    mad AS (SELECT quantile_disc(adev, 0.5) AS mad9 FROM dev)
    SELECT d.ym,
           floor(CAST(d.r9 AS DOUBLE) / 1e5 + 0.5) / 1e4 AS remainder,
           CASE WHEN a.mad9 = 0 THEN NULL
                ELSE floor(CAST(d.adev AS DOUBLE) / a.mad9 * 1e4 + 0.5)
                     / 1e4 END
             AS dev_mads,
           CASE WHEN a.mad9 = 0 THEN FALSE
                ELSE d.adev > {STL_MAD_K} * a.mad9 END AS is_anomaly
    FROM dev d CROSS JOIN mad a
    ORDER BY ym
    """,
)
def q_orders_anomaly_stl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual anomaly detection on the classical decomposition: a
    month is anomalous when its decomposition REMAINDER sits more than
    {STL_MAD_K} MADs from the median remainder — the STL-residual rule
    that finds months deviating from BOTH their trend and their
    seasonal norm (a raw-revenue threshold can't: December is always
    'anomalous' against a flat threshold; against trend+seasonal it is
    expected).  Composes q_orders_decompose (shared _decompose_df /
    _O_DECOMP_CORE) with the q_anomaly_mad robust-threshold idiom.

    Determinism: each remainder is pinned ONCE to a 1e9 carrier
    (identical double expression both engines); median and MAD are
    percentile_disc over those exact integers — discrete quantiles
    return actual data values, so no interpolation ambiguity exists
    anywhere.  Display values use the floor-pin idiom
    (floor(x·10⁴+0.5)/10⁴), NOT round(): a 1e9-pinned carrier shown at
    4 dp lands on exact .xxxx5 halfway doubles, where the engines'
    round() implementations disagree (bit-identical floor arithmetic
    does not — caught by the sf0.001 suite).  All months are emitted
    with their deviation in MADs and the flag (never an empty
    result).  Degenerate-MAD guard: when mad9 = 0 (half or more months
    share the median remainder) the division would be NULL in Spark's
    non-ANSI double arithmetic but inf in DuckDB — both engines
    explicitly emit NULL dev_mads and is_anomaly = false in that
    regime (no robust scale ⇒ no anomaly call).  Scale: the residual relation is
    month-domain-bounded, so the two quantile passes sort ~80 integers
    regardless of corpus size — the one corpus-scale stage remains the
    orders month rollup inside the shared core."""
    rem = _decompose_df(spark, sf_dir).select(
        F.format_string("%04d-%02d", "yr", "mo").alias("ym"),
        F.floor(
            (F.col("d24") * F.col("cnt") - F.col("sum24")).cast("double")
            / (2400 * F.col("cnt"))
            * 1e9
            + 0.5
        )
        .cast("long")
        .alias("r9"),
    )
    rem.createOrReplaceTempView("stl_rem")
    return spark.sql(
        f"""
        WITH med AS (
          SELECT percentile_disc(0.5) WITHIN GROUP (ORDER BY r9) AS med9
          FROM stl_rem
        ),
        dev AS (
          SELECT r.ym, r.r9, abs(r.r9 - m.med9) AS adev
          FROM stl_rem r CROSS JOIN med m
        ),
        mad AS (
          SELECT percentile_disc(0.5) WITHIN GROUP (ORDER BY adev) AS mad9
          FROM dev
        )
        SELECT d.ym,
               floor(CAST(d.r9 AS DOUBLE) / 1e5 + 0.5) / 1e4 AS remainder,
               CASE WHEN a.mad9 = 0 THEN NULL
                    ELSE floor(CAST(d.adev AS DOUBLE) / a.mad9 * 1e4
                               + 0.5) / 1e4 END
                 AS dev_mads,
               CASE WHEN a.mad9 = 0 THEN FALSE
                    ELSE d.adev > {STL_MAD_K} * a.mad9 END AS is_anomaly
        FROM dev d CROSS JOIN mad a
        ORDER BY ym
        """
    )


@query(
    "q_stats_jackknife_ratio",
    oracle="""
    WITH r AS (
      SELECT l_returnflag,
             CAST(floor(l_extendedprice * (1 - l_discount) * 1e6 + 0.5)
                  AS BIGINT) AS x,
             CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS y
      FROM lineitem
    ),
    tot AS (
      SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy
      FROM r GROUP BY 1
    ),
    u AS (
      SELECT r.l_returnflag, t.n, t.sx, t.sy,
             CAST(floor(CAST(t.sx * CAST(r.y AS HUGEINT)
                             - t.sy * CAST(r.x AS HUGEINT) AS DOUBLE)
                        / (CAST(t.sy AS DOUBLE) * (t.sy - r.y))
                        * 1e9 + 0.5) AS BIGINT) AS u9
      FROM r JOIN tot t USING (l_returnflag)
    ),
    s AS (
      SELECT l_returnflag, MAX(n) AS n, MAX(sx) AS sx, MAX(sy) AS sy,
             CAST(SUM(u9) AS BIGINT) AS su,
             SUM(CAST(u9 AS HUGEINT) * u9) AS suu
      FROM u GROUP BY 1
    )
    SELECT l_returnflag, n,
           floor(CAST(sx AS DOUBLE) / (CAST(sy AS DOUBLE) * 1e4)
                 * 1e6 + 0.5) / 1e6
             AS ratio_dollars_per_unit,
           floor(sqrt((CAST(n AS DOUBLE) - 1) / n
                      * (CAST(suu AS DOUBLE)
                         - CAST(su AS DOUBLE) * su / n)) / 1e13
                 * 1e6 + 0.5) / 1e6
             AS jackknife_se
    FROM s ORDER BY l_returnflag
    """,
)
def q_stats_jackknife_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out jackknife standard error of the RATIO estimator
    revenue/quantity per return flag — the delta-method-free SE for the
    statistic A/B that q_stats_bootstrap's single-mean resampling and
    q_stats_ratio_ci's binomial Wilson interval don't cover (a ratio of
    two correlated sums has no closed-form exact SE; the jackknife is
    the classical answer, Quenouille/Tukey, public).

    No resampling pass exists: the LOO identity
    θ_i − θ̂ = (Sx·y_i − Sy·x_i) / (Sy·(Sy − y_i)) makes every
    leave-one-out deviation computable PER ROW from the group totals —
    one aggregation for (n, Sx, Sy), a broadcast join back, and one
    aggregation of the pinned deviations; Σ(θ_i − θ̄_J)² = Σ(u_i − ū)²
    so centering at θ̂ also kills the catastrophic cancellation a raw
    Σθ_i² would hit.  Carriers: x = 1e6-scaled revenue, y = 100-scaled
    quantity (exact BIGINTs); the HUGEINT/DECIMAL(38) cross product
    Sx·y_i − Sy·x_i is exact; each deviation is pinned ONCE to the 1e9
    carrier by an identical double expression, so both engines sum the
    same integers; Σu9² rides DECIMAL(38) (safe past sf100).  The SE
    assembly is fixed-order double arithmetic at the end."""
    r = t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.floor(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * 1e6
            + 0.5
        )
        .cast("long")
        .alias("x"),
        F.floor(F.col("l_quantity") * 100 + 0.5).cast("long").alias("y"),
    )
    tot = r.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
    )
    u = r.join(F.broadcast(tot), "l_returnflag").select(
        "l_returnflag",
        "n",
        "sx",
        "sy",
        F.floor(
            (
                F.col("sx").cast("decimal(38,0)") * F.col("y")
                - F.col("sy").cast("decimal(38,0)") * F.col("x")
            ).cast("double")
            / (F.col("sy").cast("double") * (F.col("sy") - F.col("y")))
            * 1e9
            + 0.5
        )
        .cast("long")
        .alias("u9"),
    )
    s = u.groupBy("l_returnflag").agg(
        F.max("n").alias("n"),
        F.max("sx").alias("sx"),
        F.max("sy").alias("sy"),
        F.sum("u9").cast("long").alias("su"),
        F.sum(F.col("u9").cast("decimal(38,0)") * F.col("u9")).alias("suu"),
    )
    n_d = F.col("n").cast("double")
    return s.select(
        "l_returnflag",
        "n",
        (
            F.floor(
                F.col("sx").cast("double")
                / (F.col("sy").cast("double") * 1e4)
                * 1e6
                + 0.5
            )
            / 1e6
        ).alias("ratio_dollars_per_unit"),
        (
            F.floor(
                F.sqrt(
                    (n_d - 1)
                    / F.col("n")
                    * (
                        F.col("suu").cast("double")
                        - F.col("su").cast("double")
                        * F.col("su")
                        / F.col("n")
                    )
                )
                / 1e13
                * 1e6
                + 0.5
            )
            / 1e6
        ).alias("jackknife_se"),
    ).orderBy("l_returnflag")


CONF_ALPHA_PCT = 90  # nominal coverage of the conformal interval


@query(
    "q_stats_conformal",
    oracle=f"""
    WITH r AS (
      SELECT l_quantity AS xv, l_extendedprice AS yv,
             ('0x' || substr(md5(CAST(l_orderkey * 10 + l_linenumber
                                      AS VARCHAR)), 1, 8))
               ::UBIGINT::BIGINT % 100 AS h
      FROM lineitem
    ),
    fit AS (
      SELECT COUNT(*) AS n,
             SUM(CAST(floor(xv * 1e6 + 0.5) AS BIGINT)) AS sx,
             SUM(CAST(floor(yv * 1e6 + 0.5) AS BIGINT)) AS sy,
             SUM(CAST(floor(xv * yv * 100.0 + 0.5) AS BIGINT)) AS sxy,
             SUM(CAST(floor(xv * xv * 100.0 + 0.5) AS BIGINT)) AS sxx
      FROM r WHERE h < 60
    ),
    coef AS (
      SELECT n,
        (CAST(sxy AS DOUBLE) / 100.0 / n
         - (CAST(sx AS DOUBLE) / 1e6 / n) * (CAST(sy AS DOUBLE) / 1e6 / n))
        / (CAST(sxx AS DOUBLE) / 100.0 / n
           - (CAST(sx AS DOUBLE) / 1e6 / n) * (CAST(sx AS DOUBLE) / 1e6 / n))
          AS slope,
        CAST(sy AS DOUBLE) / 1e6 / n AS my,
        CAST(sx AS DOUBLE) / 1e6 / n AS mx
      FROM fit
    ),
    calib AS (
      SELECT CAST(floor(abs(r.yv - (c.my - c.slope * c.mx
                                    + c.slope * r.xv)) * 1e6 + 0.5)
                  AS BIGINT) AS ar6
      FROM r CROSS JOIN coef c WHERE r.h >= 60 AND r.h < 80
    ),
    q AS (
      SELECT ar6 AS q6, n_cal FROM (
        SELECT ar6,
               ROW_NUMBER() OVER (ORDER BY ar6) AS rk,
               CAST(COUNT(*) OVER () AS BIGINT) AS n_cal
        FROM calib
      ) WHERE rk = CAST(least(ceil((n_cal + 1) * {CONF_ALPHA_PCT} / 100.0),
                              CAST(n_cal AS DOUBLE)) AS BIGINT)
    ),
    test AS (
      SELECT CAST(floor(abs(r.yv - (c.my - c.slope * c.mx
                                    + c.slope * r.xv)) * 1e6 + 0.5)
                  AS BIGINT) AS ar6
      FROM r CROSS JOIN coef c WHERE r.h >= 80
    )
    SELECT (SELECT CAST(n AS BIGINT) FROM fit) AS n_train,
           (SELECT n_cal FROM q) AS n_calib,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           round((SELECT q6 FROM q) / 1e6, 4) AS halfwidth,
           CAST(SUM(CASE WHEN t.ar6 <= (SELECT q6 FROM q)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
           round(CAST(SUM(CASE WHEN t.ar6 <= (SELECT q6 FROM q)
                              THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS coverage
    FROM test t
    """,
)
def q_stats_conformal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction interval (Vovk; Lei et al., public)
    around the OLS fit extendedprice ~ quantity: train/calibration/test
    split by a deterministic md5 coin (the q_sample_bernoulli_hash
    idiom — reruns and engines select identical rows), the conformal
    quantile is the ⌈(n_cal+1)·{CONF_ALPHA_PCT}/100⌉-th smallest
    absolute calibration residual (the FINITE-SAMPLE-valid rank, not a
    plug-in percentile), and the test partition reports realized
    coverage — the distribution-free uncertainty wrapper modern ML
    pipelines put around any point model, here demonstrated on the
    exact-sums OLS of q_stats_regression.

    Determinism: the fit comes from exact carrier power sums (one
    fixed-order double assembly); every residual is pinned ONCE to a
    1e6 carrier so the rank selection orders exact integers (ties
    inherit integer order, identically in both engines); coverage is an
    integer ratio.  Scale: one pass for the sums, one for residuals;
    the ONLY sort is over the calibration partition — a FIXED 20%
    hash-slice, and at 100 TB you cap it with a tighter coin (the rank
    statistic needs only ~1/α points for stable intervals), never the
    corpus.

    Degenerate-calibration guard: the finite-sample rank
    ⌈(n_cal+1)·{CONF_ALPHA_PCT}/100⌉ exceeds n_cal whenever
    n_cal < {CONF_ALPHA_PCT}/(100-{CONF_ALPHA_PCT}) = 9 — statistically
    the interval is then infinite.  Both engines clamp the rank to
    n_cal (`least(ceil(...), n_cal)`), so the widest finite interval is
    reported and the row counts agree cross-engine even on tiny
    slices; the n_cal ≥ 9 precondition is documented here and holds at
    every shipped scale factor."""
    key = (F.col("l_orderkey") * 10 + F.col("l_linenumber")).cast("string")
    # spread() the one-row-group scan so the per-row md5 coin runs wide,
    # and lineage-cut: THREE consumers (fit / calib / test) otherwise
    # re-scan and re-hash the full table once each (guide §2.5 + §5
    # reuse; measured ~2.1 s → ~1.2 s at sf0.1×32)
    r = spread(
        t(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
        ),
        spark,
    ).select(
        F.col("l_quantity").alias("xv"),
        F.col("l_extendedprice").alias("yv"),
        (F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long") % 100)
        .alias("h"),
    ).localCheckpoint(eager=False)
    fit = r.filter(F.col("h") < 60).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.floor(F.col("xv") * 1e6 + 0.5).cast("long")).alias("sx"),
        F.sum(F.floor(F.col("yv") * 1e6 + 0.5).cast("long")).alias("sy"),
        F.sum(
            F.floor(F.col("xv") * F.col("yv") * 100.0 + 0.5).cast("long")
        ).alias("sxy"),
        F.sum(
            F.floor(F.col("xv") * F.col("xv") * 100.0 + 0.5).cast("long")
        ).alias("sxx"),
    )
    n_d = F.col("n").cast("double")
    mx = F.col("sx").cast("double") / 1e6 / F.col("n")
    my = F.col("sy").cast("double") / 1e6 / F.col("n")
    coef = fit.select(
        "n",
        (
            (F.col("sxy").cast("double") / 100.0 / F.col("n") - mx * my)
            / (F.col("sxx").cast("double") / 100.0 / F.col("n") - mx * mx)
        ).alias("slope"),
        my.alias("my"),
        mx.alias("mx"),
    )
    resid6 = F.floor(
        F.abs(
            F.col("yv")
            - (
                F.col("my")
                - F.col("slope") * F.col("mx")
                + F.col("slope") * F.col("xv")
            )
        )
        * 1e6
        + 0.5
    ).cast("long")
    calib = (
        r.filter((F.col("h") >= 60) & (F.col("h") < 80))
        .crossJoin(F.broadcast(coef))
        .select(resid6.alias("ar6"))
    )
    wq = Window.orderBy("ar6")
    q = (
        calib.select(
            "ar6",
            F.row_number().over(wq).alias("rk"),
            F.count(F.lit(1)).over(Window.partitionBy()).cast("long")
            .alias("n_cal"),
        )
        .filter(
            F.col("rk")
            == F.least(
                F.ceil((F.col("n_cal") + 1) * CONF_ALPHA_PCT / 100.0),
                F.col("n_cal").cast("double"),
            ).cast("long")
        )
        .select(F.col("ar6").alias("q6"), "n_cal")
    )
    test = (
        r.filter(F.col("h") >= 80)
        .crossJoin(F.broadcast(coef))
        .select(resid6.alias("ar6"), F.col("n").alias("n_train"))
    )
    return (
        test.crossJoin(F.broadcast(q))
        .agg(
            F.max("n_train").cast("long").alias("n_train"),
            F.max("n_cal").cast("long").alias("n_calib"),
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.round(F.max("q6") / 1e6, 4).alias("halfwidth"),
            F.sum(F.when(F.col("ar6") <= F.col("q6"), 1).otherwise(0))
            .cast("long")
            .alias("n_covered"),
            F.round(
                F.sum(
                    F.when(F.col("ar6") <= F.col("q6"), 1).otherwise(0)
                ).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("coverage"),
        )
    )


DID_SEGMENT = "BUILDING"     # treatment cohort (c_mktsegment)
DID_CUT = "1998-07-01"       # policy date (span midpoint)
DID_PLACEBO_CUT = "1996-10-01"  # fake cut INSIDE the pre-period


@query(
    "q_orders_did",
    oracle=f"""
    WITH j AS (
      SELECT CASE WHEN c.c_mktsegment = '{DID_SEGMENT}' THEN 1 ELSE 0 END
               AS treat,
             o.o_orderdate AS d,
             CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    cells AS (
      SELECT 'a_did' AS estimate, treat,
             CASE WHEN d >= DATE '{DID_CUT}' THEN 1 ELSE 0 END AS post,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cents) AS BIGINT) AS s
      FROM j GROUP BY 1, 2, 3
      UNION ALL
      SELECT 'b_placebo', treat,
             CASE WHEN d >= DATE '{DID_PLACEBO_CUT}' THEN 1 ELSE 0 END,
             CAST(COUNT(*) AS BIGINT), CAST(SUM(cents) AS BIGINT)
      FROM j WHERE d < DATE '{DID_CUT}' GROUP BY 1, 2, 3
    ),
    wide AS (
      SELECT estimate,
             MAX(CASE WHEN treat = 1 AND post = 0 THEN CAST(s AS DOUBLE) / n END) AS m_t_pre,
             MAX(CASE WHEN treat = 1 AND post = 1 THEN CAST(s AS DOUBLE) / n END) AS m_t_post,
             MAX(CASE WHEN treat = 0 AND post = 0 THEN CAST(s AS DOUBLE) / n END) AS m_c_pre,
             MAX(CASE WHEN treat = 0 AND post = 1 THEN CAST(s AS DOUBLE) / n END) AS m_c_post,
             CAST(SUM(n) AS BIGINT) AS n_orders
      FROM cells GROUP BY estimate
    )
    SELECT estimate, n_orders,
           floor(m_t_pre / 100.0 * 1e6 + 0.5) / 1e6 AS mean_treat_pre,
           floor(m_t_post / 100.0 * 1e6 + 0.5) / 1e6 AS mean_treat_post,
           floor(m_c_pre / 100.0 * 1e6 + 0.5) / 1e6 AS mean_ctrl_pre,
           floor(m_c_post / 100.0 * 1e6 + 0.5) / 1e6 AS mean_ctrl_post,
           floor(((m_t_post - m_t_pre) - (m_c_post - m_c_pre)) / 100.0
                 * 1e6 + 0.5) / 1e6
             AS did_effect
    FROM wide ORDER BY estimate
    """,
)
def q_orders_did(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences estimator — the first CAUSAL-inference
    operator in the suite: effect of a policy at {DID_CUT} on average
    order value for the '{DID_SEGMENT}' segment (treatment) vs all other
    segments (control), DiD = (T,post − T,pre) − (C,post − C,pre) —
    the parallel-trends design every pricing/rollout analysis runs,
    plus the standard PLACEBO row: the same estimator at a fake cut
    ({DID_PLACEBO_CUT}) entirely inside the pre-period, whose effect
    should be ≈0 if the parallel-trends assumption holds (the
    robustness check reviewers ask for first).

    One fact pass: orders ⋈ broadcast(customer-segment flag) → the
    2×2(×2 estimates) cell relation of exact integer cent sums and
    counts — the ONLY shuffle is the 8-cell aggregation; each cell mean
    is one fixed-order division and the DiD assembly is four doubles in
    a fixed expression, identical in both engines.  Scale: cells are
    estimate×treat×post bounded regardless of corpus size."""
    cust = t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.when(F.col("c_mktsegment") == DID_SEGMENT, 1)
        .otherwise(0)
        .alias("treat"),
    )
    j = (
        t(spark, sf_dir, "orders")
        .select("o_custkey", "o_orderdate", "o_totalprice")
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "treat",
            F.col("o_orderdate").alias("d"),
            F.floor(F.col("o_totalprice") * 100 + 0.5)
            .cast("long")
            .alias("cents"),
        )
    )
    cut = F.lit(DID_CUT).cast("date")
    pcut = F.lit(DID_PLACEBO_CUT).cast("date")

    def cells(df: DataFrame, name: str, cutoff) -> DataFrame:
        return (
            df.groupBy(
                F.lit(name).alias("estimate"),
                "treat",
                F.when(F.col("d") >= cutoff, 1).otherwise(0).alias("post"),
            )
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("cents").cast("long").alias("s"),
            )
        )

    allcells = cells(j, "a_did", cut).unionByName(
        cells(j.filter(F.col("d") < cut), "b_placebo", pcut)
    )

    def m(tr: int, po: int):
        return F.max(
            F.when(
                (F.col("treat") == tr) & (F.col("post") == po),
                F.col("s").cast("double") / F.col("n"),
            )
        )

    wide = allcells.groupBy("estimate").agg(
        m(1, 0).alias("m_t_pre"),
        m(1, 1).alias("m_t_post"),
        m(0, 0).alias("m_c_pre"),
        m(0, 1).alias("m_c_post"),
        F.sum("n").cast("long").alias("n_orders"),
    )
    def pin6(col) -> F.Column:
        # floor-pin (floor(x*1e6+0.5)/1e6), NOT round(): the house rule
        # after the sf1 sweep — round() on genuinely-computed doubles
        # diverges cross-engine at halfway/magnitude edges.
        return F.floor(col * 1e6 + 0.5) / 1e6

    return wide.select(
        "estimate",
        "n_orders",
        pin6(F.col("m_t_pre") / 100.0).alias("mean_treat_pre"),
        pin6(F.col("m_t_post") / 100.0).alias("mean_treat_post"),
        pin6(F.col("m_c_pre") / 100.0).alias("mean_ctrl_pre"),
        pin6(F.col("m_c_post") / 100.0).alias("mean_ctrl_post"),
        pin6(
            (
                (F.col("m_t_post") - F.col("m_t_pre"))
                - (F.col("m_c_post") - F.col("m_c_pre"))
            )
            / 100.0
        ).alias("did_effect"),
    ).orderBy("estimate")

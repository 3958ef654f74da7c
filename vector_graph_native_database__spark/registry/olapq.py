"""Relational OLAP queries over the TPC-H-ish tables (SURVEY §2.7 /
§7.4 extensions).

The reference has no relational analytics at all — SURVEY §2.7 lists
grouping sets, window functions, and multi-way join aggregation as
"absent; Spark has them built-in". These queries exercise exactly
those built-ins over the driver's star-schema tables so the engine's
general-OLAP surface is demonstrated (and value-checked) alongside
the retrieval operators:

- pricing summary: the classic scan → filter → groupBy aggregate
  (map-side combinable; one shuffle on a 2-value key).
- revenue rollup: GROUPING SETS via ``rollup`` — one pass, Spark
  expands the grouping sets JVM-side.
- top customers: 3-way join (customer ⨝ orders ⨝ lineitem) +
  aggregate + distributed top-k; Catalyst/AQE pick broadcast for the
  dimension side at runtime.
- running totals / per-user ranks: window functions with
  deterministic total order (ts, event_id).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources import load_table
from .common import stable_round6

SHIP_CUTOFF = "1998-09-01 00:00:00"

# Money sums reach 1e9 at sf0.1, where double summation-order noise
# (~1e-4 absolute) exceeds the 6-decimal rounding granularity — the
# Spark and DuckDB sums then round differently. Summing EXACTLY in
# decimal removes the order dependence: each row's double is cast to
# DECIMAL(30,10) (deterministic per row, identical in both engines),
# the decimal sum is exact, and the final round happens in decimal.
# Money sums round to CENTS (2dp), not 6dp: at 100 TB magnitudes
# (~1e11+) a 6dp step is BELOW the double ULP (~1.5e-5 at 1e11),
# so two engines converting the same exact decimal can land on
# adjacent doubles and a 6dp compare is meaningless; 2dp stays
# above the ULP until ~9e13. Found by the sf1 scaled gate.
_DEC = "decimal(30,10)"


def _dec_sum(col, alias: str):
    return F.round(F.sum(col.cast(_DEC)), 2).cast("double").alias(alias)


def q_olap_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit(SHIP_CUTOFF).cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 6).alias("sum_qty"),
            _dec_sum(F.col("l_extendedprice"), "sum_base_price"),
            _dec_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")),
                "sum_disc_price",
            ),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            stable_round6(
                F.sum(F.col("l_discount").cast(_DEC)).cast("double")
                / F.count("*")
            ).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def q_olap_revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            _dec_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")),
                "revenue",
            ),
            F.count("*").alias("n_lines"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("l_returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("l_linestatus"),
            "revenue",
            "n_lines",
        )
    )


def q_olap_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .groupBy("c_custkey", "c_name", "c_mktsegment")
        .agg(
            _dec_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")),
                "revenue",
            ),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(10)
    )


def q_olap_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 analog: revenue per nation from orders where the
    customer and the line's supplier share that nation, restricted to
    one region and one order-date year. Six-table star join — the
    canonical Catalyst join-ordering exercise: region/nation broadcast
    (5/25 rows), supplier/customer broadcast at any realistic dims
    ratio, and only the orders⋈lineitem fact join shuffles. Revenue
    sums in exact decimal (the _dec_sum convention) so both engines
    agree at any scale."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    y0 = F.lit("1996-01-01 00:00:00").cast("timestamp")
    y1 = F.lit("1997-01-01 00:00:00").cast("timestamp")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(
            supp,
            (li["l_suppkey"] == supp["s_suppkey"])
            & (cust["c_nationkey"] == supp["s_nationkey"]),
        )
        .join(nation, supp["s_nationkey"] == nation["n_nationkey"])
        .join(region, nation["n_regionkey"] == region["r_regionkey"])
        .filter(
            (F.col("r_name") == "ASIA")
            & (F.col("o_orderdate") >= y0)
            & (F.col("o_orderdate") < y1)
        )
        .groupBy("n_name")
        .agg(
            _dec_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")),
                "revenue",
            ),
            F.count("*").alias("n_lines"),
        )
    )


def q_events_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-table enrichment: the events fact joined to the
    customer dimension (broadcast — the dimension is always the small
    side) and rolled up per market segment. The batch expression of
    the stream-enrichment join a Structured Streaming deployment runs
    with the same broadcast hint; value sums in exact decimal."""
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")
    return (
        ev.join(
            F.broadcast(cust), ev["user_id"] == cust["c_custkey"]
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_events"),
            _dec_sum(F.col("value"), "sum_value"),
        )
    )


def q_events_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ev.filter(F.col("user_id") < 50)
        .select(
            "event_id",
            "user_id",
            F.round(F.sum("value").over(w), 6).alias("running_value"),
        )
    )


def q_events_rank_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        ev.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            "user_id",
            "rnk",
            "event_id",
            F.round("value", 6).alias("value"),
        )
    )


def q_events_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p90/p99 of value per event_type (sort-based exact
    percentile with linear interpolation — Spark's percentile() and
    DuckDB's quantile_cont agree bit-for-bit on identical inputs)."""
    ev = load_table(spark, sf_dir, "events")
    pct = ev.groupBy("event_type").agg(
        F.expr("percentile(value, array(0.5, 0.9, 0.99))").alias("p")
    )
    return pct.select(
        "event_type",
        stable_round6(F.col("p")[0]).alias("p50"),
        stable_round6(F.col("p")[1]).alias("p90"),
        stable_round6(F.col("p")[2]).alias("p99"),
    )


def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-stage funnel view→click→purchase per user: a user
    advances to a stage only if their earliest event of that type
    comes at-or-after their earliest event of the previous stage.
    One groupBy(user) with conditional min aggregates (map-side
    combinable — the classic single-shuffle funnel at any scale),
    then a one-row count aggregate."""
    ev = load_table(spark, sf_dir, "events")

    def first_ts(t: str):
        return F.min(F.when(F.col("event_type") == t, F.col("ts")))

    stage = ev.groupBy("user_id").agg(
        first_ts("view").alias("t_view"),
        first_ts("click").alias("t_click"),
        first_ts("purchase").alias("t_purchase"),
    )
    s1 = F.col("t_view").isNotNull()
    s2 = s1 & F.col("t_click").isNotNull() & (F.col("t_click") >= F.col("t_view"))
    s3 = s2 & F.col("t_purchase").isNotNull() & (
        F.col("t_purchase") >= F.col("t_click")
    )
    return stage.agg(
        F.count(F.when(s1, 1)).alias("users_view"),
        F.count(F.when(s2, 1)).alias("users_click_after_view"),
        F.count(F.when(s3, 1)).alias("users_purchase_after_click"),
    )


def q_events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users bucketed by first-active epoch
    week, counted per (cohort_week, week_offset). Week index =
    epoch-µs integer-division (identical arithmetic in both
    engines — no calendar/locale week rules). Two aggregates + one
    equi-join on user_id; all frames are |users|-sized after the
    first distinct, so the join is broadcast-eligible at any corpus
    scale."""
    ev = load_table(spark, sf_dir, "events")
    uw = ev.select(
        "user_id",
        F.expr("unix_micros(ts) div 604800000000").alias("wk"),
    ).distinct()
    cohort = uw.groupBy("user_id").agg(F.min("wk").alias("cohort_week"))
    return (
        uw.join(cohort, "user_id")
        .groupBy("cohort_week", (F.col("wk") - F.col("cohort_week")).alias("week_offset"))
        .agg(F.countDistinct("user_id").alias("users"))
    )


def q_events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type z-score outlier flags: events whose value deviates
    ≥3σ from their type's mean. One 5-row stats aggregate broadcast
    back over the scan — map-only flagging at any scale. (The ±3 cut
    is applied to a 6dp-rounded z so the boundary is engine-stable up
    to ~1e-13 aggregation-order noise in μ/σ.)"""
    ev = load_table(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sd")
    )
    z6 = stable_round6((F.col("value") - F.col("mu")) / F.col("sd"))
    return (
        ev.join(F.broadcast(stats), "event_type")
        .withColumn("z", z6)
        .filter(F.abs("z") >= 3)
        .select("event_id", "event_type", "z")
    )


def q_skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation over the hot-keyed events table
    (5 event types × 20k rows each at sf0.1 — the exact shape where a
    direct groupBy funnels each hot key through one reducer). Results
    are value-identical to the direct aggregate because the aggs are
    decomposable; sums run in exact decimal so the two-phase
    summation order can't drift from the oracle's single-pass sum."""
    from ..operators.skew import salted_agg

    ev = load_table(spark, sf_dir, "events").withColumn(
        "value_dec", F.col("value").cast(_DEC)
    )
    out = salted_agg(
        ev,
        "event_type",
        {
            "n": ("count", "event_id"),
            "sum_value": ("sum", "value_dec"),
            "min_value": ("min", "value"),
            "max_value": ("max", "value"),
        },
        salt_buckets=16,
    )
    return out.select(
        "event_type",
        "n",
        F.round("sum_value", 2).cast("double").alias("sum_value"),
        F.round("min_value", 6).alias("min_value"),
        F.round("max_value", 6).alias("max_value"),
    )


def q_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key-salted big-big join (lineitem ⋈ supplier on suppkey),
    aggregated per supplier so the value gate is sensitive to any
    duplicated or dropped join row. hot_row_threshold=600 lands in
    the middle of the per-suppkey row-count distribution (~541-663 at
    sf0.01), so BOTH code paths run: above-threshold keys are salted
    across 8 sub-keys with the supplier row replicated per salt,
    below-threshold keys take the plain salt-0 path. Result is
    row-identical to the unsalted join — the plain-SQL oracle IS the
    unsalted join. The salt spread itself is plan/pytest-asserted in
    tests/test_plans.py."""
    from ..operators.skew import salted_join_hot_keys

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("suppkey"),
        "l_quantity",
        F.col("l_extendedprice").cast(_DEC).alias("price_dec"),
    )
    sup = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("suppkey"), "s_name"
    )
    j = salted_join_hot_keys(
        li, sup, "suppkey", salt_buckets=8, hot_row_threshold=600
    )
    return j.groupBy("suppkey", "s_name").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.round(F.sum("l_quantity"), 6).alias("sum_qty"),
        F.round(F.sum("price_dec"), 2).cast("double").alias("sum_price"),
    )


def q_olap_cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All 2^2 grouping sets over (priority, order year) in one pass —
    Spark expands CUBE JVM-side; money sums in exact decimal."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.withColumn("o_year", F.year("o_orderdate").cast("string"))
        .cube("o_orderpriority", "o_year")
        .agg(
            _dec_sum(F.col("o_totalprice"), "total_price"),
            F.count("*").alias("n_orders"),
        )
        .select(
            F.coalesce("o_orderpriority", F.lit("ALL")).alias(
                "o_orderpriority"
            ),
            F.coalesce("o_year", F.lit("ALL")).alias("o_year"),
            "total_price",
            "n_orders",
        )
    )


def q_approx_distinct_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketch import kmv_distinct

    ev = load_table(spark, sf_dir, "events")
    return kmv_distinct(ev, "event_type", "user_id", k=64)


def q_approx_distinct_hll_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic md5-based HyperLogLog per event type PLUS an
    'ALL' row estimated from the element-wise-max UNION of the
    per-type registers — the sketch-mergeability contract (daily
    registers roll up to monthly by max, no rescan) value-checked
    end-to-end against a DuckDB replay of the same registers."""
    from ..operators.sketch import hll_distinct_union

    ev = load_table(spark, sf_dir, "events")
    return hll_distinct_union(ev, "event_type", "user_id", m=64)


def q_approx_percentile_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable approximate percentiles from a deterministic
    bottom-hash row sample (rate 1/8, keyed on event_id) next to the
    exact percentiles of the full data — reproducible across engines
    and partitionings, unlike percentile_approx's layout-dependent
    Greenwald-Khanna merge."""
    from ..operators.sketch import sampled_percentiles

    ev = load_table(spark, sf_dir, "events")
    return sampled_percentiles(
        ev, "event_type", "value", sample_key="event_id", rate=0.125
    )


QUERIES = {
    "olap_pricing_summary": q_olap_pricing_summary,
    "olap_revenue_rollup": q_olap_revenue_rollup,
    "olap_top_customers": q_olap_top_customers,
    "olap_cube_orders": q_olap_cube_orders,
    "olap_local_supplier_volume": q_olap_local_supplier_volume,
    "events_by_segment": q_events_by_segment,
    "skew_salted_agg": q_skew_salted_agg,
    "skew_salted_join": q_skew_salted_join,
    "approx_distinct_kmv": q_approx_distinct_kmv,
    "approx_distinct_hll_union": q_approx_distinct_hll_union,
    "approx_percentile_sample": q_approx_percentile_sample,
    "events_running_total": q_events_running_total,
    "events_rank_per_user": q_events_rank_per_user,
    "events_value_percentiles": q_events_value_percentiles,
    "events_funnel": q_events_funnel,
    "events_cohort_retention": q_events_cohort_retention,
    "events_anomaly_zscore": q_events_anomaly_zscore,
}

ORACLES = {
    "olap_pricing_summary": f"""
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 6) AS sum_qty,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(30,10))), 2)
            AS DOUBLE) AS sum_base_price,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(30,10))), 2) AS DOUBLE)
         AS sum_disc_price,
       round(avg(l_quantity), 6) AS avg_qty,
       floor(CAST(sum(CAST(l_discount AS DECIMAL(30,10))) AS DOUBLE)
             / count(*) * 1000000.0 + 0.5) / 1000000.0 AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '{SHIP_CUTOFF}'
GROUP BY l_returnflag, l_linestatus""",
    "olap_revenue_rollup": """
SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
       coalesce(l_linestatus, 'ALL') AS l_linestatus,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(30,10))), 2) AS DOUBLE) AS revenue,
       count(*) AS n_lines
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)""",
    "olap_top_customers": """
SELECT c_custkey, c_name, c_mktsegment,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(30,10))), 2) AS DOUBLE) AS revenue,
       count(DISTINCT o_orderkey) AS n_orders
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
GROUP BY c_custkey, c_name, c_mktsegment
ORDER BY revenue DESC, c_custkey ASC
LIMIT 10""",
    "olap_cube_orders": """
SELECT coalesce(o_orderpriority, 'ALL') AS o_orderpriority,
       coalesce(CAST(year(o_orderdate) AS VARCHAR), 'ALL') AS o_year,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,10))), 2) AS DOUBLE)
         AS total_price,
       count(*) AS n_orders
FROM orders
GROUP BY CUBE (o_orderpriority, year(o_orderdate))""",
    "skew_salted_agg": """
SELECT event_type, count(event_id) AS n,
       CAST(round(sum(CAST(value AS DECIMAL(30,10))), 2) AS DOUBLE)
         AS sum_value,
       round(min(value), 6) AS min_value,
       round(max(value), 6) AS max_value
FROM events GROUP BY event_type""",
    "approx_distinct_hll_union": """
WITH base AS (
  SELECT event_type AS grp, user_id AS v FROM events
  WHERE user_id IS NOT NULL
),
hashed AS (
  SELECT grp,
         ('0x' || substr(md5('hll' || CAST(v AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM base
),
ranked AS (
  SELECT grp, h % 64 AS reg, (h // 64) % 1125899906842624 AS r
  FROM hashed
),
rho AS (
  SELECT grp, reg,
         CASE WHEN r = 0 THEN 51
              ELSE 51 - length(ltrim(bin(r), '0')) END AS rho
  FROM ranked
),
regs AS (SELECT grp, reg, max(rho) AS mrho FROM rho GROUP BY grp, reg),
merged AS (SELECT reg, max(mrho) AS mrho FROM regs GROUP BY reg),
-- per-group and union estimates computed in SEPARATE aggregates and
-- joined to their own exact counts before the final UNION ALL, so a
-- real group named 'ALL' could never merge into the union row
-- (mirrors the operator's structure)
estg AS (
  SELECT grp,
         sum(power(2.0, -mrho)) + (64 - count(*)) AS s,
         64 - count(*) AS zeros
  FROM regs GROUP BY grp
),
estu AS (
  SELECT sum(power(2.0, -mrho)) + (64 - count(*)) AS s,
         64 - count(*) AS zeros
  FROM merged
),
exactg AS (
  SELECT grp, count(DISTINCT v) AS exact_distinct FROM base GROUP BY grp
),
exactu AS (SELECT count(DISTINCT v) AS exact_distinct FROM base),
fin AS (
  SELECT g.grp, g.zeros,
         (0.7213 / (1.0 + 1.079 / 64.0)) * 4096.0 / g.s AS raw,
         e.exact_distinct
  FROM estg g JOIN exactg e ON e.grp = g.grp
  UNION ALL
  SELECT 'ALL', u.zeros,
         (0.7213 / (1.0 + 1.079 / 64.0)) * 4096.0 / u.s,
         x.exact_distinct
  FROM estu u CROSS JOIN exactu x
)
SELECT f.grp AS event_type,
       floor((CASE WHEN f.raw <= 160.0 AND f.zeros > 0
                   THEN 64.0 * ln(64.0 / f.zeros)
                   ELSE f.raw END) * 1000000.0 + 0.5) / 1000000.0
         AS est_distinct,
       f.exact_distinct
FROM fin f""",
    "approx_percentile_sample": """
WITH u AS (
  SELECT event_type, value,
         ('0x' || substr(md5('ps' || CAST(event_id AS VARCHAR)), 1, 15))::BIGINT
           / 1152921504606846976.0 AS u
  FROM events
)
SELECT event_type,
       count(*) FILTER (WHERE u < 0.125) AS n_sample,
       floor(quantile_cont(value, 0.5) FILTER (WHERE u < 0.125)
             * 1000000.0 + 0.5) / 1000000.0 AS p50_est,
       floor(quantile_cont(value, 0.9) FILTER (WHERE u < 0.125)
             * 1000000.0 + 0.5) / 1000000.0 AS p90_est,
       floor(quantile_cont(value, 0.99) FILTER (WHERE u < 0.125)
             * 1000000.0 + 0.5) / 1000000.0 AS p99_est,
       floor(quantile_cont(value, 0.5) * 1000000.0 + 0.5) / 1000000.0
         AS p50_exact,
       floor(quantile_cont(value, 0.9) * 1000000.0 + 0.5) / 1000000.0
         AS p90_exact,
       floor(quantile_cont(value, 0.99) * 1000000.0 + 0.5) / 1000000.0
         AS p99_exact
FROM u GROUP BY event_type""",
    "skew_salted_join": """
SELECT l_suppkey AS suppkey, s_name, count(*) AS n_lines,
       round(sum(l_quantity), 6) AS sum_qty,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(30,10))), 2) AS DOUBLE)
         AS sum_price
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
GROUP BY l_suppkey, s_name""",
    "approx_distinct_kmv": """
WITH pairs AS (SELECT DISTINCT event_type, user_id FROM events),
hashed AS (
  SELECT event_type,
         ('0x' || substr(md5('kmv' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
           / 1152921504606846976.0 AS u
  FROM pairs
),
kept AS (
  SELECT event_type, u,
         row_number() OVER (PARTITION BY event_type ORDER BY u) AS rn
  FROM hashed
),
est AS (
  SELECT event_type, count(*) AS n_kept, max(u) AS u_k
  FROM kept WHERE rn <= 64 GROUP BY event_type
),
exact AS (SELECT event_type, count(*) AS exact_distinct FROM pairs
          GROUP BY event_type)
SELECT e.event_type,
       floor((CASE WHEN e.n_kept < 64 THEN CAST(e.n_kept AS DOUBLE)
                   ELSE 63.0 / e.u_k END) * 1000000.0 + 0.5) / 1000000.0
         AS est_distinct,
       x.exact_distinct
FROM est e JOIN exact x ON x.event_type = e.event_type""",
    "events_by_segment": """
SELECT c.c_mktsegment,
       count(*) AS n_events,
       CAST(round(sum(CAST(e.value AS DECIMAL(30,10))), 2) AS DOUBLE)
         AS sum_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment""",
    "olap_local_supplier_volume": """
SELECT n.n_name,
       CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                           AS DECIMAL(30,10))), 2) AS DOUBLE) AS revenue,
       count(*) AS n_lines
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
               AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n.n_name""",
    "events_anomaly_zscore": """
WITH s AS (
  SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sd
  FROM events GROUP BY event_type
)
SELECT e.event_id, e.event_type,
       floor(((e.value - s.mu) / s.sd) * 1000000.0 + 0.5) / 1000000.0 AS z
FROM events e JOIN s ON s.event_type = e.event_type
WHERE abs(floor(((e.value - s.mu) / s.sd) * 1000000.0 + 0.5) / 1000000.0) >= 3""",
    "events_funnel": """
WITH stage AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
         min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM events GROUP BY user_id
)
SELECT count(CASE WHEN t_view IS NOT NULL THEN 1 END) AS users_view,
       count(CASE WHEN t_view IS NOT NULL AND t_click IS NOT NULL
                       AND t_click >= t_view THEN 1 END)
         AS users_click_after_view,
       count(CASE WHEN t_view IS NOT NULL AND t_click IS NOT NULL
                       AND t_click >= t_view AND t_purchase IS NOT NULL
                       AND t_purchase >= t_click THEN 1 END)
         AS users_purchase_after_click
FROM stage""",
    "events_cohort_retention": """
WITH uw AS (
  SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS wk FROM events
),
cohort AS (SELECT user_id, min(wk) AS cohort_week FROM uw GROUP BY user_id)
SELECT c.cohort_week, u.wk - c.cohort_week AS week_offset,
       count(DISTINCT u.user_id) AS users
FROM uw u JOIN cohort c ON c.user_id = u.user_id
GROUP BY c.cohort_week, u.wk - c.cohort_week""",
    "events_value_percentiles": """
WITH pct AS (
  SELECT event_type, quantile_cont(value, [0.5, 0.9, 0.99]) AS p
  FROM events GROUP BY event_type
)
SELECT event_type,
       floor(p[1] * 1000000.0 + 0.5) / 1000000.0 AS p50,
       floor(p[2] * 1000000.0 + 0.5) / 1000000.0 AS p90,
       floor(p[3] * 1000000.0 + 0.5) / 1000000.0 AS p99
FROM pct""",
    "events_running_total": """
SELECT event_id, user_id,
       round(sum(value) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
         AS running_value
FROM events WHERE user_id < 50""",
    "events_rank_per_user": """
SELECT user_id, rnk, event_id, round(value, 6) AS value FROM (
  SELECT user_id, event_id, value,
         row_number() OVER (
           PARTITION BY user_id ORDER BY value DESC, event_id ASC) AS rnk
  FROM events
) WHERE rnk <= 3""",
}


def q_scd2_orders_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 merge of a deterministic updates batch into orders.

    The batch reopens every 10th order as status 'X' with a $1
    price correction, and replays every 15th order UNCHANGED — the
    no-op rows must be dropped (no phantom version) while the real
    changes produce a closed v1 + current v2 chain. See
    operators/cdc.py for the one-shuffle MERGE shape.
    """
    from ..operators.cdc import scd2_merge

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    updates = (
        orders.filter(F.col("o_orderkey") % 10 == 0)
        .select(
            "o_orderkey",
            F.lit("X").alias("o_orderstatus"),
            (F.col("o_totalprice") + F.lit(1.0)).alias("o_totalprice"),
        )
        .unionByName(
            orders.filter(
                (F.col("o_orderkey") % 15 == 0)
                & (F.col("o_orderkey") % 10 != 0)
            )
        )
    )
    merged = scd2_merge(
        orders,
        updates,
        key_cols=["o_orderkey"],
        tracked_cols=["o_orderstatus", "o_totalprice"],
    )
    return merged.select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        "valid_from",
        F.coalesce("valid_to", F.lit(0)).alias("valid_to"),
        "is_current",
    )


QUERIES["scd2_orders_merge"] = q_scd2_orders_merge

ORACLES["scd2_orders_merge"] = """
WITH base_v AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice, 1 AS valid_from
  FROM orders),
upd AS (
  SELECT o_orderkey, 'X' AS o_orderstatus,
         o_totalprice + 1.0 AS o_totalprice
  FROM orders WHERE o_orderkey % 10 = 0
  UNION ALL
  SELECT o_orderkey, o_orderstatus, o_totalprice
  FROM orders WHERE o_orderkey % 15 = 0 AND o_orderkey % 10 <> 0),
changed AS (
  SELECT u.o_orderkey, u.o_orderstatus, u.o_totalprice, 2 AS valid_from
  FROM upd u JOIN orders b USING (o_orderkey)
  WHERE NOT (u.o_orderstatus IS NOT DISTINCT FROM b.o_orderstatus
         AND u.o_totalprice IS NOT DISTINCT FROM b.o_totalprice)),
unioned AS (
  SELECT * FROM base_v UNION ALL SELECT * FROM changed),
chain AS (
  SELECT *, lead(valid_from) OVER (PARTITION BY o_orderkey
                                   ORDER BY valid_from) AS valid_to
  FROM unioned)
SELECT o_orderkey, o_orderstatus, o_totalprice, valid_from,
       COALESCE(valid_to, 0) AS valid_to,
       valid_to IS NULL AS is_current
FROM chain"""


MAD_SCALE = 4.4478  # 3 × 1.4826 (normal-consistency), one exact literal


def q_events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type outlier summary using median/MAD instead of
    mean/σ — the estimator of choice when the outliers themselves
    poison the moments (heavy-tailed telemetry at 100 TB). Exact
    distributed medians (Spark `median` = exact interpolated
    percentile, one sort-based aggregate per pass), the 5-row
    med/mad stats frame broadcast back over the scan, flagging is
    map-only. → (event_type, n, med, mad, n_outliers)."""
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(F.median("value").alias("med"))
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(F.median("adev").alias("mad"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            stable_round6(F.first("med")).alias("med"),
            stable_round6(F.first("mad")).alias("mad"),
            F.sum(
                (
                    F.col("adev") > F.lit(MAD_SCALE) * F.col("mad")
                ).cast("long")
            ).alias("n_outliers"),
        )
    )


QUERIES["events_mad_outliers"] = q_events_mad_outliers

ORACLES["events_mad_outliers"] = f"""
WITH med AS (
  SELECT event_type, median(value) AS med FROM events GROUP BY event_type),
dev AS (
  SELECT e.event_type, abs(e.value - m.med) AS adev, m.med
  FROM events e JOIN med m USING (event_type)),
mad AS (
  SELECT event_type, median(adev) AS mad FROM dev GROUP BY event_type)
SELECT d.event_type, count(*) AS n,
       floor(any_value(d.med) * 1000000.0 + 0.5) / 1000000.0 AS med,
       floor(any_value(a.mad) * 1000000.0 + 0.5) / 1000000.0 AS mad,
       CAST(sum(CASE WHEN d.adev > {MAD_SCALE} * a.mad THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers
FROM dev d JOIN mad a USING (event_type)
GROUP BY d.event_type"""


Q3_CUTOFF = "1995-03-15 00:00:00"
Q3_SEGMENT = "BUILDING"


def q_olap_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped shipping-priority report: revenue still
    unshipped at the cutoff for one market segment, top 10 orders.
    customer (filtered, broadcastable) ⨝ orders ⨝ lineitem, one
    aggregate on l_orderkey, then a TakeOrderedAndProject top-k —
    the canonical dim-filter → fact-join → topk funnel. Revenue sums
    in exact decimal (see _dec_sum) so the two-phase distributed sum
    cannot drift from the oracle's single-pass order."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == Q3_SEGMENT
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit(Q3_CUTOFF).cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit(Q3_CUTOFF).cast("timestamp")
    )
    return (
        li.join(
            orders.select("o_orderkey", "o_custkey", "o_orderdate"),
            li["l_orderkey"] == orders["o_orderkey"],
        )
        .join(
            F.broadcast(cust.select("c_custkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
        )
        .agg(
            _dec_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")),
                "revenue",
            )
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


QUERIES["olap_shipping_priority"] = q_olap_shipping_priority

ORACLES["olap_shipping_priority"] = f"""
SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(30,10))), 2) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
WHERE c_mktsegment = '{Q3_SEGMENT}'
  AND o_orderdate < TIMESTAMP '{Q3_CUTOFF}'
  AND l_shipdate > TIMESTAMP '{Q3_CUTOFF}'
GROUP BY l_orderkey, strftime(o_orderdate, '%Y-%m-%d')
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10"""


def q_events_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized robust mean per event type → (event_type, p05, p95,
    mean_raw, mean_wins): values clamped into [p05, p95] before
    averaging — the standard outlier-robust aggregate for telemetry
    at scale. One exact-percentile aggregate per type (tiny frame),
    broadcast back onto the stream, then one map-side-combinable avg;
    the 100 TB shape is scan + broadcast + single shuffle."""
    ev = load_table(spark, sf_dir, "events")
    pct = ev.groupBy("event_type").agg(
        F.expr("percentile(value, array(0.05, 0.95))").alias("p")
    )
    clamped = ev.join(F.broadcast(pct), "event_type").select(
        "event_type",
        "value",
        F.col("p")[0].alias("p05"),
        F.col("p")[1].alias("p95"),
        F.greatest(F.col("p")[0], F.least(F.col("p")[1], F.col("value"))).alias(
            "wv"
        ),
    )
    return clamped.groupBy("event_type").agg(
        stable_round6(F.first("p05")).alias("p05"),
        stable_round6(F.first("p95")).alias("p95"),
        stable_round6(F.avg("value")).alias("mean_raw"),
        stable_round6(F.avg("wv")).alias("mean_wins"),
    )


HIST_BINS = 10


def q_events_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of value per event type →
    (event_type, bin, cnt): min/max per type (tiny frame, broadcast
    back), bin = floor((v − min)/width) clamped to the last bin. The
    bin expression is the identical IEEE double arithmetic in both
    engines, so bucket boundaries cannot drift."""
    ev = load_table(spark, sf_dir, "events")
    mm = ev.groupBy("event_type").agg(
        F.min("value").alias("bmin"), F.max("value").alias("bmax")
    )
    w = (F.col("bmax") - F.col("bmin")) / F.lit(float(HIST_BINS))
    binned = ev.join(F.broadcast(mm), "event_type").select(
        "event_type",
        F.when(F.col("bmax") == F.col("bmin"), F.lit(0))
        .otherwise(
            F.least(
                F.lit(HIST_BINS - 1),
                F.floor((F.col("value") - F.col("bmin")) / w),
            )
        )
        .cast("long")
        .alias("bin"),
    )
    return binned.groupBy("event_type", "bin").agg(
        F.count("*").alias("cnt")
    )


QUERIES["events_winsorize"] = q_events_winsorize
QUERIES["events_histogram"] = q_events_histogram

ORACLES["events_winsorize"] = """
WITH pct AS (
  SELECT event_type, quantile_cont(value, [0.05, 0.95]) AS p
  FROM events GROUP BY event_type
),
clamped AS (
  SELECT e.event_type, e.value, p[1] AS p05, p[2] AS p95,
         greatest(p[1], least(p[2], e.value)) AS wv
  FROM events e JOIN pct ON pct.event_type = e.event_type
)
SELECT event_type,
       floor(any_value(p05) * 1000000.0 + 0.5) / 1000000.0 AS p05,
       floor(any_value(p95) * 1000000.0 + 0.5) / 1000000.0 AS p95,
       floor(avg(value) * 1000000.0 + 0.5) / 1000000.0 AS mean_raw,
       floor(avg(wv) * 1000000.0 + 0.5) / 1000000.0 AS mean_wins
FROM clamped GROUP BY event_type"""

ORACLES["events_histogram"] = f"""
WITH mm AS (
  SELECT event_type, min(value) AS bmin, max(value) AS bmax
  FROM events GROUP BY event_type
),
binned AS (
  SELECT e.event_type,
         CAST(CASE WHEN m.bmax = m.bmin THEN 0
              ELSE least({HIST_BINS - 1},
                         floor((e.value - m.bmin)
                               / ((m.bmax - m.bmin) / {float(HIST_BINS)})))
              END AS BIGINT) AS bin
  FROM events e JOIN mm m ON m.event_type = e.event_type
)
SELECT event_type, bin, count(*) AS cnt
FROM binned GROUP BY event_type, bin"""


RETURNED_TOPN = 20


def q_olap_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returned items per customer,
    enriched with the nation dimension → top RETURNED_TOPN.

    Scale shape: the l_returnflag = 'R' predicate is pushed to the
    lineitem scan (the big table is filtered BEFORE the join);
    customer and nation are broadcast; revenue sums exactly in
    DECIMAL(30,10) (order-independent — see _dec_sum) and the top-k
    compiles to TakeOrderedAndProject, never a global sort.
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.filter(F.col("l_returnflag") == "R")
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .join(
            F.broadcast(nation),
            cust["c_nationkey"] == nation["n_nationkey"],
        )
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            _dec_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")),
                "revenue",
            )
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(RETURNED_TOPN)
    )


QUERIES["olap_returned_items"] = q_olap_returned_items
ORACLES["olap_returned_items"] = f"""
SELECT c_custkey, c_name, n_name,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(30,10))), 2) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation ON n_nationkey = c_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT {RETURNED_TOPN}"""


LATE_DAYS = 60


def q_olap_priority_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: per order priority, how many orders have at
    least one LATE lineitem (shipped > LATE_DAYS after the order
    date) — the canonical EXISTS/semi-join aggregate.

    Scale shape: LEFT SEMI join on the order key (Spark never
    materializes the multiplicity of matching lineitems), then a
    5-row map-side-combinable count. The date arithmetic stays on
    the join output, not inside a correlated subquery per row.
    """
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    late = orders.join(
        li,
        (orders["o_orderkey"] == li["l_orderkey"])
        & (
            li["l_shipdate"]
            > orders["o_orderdate"] + F.expr(f"INTERVAL {LATE_DAYS} DAYS")
        ),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_late_orders")
    )


QUERIES["olap_priority_late"] = q_olap_priority_late
ORACLES["olap_priority_late"] = f"""
SELECT o_orderpriority, count(*) AS n_late_orders
FROM orders o
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_orderkey = o.o_orderkey
    AND l.l_shipdate > o.o_orderdate + INTERVAL {LATE_DAYS} DAY)
GROUP BY o_orderpriority"""


def q_hll_incremental_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of approx_distinct_hll_union: the events table
    replays as three disjoint micro-batches (event_id mod 3) through
    the real foreachBatch machinery, HLL registers max-merged into
    the transactional state store per batch; the final per-type and
    register-UNION 'ALL' estimates from the MAINTAINED registers must
    hash-equal the single-pass batch sketch's oracle. One dropped
    batch, stale snapshot, or double-merge changes a register max and
    fails the value check — the max-merge monoid law proven through
    the actual streaming path."""
    from ..operators.sketch import hll_estimate_from_registers
    from ..streaming.ingest import incremental_hll_maintenance
    from .common import replay_batches

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id"
    )
    regs = replay_batches(
        spark,
        "hll_incremental",
        [ev.filter(F.pmod("event_id", F.lit(3)) == i) for i in range(3)],
        "event_id long, event_type string, user_id long",
        incremental_hll_maintenance,
        group_col="event_type",
        value_col="user_id",
        m=64,
    )
    return hll_estimate_from_registers(
        regs, ev, "event_type", "user_id", m=64
    )


QUERIES["hll_incremental_equiv"] = q_hll_incremental_equiv
ORACLES["hll_incremental_equiv"] = ORACLES["approx_distinct_hll_union"]


def q_kmv_incremental_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-k twin of the CMS/HLL streaming-equivalence entries: events
    replay as three disjoint micro-batches through foreachBatch, the
    KMV state union-merged keeping the k smallest hashes per type;
    the final estimates from the MAINTAINED state must hash-equal the
    single-pass batch sketch's oracle."""
    from ..operators.sketch import kmv_estimate_from_state
    from ..streaming.ingest import incremental_kmv_maintenance
    from .common import replay_batches

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id"
    )
    state_df = replay_batches(
        spark,
        "kmv_incremental",
        [ev.filter(F.pmod("event_id", F.lit(3)) == i) for i in range(3)],
        "event_id long, event_type string, user_id long",
        incremental_kmv_maintenance,
        group_col="event_type",
        value_col="user_id",
        k=64,
    )
    return kmv_estimate_from_state(
        state_df, ev, "event_type", "user_id", k=64
    )


QUERIES["kmv_incremental_equiv"] = q_kmv_incremental_equiv
ORACLES["kmv_incremental_equiv"] = ORACLES["approx_distinct_kmv"]


# --- round-3 extension: pushdown / join-shape showcase queries -------

FORECAST_Q6 = dict(
    lo="1996-01-01 00:00:00",
    hi="1997-01-01 00:00:00",
    disc_lo=0.03,
    disc_hi=0.07,
    qty_lt=24.0,
)


def q_olap_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: revenue gained by dropping small-quantity
    discounts in a ship-date year — ``sum(extendedprice * discount)``
    under four conjunctive range predicates, one output row.

    Scale shape: THE predicate-pushdown benchmark. Every filter is a
    min/max-prunable range on a scan column, so at 100 TB the parquet
    reader skips whole row groups on l_shipdate/l_discount/l_quantity
    statistics before a single byte of l_extendedprice is decoded
    (``PushedFilters`` carries all four; ReadSchema is 4 columns of
    11). No join, no shuffle beyond the final 1-row partial-agg
    merge; the decimal cast keeps the money sum order-independent
    (see _dec_sum note)."""
    c = FORECAST_Q6
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit(c["lo"]).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(c["hi"]).cast("timestamp"))
            & (F.col("l_discount") >= c["disc_lo"])
            & (F.col("l_discount") <= c["disc_hi"])
            & (F.col("l_quantity") < c["qty_lt"])
        )
        .agg(
            _dec_sum(
                F.col("l_extendedprice") * F.col("l_discount"), "revenue"
            ),
            F.count("*").alias("n_lineitems"),
        )
    )


QUERIES["olap_forecast_revenue"] = q_olap_forecast_revenue
ORACLES["olap_forecast_revenue"] = f"""
SELECT CAST(round(sum(CAST(l_extendedprice * l_discount
                           AS DECIMAL(30,10))), 2) AS DOUBLE) AS revenue,
       count(*) AS n_lineitems
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '{FORECAST_Q6["lo"]}'
  AND l_shipdate <  TIMESTAMP '{FORECAST_Q6["hi"]}'
  AND l_discount BETWEEN {FORECAST_Q6["disc_lo"]} AND {FORECAST_Q6["disc_hi"]}
  AND l_quantity < {FORECAST_Q6["qty_lt"]}"""


PROMO_MONTH = ("1997-03-01 00:00:00", "1997-04-01 00:00:00")


def q_olap_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: percentage of one month's revenue that came
    from promotional parts — a fact⨝dimension join feeding a
    conditional aggregate, one output row.

    Scale shape: part is the dimension side (millions of rows at
    100 TB but ~1% of lineitem) — ``F.broadcast`` pins the hash join
    with zero shuffle of the fact table; the month filter prunes the
    lineitem scan before the join. The CASE lives in the aggregate,
    not a second scan: one pass computes both numerator and
    denominator as map-side-combinable decimal sums, and the final
    ratio divides the two exact decimals before rounding."""
    lo, hi = PROMO_MONTH
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(lo).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(hi).cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    j = li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
    agg = j.agg(
        F.sum(
            F.when(F.col("p_type").startswith("PROMO"), rev)
            .otherwise(F.lit(0.0))
            .cast(_DEC)
        ).alias("promo"),
        F.sum(rev.cast(_DEC)).alias("total"),
    )
    return agg.select(
        F.round(
            (F.lit(100.0).cast(_DEC) * F.col("promo") / F.col("total")).cast(
                "double"
            ),
            6,
        ).alias("promo_pct"),
        F.round(F.col("total"), 2).cast("double").alias("total_revenue"),
    )


QUERIES["olap_promo_revenue"] = q_olap_promo_revenue
ORACLES["olap_promo_revenue"] = f"""
WITH j AS (
  SELECT CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,10)) AS rev,
         p_type
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE l_shipdate >= TIMESTAMP '{PROMO_MONTH[0]}'
    AND l_shipdate <  TIMESTAMP '{PROMO_MONTH[1]}'
), a AS (
  SELECT sum(CASE WHEN p_type LIKE 'PROMO%' THEN rev
                  ELSE CAST(0 AS DECIMAL(30,10)) END) AS promo,
         sum(rev) AS total
  FROM j
)
SELECT round(CAST(CAST(100.0 AS DECIMAL(30,10)) * promo / total
             AS DOUBLE), 6) AS promo_pct,
       CAST(round(total, 2) AS DOUBLE) AS total_revenue
FROM a"""


LARGE_QTY = 150.0
LARGE_TOPN = 20


def q_olap_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: customers who placed the largest-volume
    orders — groupBy-HAVING over the fact table identifies the heavy
    orders, then joins orders + customer for the envelope, top-N by
    quantity.

    Scale shape: the HAVING aggregate runs FIRST and is map-side
    combinable, so the expensive join only ever sees the tiny
    qualifying-order set (a few rows per million at TPC-H selectivity
    — the filter does the data reduction before any wide row is
    built). Qualifying orders then broadcast against orders/customer;
    top-N compiles to TakeOrderedAndProject, never a global sort."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name"
    )
    heavy = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 6).alias("total_qty"))
        .filter(F.col("total_qty") > LARGE_QTY)
    )
    return (
        orders.join(
            F.broadcast(heavy), orders["o_orderkey"] == heavy["l_orderkey"]
        )
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.col("o_totalprice").alias("o_totalprice"),
            "total_qty",
        )
        .orderBy(F.desc("total_qty"), F.asc("o_orderkey"))
        .limit(LARGE_TOPN)
    )


QUERIES["olap_large_orders"] = q_olap_large_orders
ORACLES["olap_large_orders"] = f"""
WITH heavy AS (
  SELECT l_orderkey, round(sum(l_quantity), 6) AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING round(sum(l_quantity), 6) > {LARGE_QTY}
)
SELECT c_custkey, c_name, o_orderkey, o_totalprice, total_qty
FROM orders
JOIN heavy ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
ORDER BY total_qty DESC, o_orderkey ASC
LIMIT {LARGE_TOPN}"""


MARKET_REGION = "ASIA"
MARKET_NATION = "CHINA"


def q_olap_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of a region's order revenue
    per order-year → (o_year, mkt_share, total_revenue). The widest
    join in the registry: lineitem ⨝ orders ⨝ customer ⨝ nation ⨝
    region on the demand side plus lineitem ⨝ supplier ⨝ nation on
    the supply side — six dimension hops around one fact table.

    Scale shape: every dimension chain is pre-joined OUTWARD-IN
    (region→nation→customer collapses to a customer-key set before
    touching facts) and broadcast — the fact table shuffles ZERO
    times for dimension attachment; the only wide exchange is the
    final 2-row year aggregate. The share is a conditional decimal
    sum over one pass (no per-nation second scan)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")

    mkt_cust = (
        cust.join(
            F.broadcast(
                nation.join(
                    F.broadcast(
                        region.filter(F.col("r_name") == MARKET_REGION)
                    ),
                    nation["n_regionkey"] == region["r_regionkey"],
                )
            ),
            cust["c_nationkey"] == nation["n_nationkey"],
        )
        .select("c_custkey")
    )
    supp_nat = supp.join(
        F.broadcast(nation.select("n_nationkey", "n_name")),
        supp["s_nationkey"] == nation["n_nationkey"],
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))

    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    j = (
        # orders is the second fact: AQE picks the lineitem⨝orders
        # strategy (shuffle join at scale, broadcast at small sf)
        li.join(
            orders.select("o_orderkey", "o_custkey", "o_orderdate"),
            li["l_orderkey"] == F.col("o_orderkey"),
        )
        .join(F.broadcast(mkt_cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp_nat), li["l_suppkey"] == F.col("s_suppkey"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            rev.cast(_DEC).alias("rev"),
            F.col("supp_nation"),
        )
    )
    agg = j.groupBy("o_year").agg(
        F.sum(
            F.when(F.col("supp_nation") == MARKET_NATION, F.col("rev"))
            .otherwise(F.lit(0).cast(_DEC))
        ).alias("nat"),
        F.sum("rev").alias("total"),
    )
    return agg.select(
        "o_year",
        F.round((F.col("nat") / F.col("total")).cast("double"), 6).alias(
            "mkt_share"
        ),
        F.round(F.col("total"), 2).cast("double").alias("total_revenue"),
    )


QUERIES["olap_market_share"] = q_olap_market_share
ORACLES["olap_market_share"] = f"""
WITH j AS (
  SELECT year(o_orderdate) AS o_year,
         CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,10)) AS rev,
         sn.n_name AS supp_nation
  FROM lineitem
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation cn ON cn.n_nationkey = c_nationkey
  JOIN region   ON r_regionkey = cn.n_regionkey AND r_name = '{MARKET_REGION}'
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation sn ON sn.n_nationkey = s_nationkey
)
SELECT o_year,
       round(CAST(sum(CASE WHEN supp_nation = '{MARKET_NATION}' THEN rev
                           ELSE CAST(0 AS DECIMAL(30,10)) END)
                  / sum(rev) AS DOUBLE), 6) AS mkt_share,
       CAST(round(sum(rev), 2) AS DOUBLE) AS total_revenue
FROM j GROUP BY o_year"""


IDLE_CUTOFF = "2001-01-01 00:00:00"


def q_olap_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: per market segment, customers with
    above-average positive account balance and NO order since
    IDLE_CUTOFF → (c_mktsegment, n_custs, total_acctbal). Scalar-
    subquery average + NOT EXISTS anti-join — the churned
    high-value-accounts report.

    Scale shape: the global average is a 1-row broadcast (never a
    driver collect); the NOT EXISTS compiles to LEFT ANTI against
    the DISTINCT recent-order customer keys (the cutoff filter is
    pushed to the orders scan BEFORE the distinct, so the key set is
    recency-sized); final aggregate is segment-cardinality rows."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    has_orders = (
        orders.filter(
            F.col("o_orderdate") >= F.lit(IDLE_CUTOFF).cast("timestamp")
        )
        .select("o_custkey")
        .distinct()
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(
            has_orders,
            cust["c_custkey"] == has_orders["o_custkey"],
            "left_anti",
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_custs"),
            _dec_sum(F.col("c_acctbal"), "total_acctbal"),
        )
    )


QUERIES["olap_idle_customers"] = q_olap_idle_customers
ORACLES["olap_idle_customers"] = f"""
SELECT c_mktsegment, count(*) AS n_custs,
       CAST(round(sum(CAST(c_acctbal AS DECIMAL(30,10))), 2) AS DOUBLE)
         AS total_acctbal
FROM customer c
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer
                   WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '{IDLE_CUTOFF}')
GROUP BY c_mktsegment"""


def q_cdc_changelog_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog compaction end-to-end: a deterministic I/U/D log
    derived from orders (keys ≡0 mod 10 deleted; keys ≡1 updated
    TWICE — seq 1 doubles, seq 2 triples the price, so only the
    higher seq may win; keys ≡2 inserted as new 'N'-status rows)
    applied to the orders snapshot via ``changelog_apply``; the
    resulting snapshot is aggregated per status so the gate checks
    row counts AND summed payloads of the applied state.

    Scale shape: one union + one per-key row_number window = a
    single shuffle regardless of op mix (operators/cdc.py)."""
    from ..operators.cdc import changelog_apply

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    k = F.col("o_orderkey")
    dels = orders.filter(k % 10 == 0).select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.lit(1).cast("long").alias("seq"),
        F.lit("D").alias("op"),
    )
    upd1 = orders.filter(k % 10 == 1).select(
        "o_orderkey",
        "o_orderstatus",
        (F.col("o_totalprice") * 2).alias("o_totalprice"),
        F.lit(1).cast("long").alias("seq"),
        F.lit("U").alias("op"),
    )
    upd2 = orders.filter(k % 10 == 1).select(
        "o_orderkey",
        "o_orderstatus",
        (F.col("o_totalprice") * 3).alias("o_totalprice"),
        F.lit(2).cast("long").alias("seq"),
        F.lit("U").alias("op"),
    )
    ins = orders.filter(k % 10 == 2).select(
        (k + 10_000_000).alias("o_orderkey"),
        F.lit("N").alias("o_orderstatus"),
        "o_totalprice",
        F.lit(1).cast("long").alias("seq"),
        F.lit("I").alias("op"),
    )
    log = dels.unionByName(upd1).unionByName(upd2).unionByName(ins)
    snap = changelog_apply(orders, log, ["o_orderkey"])
    return snap.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_rows"),
        _dec_sum(F.col("o_totalprice"), "total_price"),
    )


QUERIES["cdc_changelog_apply"] = q_cdc_changelog_apply
ORACLES["cdc_changelog_apply"] = """
WITH snap AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderkey % 10 = 1 THEN o_totalprice * 3
              ELSE o_totalprice END AS o_totalprice
  FROM orders WHERE o_orderkey % 10 <> 0
  UNION ALL
  SELECT o_orderkey + 10000000, 'N', o_totalprice
  FROM orders WHERE o_orderkey % 10 = 2
)
SELECT o_orderstatus, count(*) AS n_rows,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,10))), 2) AS DOUBLE)
         AS total_price
FROM snap GROUP BY o_orderstatus"""


def q_olap_monthend_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-additive measure rollup → (month, n_customers,
    total_balance): each customer's running order total (cumulative
    o_totalprice in (o_orderdate, o_orderkey) order) is sampled at
    each month end, carried forward through inactive months on a
    per-customer month spine, then summed ACROSS customers per month
    — sum-over-customers of last-in-month, the defining semi-additive
    aggregation (balances add across accounts, never across time).

    Scale shape: composition of already-audited shapes — one
    window cumsum on the customer partitioning, the span-bounded
    month spine + last(ignorenulls) fill from events_gapfill, and a
    month-cardinality final aggregate. Cross-customer sums run in
    DECIMAL over the 6dp-rounded balances so summation order cannot
    shift the cents."""
    from pyspark.sql.window import Window

    from .common import stable_round6

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate", "o_totalprice"
    )
    wc = Window.partitionBy("o_custkey").orderBy(
        "o_orderdate", "o_orderkey"
    ).rowsBetween(Window.unboundedPreceding, 0)
    bal = orders.select(
        "o_custkey",
        F.date_trunc("month", "o_orderdate").alias("month"),
        "o_orderdate",
        "o_orderkey",
        F.sum("o_totalprice").over(wc).alias("bal"),
    )
    wm = Window.partitionBy("o_custkey", "month").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    month_end = (
        bal.withColumn("rn", F.row_number().over(wm))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "month", stable_round6(F.col("bal")).alias("bal"))
    )
    spans = month_end.groupBy("o_custkey").agg(
        F.min("month").alias("m0"), F.max("month").alias("m1")
    )
    spine = spans.select(
        "o_custkey",
        F.explode(
            F.sequence("m0", "m1", F.expr("interval 1 month"))
        ).alias("month"),
    )
    wf = (
        Window.partitionBy("o_custkey")
        .orderBy("month")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = spine.join(month_end, ["o_custkey", "month"], "left_outer").select(
        "o_custkey",
        F.date_format("month", "yyyy-MM").alias("month"),
        F.last("bal", ignorenulls=True).over(wf).alias("bal"),
    )
    return filled.groupBy("month").agg(
        F.count("*").alias("n_customers"),
        _dec_sum(F.col("bal"), "total_balance"),
    )


QUERIES["olap_monthend_balance"] = q_olap_monthend_balance
ORACLES["olap_monthend_balance"] = """
WITH bal AS (
  SELECT o_custkey, date_trunc('month', o_orderdate) AS month,
         o_orderdate, o_orderkey,
         sum(o_totalprice) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bal
  FROM orders
), month_end AS (
  SELECT o_custkey, month,
         floor(bal * 1000000.0 + 0.5) / 1000000.0 AS bal
  FROM (SELECT *, row_number() OVER (
          PARTITION BY o_custkey, month
          ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM bal)
  WHERE rn = 1
), spans AS (
  SELECT o_custkey, min(month) AS m0, max(month) AS m1
  FROM month_end GROUP BY o_custkey
), spine AS (
  SELECT o_custkey,
         unnest(generate_series(m0, m1, INTERVAL 1 MONTH)) AS month
  FROM spans
), filled AS (
  SELECT sp.o_custkey, strftime(sp.month, '%Y-%m') AS month,
         last_value(me.bal IGNORE NULLS) OVER (
           PARTITION BY sp.o_custkey ORDER BY sp.month
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bal
  FROM spine sp
  LEFT JOIN month_end me
    ON me.o_custkey = sp.o_custkey AND me.month = sp.month
)
SELECT month, count(*) AS n_customers,
       CAST(round(sum(CAST(bal AS DECIMAL(30,10))), 2) AS DOUBLE)
         AS total_balance
FROM filled GROUP BY month"""


def q_olap_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue growth per nation → (n_name, o_year,
    revenue, yoy_pct): the standard BI comparison — revenue at the
    (nation, year) grain, each row joined to its prior year via a
    lag window, growth as a percentage (NULL for a nation's first
    year).

    Scale shape: the grain aggregate does all the data reduction
    (nation×year rows) before any window runs; the lag partitions by
    nation over a few rows each — the window cost is the aggregate's
    output, never the fact table. Revenue sums in DECIMAL; the
    growth ratio divides the two exact decimals before rounding."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    grain = (
        li.join(
            orders.select("o_orderkey", "o_custkey", "o_orderdate"),
            li["l_orderkey"] == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(
                cust.select("c_custkey", "c_nationkey").join(
                    F.broadcast(nation.select("n_nationkey", "n_name")),
                    F.col("c_nationkey") == F.col("n_nationkey"),
                )
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("n_name", F.year("o_orderdate").alias("o_year"))
        .agg(F.sum(rev.cast(_DEC)).alias("rev"))
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("n_name").orderBy("o_year")
    prev = F.lag("rev").over(w)
    return grain.select(
        "n_name",
        "o_year",
        F.round(F.col("rev"), 2).cast("double").alias("revenue"),
        F.round(
            ((F.col("rev") - prev) * F.lit(100).cast(_DEC) / prev).cast(
                "double"
            ),
            6,
        ).alias("yoy_pct"),
    )


QUERIES["olap_yoy_growth"] = q_olap_yoy_growth
ORACLES["olap_yoy_growth"] = """
WITH grain AS (
  SELECT n_name, year(o_orderdate) AS o_year,
         sum(CAST(l_extendedprice * (1 - l_discount)
                  AS DECIMAL(30,10))) AS rev
  FROM lineitem
  JOIN orders ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation ON n_nationkey = c_nationkey
  GROUP BY n_name, year(o_orderdate)
)
SELECT n_name, o_year,
       CAST(round(rev, 2) AS DOUBLE) AS revenue,
       round(CAST((rev - lag(rev) OVER w) * CAST(100 AS DECIMAL(30,10))
                  / lag(rev) OVER w AS DOUBLE), 6) AS yoy_pct
FROM grain
WINDOW w AS (PARTITION BY n_name ORDER BY o_year)"""


def q_olap_rolling_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day order revenue → (day, revenue, rolling_7d):
    daily DECIMAL revenue plus a RANGE-framed window sum over the
    trailing week — the time-RANGE frame (vs the ROWS frames used
    elsewhere): days missing from the data contribute nothing and
    the frame is defined by VALUE distance, so gaps are handled
    without a spine.

    Scale shape: the daily aggregate reduces the fact table to
    |days| rows before the window; the RANGE frame runs over that
    tiny frame on epoch-day ordering. Output sums are 2dp decimals
    (the 6dp-vs-ULP note at the top of this module)."""
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders")
    daily = (
        orders.groupBy(
            F.date_trunc("day", "o_orderdate").alias("day")
        )
        .agg(F.sum(F.col("o_totalprice").cast(_DEC)).alias("rev"))
        .select(
            "day",
            (F.unix_timestamp("day") / F.lit(86400)).cast("long").alias(
                "epoch_day"
            ),
            "rev",
        )
    )
    w = (
        Window.orderBy("epoch_day")
        .rangeBetween(-6, 0)
    )
    return daily.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.round("rev", 2).cast("double").alias("revenue"),
        F.round(F.sum("rev").over(w), 2).cast("double").alias("rolling_7d"),
    )


QUERIES["olap_rolling_revenue"] = q_olap_rolling_revenue
ORACLES["olap_rolling_revenue"] = """
WITH daily AS (
  SELECT date_trunc('day', o_orderdate) AS day,
         CAST(epoch(date_trunc('day', o_orderdate)) // 86400 AS BIGINT)
           AS epoch_day,
         sum(CAST(o_totalprice AS DECIMAL(30,10))) AS rev
  FROM orders GROUP BY 1, 2
)
SELECT strftime(day, '%Y-%m-%d') AS day,
       CAST(round(rev, 2) AS DOUBLE) AS revenue,
       CAST(round(sum(rev) OVER (
         ORDER BY epoch_day RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
       ), 2) AS DOUBLE) AS rolling_7d
FROM daily"""


HLL_TILE_SEC = 6 * 3600  # 6-hour tiles; sliding window = 2 tiles


def q_hll_window_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-tile windowing → (win, est_distinct, exact_distinct):
    per-6-hour HLL register tiles over user_id, max-merged into every
    12-hour sliding window (stride 6 h) WITHOUT rescanning events —
    the 'OLAP cube of sketches' pattern that makes distinct-count
    dashboards tractable at 100 TB: tiles are computed once at ingest
    grain and ANY window is a register merge. The 'ALL' row merges
    every tile (whole-stream distinct from the same state). Exact
    distinct counts ride along to expose the realized error, and the
    register merge itself is what the value gate checks — a tile
    boundary bug or a double merge shifts registers and fails.

    Scale shape: one scan builds the tile registers (map-side max
    per (tile, reg)); windowing explodes REGISTERS (≤ m rows/tile),
    never events."""
    from ..operators.sketch import (
        hll_estimate_from_registers,
        hll_registers,
    )

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    tile = (
        F.floor(
            F.unix_micros("ts") / F.lit(1_000_000) / F.lit(HLL_TILE_SEC)
        )
    ).cast("long")
    evt = ev.select(tile.alias("tile"), "user_id")
    regs = hll_registers(evt, "tile", "user_id", m=64, salt="hllw")
    win_regs = (
        regs.select(
            F.explode(
                F.array(
                    F.col("grp").cast("long"),
                    F.col("grp").cast("long") - 1,
                )
            ).alias("win"),
            "reg",
            "mrho",
        )
        .groupBy("win", "reg")
        .agg(F.max("mrho").alias("mrho"))
        .select(F.col("win").cast("string").alias("grp"), "reg", "mrho")
    )
    ev_windows = evt.select(
        F.explode(
            F.array(F.col("tile"), F.col("tile") - 1)
        ).alias("win"),
        "user_id",
    ).select(F.col("win").cast("string").alias("win"), "user_id")
    return hll_estimate_from_registers(
        win_regs, ev_windows, "win", "user_id", m=64
    )


QUERIES["hll_window_tiles"] = q_hll_window_tiles
ORACLES["hll_window_tiles"] = f"""
WITH evt AS (
  SELECT CAST(floor(epoch(ts) / {HLL_TILE_SEC}) AS BIGINT) AS tile,
         user_id AS v
  FROM events WHERE user_id IS NOT NULL
),
hashed AS (
  SELECT tile,
         ('0x' || substr(md5('hllw' || CAST(v AS VARCHAR)), 1, 15))::BIGINT
           AS h
  FROM evt
),
rho AS (
  SELECT tile, h % 64 AS reg,
         CASE WHEN (h // 64) % 1125899906842624 = 0 THEN 51
              ELSE 51 - length(ltrim(bin((h // 64) % 1125899906842624),
                                     '0')) END AS rho
  FROM hashed
),
tregs AS (SELECT tile, reg, max(rho) AS mrho FROM rho GROUP BY tile, reg),
wregs AS (
  SELECT w.win, reg, max(mrho) AS mrho
  FROM tregs t CROSS JOIN LATERAL (
    SELECT unnest([t.tile, t.tile - 1]) AS win) w
  GROUP BY w.win, reg
),
merged AS (SELECT reg, max(mrho) AS mrho FROM wregs GROUP BY reg),
evw AS (
  SELECT w.win, e.v FROM evt e CROSS JOIN LATERAL (
    SELECT unnest([e.tile, e.tile - 1]) AS win) w
),
estg AS (
  SELECT win, sum(power(2.0, -mrho)) + (64 - count(*)) AS s,
         64 - count(*) AS zeros
  FROM wregs GROUP BY win
),
estu AS (
  SELECT sum(power(2.0, -mrho)) + (64 - count(*)) AS s,
         64 - count(*) AS zeros
  FROM merged
),
exactg AS (SELECT win, count(DISTINCT v) AS exact_distinct
           FROM evw GROUP BY win),
exactu AS (SELECT count(DISTINCT v) AS exact_distinct FROM evw),
fin AS (
  SELECT CAST(g.win AS VARCHAR) AS win, g.zeros,
         (0.7213 / (1.0 + 1.079 / 64.0)) * 4096.0 / g.s AS raw,
         e.exact_distinct
  FROM estg g JOIN exactg e ON e.win = g.win
  UNION ALL
  SELECT 'ALL', u.zeros,
         (0.7213 / (1.0 + 1.079 / 64.0)) * 4096.0 / u.s,
         x.exact_distinct
  FROM estu u CROSS JOIN exactu x
)
SELECT win,
       floor((CASE WHEN raw <= 160.0 AND zeros > 0
                   THEN 64.0 * ln(64.0 / zeros)
                   ELSE raw END) * 1000000.0 + 0.5) / 1000000.0
         AS est_distinct,
       exact_distinct
FROM fin"""


def q_ivm_aggregate_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance proven against recompute → per
    status: (o_orderstatus, n_rows, total_price): the per-status
    count+revenue view is DELTA-maintained under the compacted I/U/D
    changelog (same rules as cdc_changelog_apply with the update
    chain pre-compacted to its winner: ≡0 mod 10 deleted, ≡1 price
    ×3, ≡2 inserted as 'N') — and the oracle RECOMPUTES the view on
    the applied snapshot, so the gate proves delta-maintenance ≡
    recompute, the IVM correctness contract. The base table is
    touched only via an affected-key semi-join; the delta frame is
    changelog-sized (operators/cdc.ivm_aggregate_delta)."""
    from ..operators.cdc import ivm_aggregate_delta

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    k = F.col("o_orderkey")
    log = (
        orders.filter(k % 10 == 0)
        .select(
            "o_orderkey", "o_orderstatus", "o_totalprice",
            F.lit("D").alias("op"),
        )
        .unionByName(
            orders.filter(k % 10 == 1).select(
                "o_orderkey",
                "o_orderstatus",
                (F.col("o_totalprice") * 3).alias("o_totalprice"),
                F.lit("U").alias("op"),
            )
        )
        .unionByName(
            orders.filter(k % 10 == 2).select(
                (k + 10_000_000).alias("o_orderkey"),
                F.lit("N").alias("o_orderstatus"),
                "o_totalprice",
                F.lit("I").alias("op"),
            )
        )
    )
    view = ivm_aggregate_delta(
        orders, log, ["o_orderkey"], "o_orderstatus", "o_totalprice"
    )
    return view.select(
        "o_orderstatus",
        F.col("n").cast("long").alias("n_rows"),
        F.round(F.col("tv"), 2).cast("double").alias("total_price"),
    )


QUERIES["ivm_aggregate_maintenance"] = q_ivm_aggregate_maintenance
# the recompute-on-applied-snapshot oracle — identical to the
# changelog_apply one by design: that equality IS the IVM contract
ORACLES["ivm_aggregate_maintenance"] = ORACLES["cdc_changelog_apply"]


def q_olap_ratio_to_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report → (n_name, revenue, pct_of_total): each
    nation's share of total revenue via a PARTITION-LESS window sum
    over the grain aggregate — the report-percent window feature
    (vs market_share's two-level conditional aggregate).

    Scale shape: the nation grain does all the reduction; the
    unpartitioned window runs over |nations| rows — a single-task
    window is only safe BECAUSE the frame is dimension-sized, which
    is the documented contract for ratio-to-report at any scale
    (never run an unpartitioned window over a fact table)."""
    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    grain = (
        li.join(
            orders.select("o_orderkey", "o_custkey"),
            li["l_orderkey"] == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(
                cust.select("c_custkey", "c_nationkey").join(
                    F.broadcast(nation.select("n_nationkey", "n_name")),
                    F.col("c_nationkey") == F.col("n_nationkey"),
                )
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("n_name")
        .agg(F.sum(rev.cast(_DEC)).alias("rev"))
    )
    total = F.sum("rev").over(Window.partitionBy())
    return grain.select(
        "n_name",
        F.round("rev", 2).cast("double").alias("revenue"),
        F.round(
            (F.col("rev") * F.lit(100).cast(_DEC) / total).cast("double"),
            6,
        ).alias("pct_of_total"),
    )


QUERIES["olap_ratio_to_report"] = q_olap_ratio_to_report
ORACLES["olap_ratio_to_report"] = """
WITH grain AS (
  SELECT n_name,
         sum(CAST(l_extendedprice * (1 - l_discount)
                  AS DECIMAL(30,10))) AS rev
  FROM lineitem
  JOIN orders ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation ON n_nationkey = c_nationkey
  GROUP BY n_name
)
SELECT n_name, CAST(round(rev, 2) AS DOUBLE) AS revenue,
       round(CAST(rev * CAST(100 AS DECIMAL(30,10))
                  / sum(rev) OVER () AS DOUBLE), 6) AS pct_of_total
FROM grain"""


TRADE_NATION_A = "NATION_1"
TRADE_NATION_B = "NATION_2"
TRADE_FROM = "1996-01-01 00:00:00"
TRADE_TO = "1997-12-31 00:00:00"


def q_olap_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: shipping volume between two trading nations →
    (supp_nation, cust_nation, l_year, revenue) for both directions
    of the A↔B pair over a two-year ship window.

    Scale shape: both nation-pair filters reduce supplier/customer to
    2/25ths BEFORE the facts join, and ship-window predicates push to
    the lineitem scan; the dims are broadcast (≤ nation cardinality),
    so the only shuffle is lineitem⨝orders on the order key — AQE
    picks broadcast when orders' filtered side fits. The final
    aggregate is 2 nations × 2 years of rows."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")

    two = nation.filter(
        F.col("n_name").isin(TRADE_NATION_A, TRADE_NATION_B)
    ).select("n_nationkey", "n_name")
    sn = supp.join(
        F.broadcast(two), supp["s_nationkey"] == two["n_nationkey"]
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    cn = cust.join(
        F.broadcast(two), cust["c_nationkey"] == two["n_nationkey"]
    ).select("c_custkey", F.col("n_name").alias("cust_nation"))

    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    j = (
        li.filter(
            (F.col("l_shipdate") >= F.lit(TRADE_FROM).cast("timestamp"))
            & (F.col("l_shipdate") <= F.lit(TRADE_TO).cast("timestamp"))
        )
        .join(F.broadcast(sn), li["l_suppkey"] == F.col("s_suppkey"))
        .join(
            orders.select("o_orderkey", "o_custkey"),
            li["l_orderkey"] == F.col("o_orderkey"),
        )
        .join(F.broadcast(cn), F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    return (
        j.groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(_dec_sum(rev, "revenue"))
    )


QUERIES["olap_nation_trade_volume"] = q_olap_nation_trade_volume
ORACLES["olap_nation_trade_volume"] = f"""
WITH sn AS (
  SELECT s_suppkey, n_name AS supp_nation FROM supplier
  JOIN nation ON n_nationkey = s_nationkey
  WHERE n_name IN ('{TRADE_NATION_A}', '{TRADE_NATION_B}')
), cn AS (
  SELECT c_custkey, n_name AS cust_nation FROM customer
  JOIN nation ON n_nationkey = c_nationkey
  WHERE n_name IN ('{TRADE_NATION_A}', '{TRADE_NATION_B}')
)
SELECT supp_nation, cust_nation,
       year(l_shipdate) AS l_year,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(30,10))), 2) AS DOUBLE) AS revenue
FROM lineitem
JOIN sn ON s_suppkey = l_suppkey
JOIN orders ON o_orderkey = l_orderkey
JOIN cn ON c_custkey = o_custkey
WHERE l_shipdate BETWEEN TIMESTAMP '{TRADE_FROM}'
                     AND TIMESTAMP '{TRADE_TO}'
  AND supp_nation <> cust_nation
GROUP BY 1, 2, 3"""


def q_olap_customer_order_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of customers by order count →
    (c_count, custdist): LEFT join so zero-order customers land in
    the c_count=0 bucket (the whole point of Q13 — an inner join
    silently hides them), excluding low-priority orders from the
    count (stand-in for Q13's comment NOT LIKE filter).

    Scale shape: one outer join customer⨝orders (both shuffle on the
    customer key at scale), one per-customer count, then a count-of-
    counts over ≤ max-orders-per-customer distinct values — the
    second aggregate is tiny. No window, no driver loop."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        cust.select("c_custkey")
        .join(
            orders.filter(F.col("o_orderpriority") != "5-LOW").select(
                "o_custkey", "o_orderkey"
            ),
            cust["c_custkey"] == F.col("o_custkey"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count("*").alias("custdist")
    )


QUERIES["olap_customer_order_dist"] = q_olap_customer_order_dist
ORACLES["olap_customer_order_dist"] = """
WITH per_cust AS (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON o_custkey = c_custkey AND o_orderpriority <> '5-LOW'
  GROUP BY c_custkey
)
SELECT c_count, count(*) AS custdist FROM per_cust GROUP BY c_count"""


TOPSUPP_FROM = "1997-01-01 00:00:00"
TOPSUPP_TO = "1997-04-01 00:00:00"


def q_olap_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) with the maximum revenue in a
    quarter → (s_suppkey, s_name, total_revenue). The classic
    "view + scalar max" query: revenue per supplier, keep the rows
    equal to the global max (ties kept, exactly like Q15).

    Scale shape: the quarter filter pushes to the lineitem scan; one
    groupBy(suppkey) aggregate; the global max is a 1-row broadcast
    joined back (never a driver collect); the supplier dim join is
    broadcast. Equality on a decimal-exact sum — no float tie
    ambiguity."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    per_supp = (
        li.filter(
            (F.col("l_shipdate") >= F.lit(TOPSUPP_FROM).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(TOPSUPP_TO).cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(F.sum(rev.cast(_DEC)).alias("rev"))
    )
    mx = per_supp.agg(F.max("rev").alias("mx"))
    return (
        per_supp.crossJoin(F.broadcast(mx))
        .filter(F.col("rev") == F.col("mx"))
        .join(
            F.broadcast(supp.select("s_suppkey", "s_name")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .select(
            "s_suppkey",
            "s_name",
            F.round("rev", 2).cast("double").alias("total_revenue"),
        )
    )


QUERIES["olap_top_supplier"] = q_olap_top_supplier
ORACLES["olap_top_supplier"] = f"""
WITH per_supp AS (
  SELECT l_suppkey, sum(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(30,10))) AS rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '{TOPSUPP_FROM}'
    AND l_shipdate <  TIMESTAMP '{TOPSUPP_TO}'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, CAST(round(rev, 2) AS DOUBLE) AS total_revenue
FROM per_supp JOIN supplier ON s_suppkey = l_suppkey
WHERE rev = (SELECT max(rev) FROM per_supp)"""


SMALLQTY_BRAND = "Brand#12"


def q_olap_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: yearly-averaged revenue lost to small orders
    → one row (avg_yearly): for one brand, sum the extended price of
    lineitems whose quantity is below 20% of that part's average
    quantity, divided by 7 (Q17's "what if we stopped taking tiny
    orders" metric; p_size stands in for Q17's container filter).

    Scale shape: the brand filter broadcasts a small part-key set;
    the per-part average is a groupBy over ONLY the brand's
    lineitems (semi-joined first — never the whole fact), joined
    back broadcast. Two passes over a brand-sized slice, one final
    1-row aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    pk = part.filter(
        (F.col("p_brand") == SMALLQTY_BRAND) & (F.col("p_size") <= 25)
    ).select("p_partkey")
    brand_li = li.join(
        F.broadcast(pk), li["l_partkey"] == F.col("p_partkey")
    ).select("l_partkey", "l_quantity", "l_extendedprice")
    avg_q = brand_li.groupBy(F.col("l_partkey").alias("ap")).agg(
        (F.avg("l_quantity") * 0.2).alias("qlim")
    )
    small = brand_li.join(
        F.broadcast(avg_q), F.col("l_partkey") == F.col("ap")
    ).filter(F.col("l_quantity") < F.col("qlim"))
    return small.agg(
        F.round(
            (F.sum(F.col("l_extendedprice").cast(_DEC)) / 7).cast(_DEC), 2
        )
        .cast("double")
        .alias("avg_yearly")
    )


QUERIES["olap_small_qty_revenue"] = q_olap_small_qty_revenue
ORACLES["olap_small_qty_revenue"] = f"""
WITH pk AS (
  SELECT p_partkey FROM part
  WHERE p_brand = '{SMALLQTY_BRAND}' AND p_size <= 25
), brand_li AS (
  SELECT l_partkey, l_quantity, l_extendedprice
  FROM lineitem JOIN pk ON p_partkey = l_partkey
), avg_q AS (
  SELECT l_partkey AS ap, avg(l_quantity) * 0.2 AS qlim
  FROM brand_li GROUP BY l_partkey
)
SELECT CAST(round(CAST(sum(CAST(l_extendedprice AS DECIMAL(30,10))) / 7
                       AS DECIMAL(30,10)), 2) AS DOUBLE) AS avg_yearly
FROM brand_li JOIN avg_q ON ap = l_partkey
WHERE l_quantity < qlim"""


def q_olap_bracket_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue from three OR'd brand/size/quantity
    brackets → one row (revenue). The disjunctive-predicate join:
    each bracket pairs a brand with a size band and a quantity band,
    OR'd together (p_size stands in for Q19's container lists).

    Scale shape: the whole disjunction is a single join predicate —
    Catalyst extracts the common l_partkey=p_partkey equi-condition
    and pushes the brand/size disjunction to the (broadcast) part
    scan, so this stays an equi-join + residual filter, NOT a
    cartesian product; quantity bounds push to the lineitem scan as
    `l_quantity <= max-bound` range prune."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = li.join(
        F.broadcast(part.select("p_partkey", "p_brand", "p_size")),
        li["l_partkey"] == F.col("p_partkey"),
    )
    br = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return j.filter(br).agg(_dec_sum(rev, "revenue"))


QUERIES["olap_bracket_revenue"] = q_olap_bracket_revenue
ORACLES["olap_bracket_revenue"] = """
SELECT CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(30,10))), 2) AS DOUBLE) AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 20 AND 30)"""


def q_olap_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS ((priority), (year), ()) in ONE pass —
    the third member of the rollup/cube/grouping-sets trio, via the
    SQL frontend (the DataFrame API exposes only rollup/cube; the
    arbitrary-sets form is SQL). Spark expands the sets JVM-side
    exactly like cube — one shuffle, no self-union of three
    aggregates. Money sums in exact decimal."""
    o = load_table(spark, sf_dir, "orders")
    o.withColumn(
        "o_year", F.year("o_orderdate").cast("string")
    ).createOrReplaceTempView("__gs_orders")
    return spark.sql(
        """
        SELECT coalesce(o_orderpriority, 'ALL') AS o_orderpriority,
               coalesce(o_year, 'ALL') AS o_year,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,10))), 2)
                    AS DOUBLE) AS total_price,
               count(*) AS n_orders
        FROM __gs_orders
        GROUP BY GROUPING SETS ((o_orderpriority), (o_year), ())
        """
    )


QUERIES["olap_grouping_sets"] = q_olap_grouping_sets
ORACLES["olap_grouping_sets"] = """
SELECT coalesce(o_orderpriority, 'ALL') AS o_orderpriority,
       coalesce(CAST(year(o_orderdate) AS VARCHAR), 'ALL') AS o_year,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,10))), 2)
            AS DOUBLE) AS total_price,
       count(*) AS n_orders
FROM orders
GROUP BY GROUPING SETS ((o_orderpriority), (year(o_orderdate)), ())"""


# --- TPC-H Q12 / Q21 analogs (round 5: the last two partsupp-free
# shapes; Q2/Q9/Q11/Q16/Q20 need a partsupp table the driver schema
# does not ship and are documented out of reach in SURVEY §7.4) -----

# The driver schema carries no l_shipmode column; the Q12 shape needs
# a low-cardinality line-level categorical, so one is DERIVED
# deterministically from (l_partkey + l_linenumber) mod 7 — identical
# arithmetic in both engines, playing exactly the grouping/filter role
# l_shipmode plays in TPC-H. "Late delivery" (l_commitdate <
# l_receiptdate in TPC-H) is adapted to the schema's available dates
# as shipped > LATE_DAYS after the order date, same as olap_priority_late.
SHIP_MODES = ("REG AIR", "AIR", "RAIL", "SHIP", "TRUCK", "MAIL", "FOB")
Q12_MODES = ("MAIL", "SHIP")
Q12_YEAR = ("1997-01-01 00:00:00", "1998-01-01 00:00:00")


def _ship_mode_col():
    return F.element_at(
        F.array(*[F.lit(m) for m in SHIP_MODES]),
        (F.pmod(F.col("l_partkey") + F.col("l_linenumber"), F.lit(7)) + 1)
        .cast("int"),
    )


def q_olap_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: per ship mode (restricted to two modes), how
    many LATE lines belong to high-priority vs low-priority orders in
    one shipping year — the canonical fact⨝fact join feeding a
    conditional (CASE-in-aggregate) count.

    Scale shape: the year filter prunes the lineitem scan BEFORE the
    join (pushed to parquet); the mode filter runs on the derived
    column in the same scan stage; the orders join is a plain
    key-equi-join AQE sizes at runtime; both counts come out of ONE
    map-side-combinable aggregate over a 2-value key — never two
    passes. Ref parity: the reference has no relational OLAP at all
    (SURVEY §2.7); this extends the TPC-H suite coverage."""
    lo, hi = Q12_YEAR
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit(lo).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(hi).cast("timestamp"))
        )
        .withColumn("ship_mode", _ship_mode_col())
        .filter(F.col("ship_mode").isin(*Q12_MODES))
        .select("l_orderkey", "ship_mode", "l_shipdate")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .filter(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr(f"INTERVAL {LATE_DAYS} DAYS")
        )
        .groupBy("ship_mode")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


QUERIES["olap_shipmode_priority"] = q_olap_shipmode_priority
ORACLES["olap_shipmode_priority"] = f"""
SELECT ['REG AIR','AIR','RAIL','SHIP','TRUCK','MAIL','FOB']
         [CAST((l_partkey + l_linenumber) % 7 AS INT) + 1] AS ship_mode,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE ship_mode IN ('MAIL','SHIP')
  AND l_shipdate > o_orderdate + INTERVAL {LATE_DAYS} DAY
  AND l_shipdate >= TIMESTAMP '{Q12_YEAR[0]}'
  AND l_shipdate <  TIMESTAMP '{Q12_YEAR[1]}'
GROUP BY ship_mode"""


def q_olap_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): count, per
    supplier, the late lines in finished multi-supplier orders where
    that supplier was the ONLY late one — the EXISTS / NOT-EXISTS
    double-correlated pattern, the hardest join shape in the suite and
    the everyday ETL question "a sibling row exists, but none
    qualifies".

    Spark-first re-expression: the two correlated subqueries collapse
    into ONE per-order aggregate — n_supp = countDistinct(supplier)
    (EXISTS a different supplier ⇔ n_supp ≥ 2) and n_late_supp =
    countDistinct(supplier | late) (NOT EXISTS a *different* late
    supplier, given this line is late ⇔ n_late_supp = 1) — joined back
    on the order key. That is two shuffles on l_orderkey total
    (pre-aggregated map-side), instead of two correlated re-scans of
    lineitem per outer row; supplier⨝nation is a broadcast dimension.
    The nation filter of textbook Q21 is dropped (the driver's 10
    suppliers spread over 25 nations would make most single-nation
    picks empty) and n_name is surfaced in the group key instead.
    Late = shipped > LATE_DAYS after order date, as in
    olap_priority_late; status 'F' = the order is finished."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        f"INTERVAL {LATE_DAYS} DAYS"
    )
    lo = li.join(
        orders, li["l_orderkey"] == orders["o_orderkey"]
    ).withColumn("is_late", late)
    ordstats = lo.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(
            F.when(F.col("is_late"), F.col("l_suppkey"))
        ).alias("n_late_supp"),
    )
    qual = (
        lo.filter(F.col("is_late"))
        .join(ordstats, "l_orderkey")
        .filter((F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1))
    )
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    dim = supp.join(
        nation, supp["s_nationkey"] == nation["n_nationkey"]
    ).select("s_suppkey", "s_name", "n_name")
    return (
        qual.join(F.broadcast(dim), qual["l_suppkey"] == dim["s_suppkey"])
        .groupBy("s_name", "n_name")
        .agg(F.count("*").alias("numwait"))
    )


QUERIES["olap_waiting_suppliers"] = q_olap_waiting_suppliers
ORACLES["olap_waiting_suppliers"] = f"""
SELECT s_name, n_name, count(*) AS numwait
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders o ON o.o_orderkey = l1.l_orderkey
WHERE o.o_orderstatus = 'F'
  AND l1.l_shipdate > o.o_orderdate + INTERVAL {LATE_DAYS} DAY
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey
      AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey
      AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate > o.o_orderdate + INTERVAL {LATE_DAYS} DAY)
GROUP BY s_name, n_name"""


# ---------------------------------------------------------------------------
# Market-basket co-occurrence (round 5)
# ---------------------------------------------------------------------------

BASKET_MIN_SUPPORT = 3
BASKET_TOPK = 25


def q_olap_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket lift → top-25 (pa, pb, n_ab, lift): part pairs
    co-purchased in the same order, scored by
    lift = P(a,b)/(P(a)P(b)) = n_ab·N / (n_a·n_b), minimum support
    3 baskets — the "customers who bought X also bought Y" primitive.

    Scale design: the pair generation is an equi-join on the order
    key, so its cost is Σ basket_size², bounded by the largest
    basket (never |parts|² and never corpus-quadratic); the support
    frame is |parts|-sized and broadcast; the final top-k is
    TakeOrderedAndProject on the deterministic
    (lift DESC, pa, pb) key. One distinct pass first so repeat
    lineitems of a part in one order count once."""
    lp = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    n = lp.agg(F.countDistinct("o").alias("n_orders"))
    supp = lp.groupBy("p").agg(F.count("*").alias("s"))
    a = lp.select(F.col("o"), F.col("p").alias("pa"))
    b = lp.select(F.col("o"), F.col("p").alias("pb"))
    pairs = (
        a.join(b, "o")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= BASKET_MIN_SUPPORT)
    )
    j = (
        pairs.join(
            F.broadcast(supp.select(F.col("p").alias("pa"), F.col("s").alias("sa"))),
            "pa",
        )
        .join(
            F.broadcast(supp.select(F.col("p").alias("pb"), F.col("s").alias("sb"))),
            "pb",
        )
        .crossJoin(F.broadcast(n))
    )
    return (
        j.select(
            "pa",
            "pb",
            "n_ab",
            (
                F.floor(
                    F.col("n_ab")
                    * F.col("n_orders")
                    / (F.col("sa") * F.col("sb"))
                    * F.lit(1e6)
                    + F.lit(0.5)
                )
                / F.lit(1e6)
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "pa", "pb")
        .limit(BASKET_TOPK)
    )


QUERIES["olap_market_basket"] = q_olap_market_basket

ORACLES["olap_market_basket"] = f"""
WITH lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
n AS (SELECT count(DISTINCT o) AS n_orders FROM lp),
supp AS (SELECT p, count(*) AS s FROM lp GROUP BY p),
pairs AS (
  SELECT a.p AS pa, b.p AS pb, count(*) AS n_ab
  FROM lp a JOIN lp b ON a.o = b.o AND a.p < b.p
  GROUP BY a.p, b.p
)
SELECT pa, pb, n_ab,
       floor(n_ab * 1.0 * n_orders / (sa.s * sb.s) * 1000000.0 + 0.5)
         / 1000000.0 AS lift
FROM pairs
JOIN supp sa ON sa.p = pairs.pa
JOIN supp sb ON sb.p = pairs.pb
CROSS JOIN n
WHERE n_ab >= {BASKET_MIN_SUPPORT}
ORDER BY lift DESC, pa, pb
LIMIT {BASKET_TOPK}"""


def q_ivm_join_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-JOIN view maintenance proven against recompute → per
    segment (c_mktsegment, n_rows, total_price): the materialized
    enrichment view orders ⋈ customer is DELTA-maintained under the
    compacted orders changelog (≡0 mod 10 deleted, ≡1 price ×3,
    ≡2 inserted keeping its o_custkey) via
    ``operators/cdc.ivm_join_delta`` — stored view rows survive
    through a broadcast affected-key anti-join and only the
    changelog is re-joined to the dimension. The oracle RECOMPUTES
    the join on the applied snapshot, so the gate proves
    delta-join ≡ recompute, the join-IVM correctness contract
    (the aggregate half is ivm_aggregate_maintenance).

    Scale shape: the fact-side view is never re-joined — per batch
    the engine pays O(|Δ| ⋈ dim) + a broadcast anti-join, vs the
    full fact-dim shuffle a recompute pays. Sums run in DECIMAL."""
    from ..operators.cdc import ivm_join_delta

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    view = orders.join(cust, "o_custkey").select(
        "o_orderkey", "o_custkey", "c_mktsegment", "o_totalprice"
    )
    k = F.col("o_orderkey")
    log = (
        orders.filter(k % 10 == 0)
        .select(
            "o_orderkey", "o_custkey", "o_totalprice",
            F.lit("D").alias("op"),
        )
        .unionByName(
            orders.filter(k % 10 == 1).select(
                "o_orderkey",
                "o_custkey",
                (F.col("o_totalprice") * 3).alias("o_totalprice"),
                F.lit("U").alias("op"),
            )
        )
        .unionByName(
            orders.filter(k % 10 == 2).select(
                (k + 10_000_000).alias("o_orderkey"),
                "o_custkey",
                "o_totalprice",
                F.lit("I").alias("op"),
            )
        )
    )
    maintained = ivm_join_delta(
        view, log, cust, ["o_orderkey"], ["o_custkey"]
    )
    return maintained.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_rows"),
        _dec_sum(F.col("o_totalprice"), "total_price"),
    )


QUERIES["ivm_join_maintenance"] = q_ivm_join_maintenance
ORACLES["ivm_join_maintenance"] = """
WITH snap AS (
  SELECT o_orderkey, o_custkey,
         CASE WHEN o_orderkey % 10 = 1 THEN o_totalprice * 3
              ELSE o_totalprice END AS o_totalprice
  FROM orders WHERE o_orderkey % 10 <> 0
  UNION ALL
  SELECT o_orderkey + 10000000, o_custkey, o_totalprice
  FROM orders WHERE o_orderkey % 10 = 2
)
SELECT c.c_mktsegment, count(*) AS n_rows,
       CAST(round(sum(CAST(s.o_totalprice AS DECIMAL(30,10))), 2) AS DOUBLE)
         AS total_price
FROM snap s JOIN customer c ON c.c_custkey = s.o_custkey
GROUP BY c.c_mktsegment"""


# ---------------------------------------------------------------------------
# Derived-partsupp TPC-H completions (round 5): Q2 / Q9 / Q11 / Q16 / Q20
#
# The driver schema carries no partsupp table, which kept five classic
# TPC-H join shapes out of reach. partsupp is DERIVED here, identically
# on both engines: one row per DISTINCT (l_partkey, l_suppkey) pair
# observed in lineitem — so referential integrity to lineitem holds by
# construction, exactly what Q9/Q20 rely on — with availqty/supplycost
# as key-deterministic functions. supplycost is defined in integer
# CENTS ((pk*31+sk*37) mod 80000 + 20000, i.e. $200.00-$999.99) so
# stock-value arithmetic can run in exact BIGINT where a threshold
# comparison would otherwise ride on float summation order.
# ---------------------------------------------------------------------------

_PARTSUPP_SQL = """
partsupp AS (
  SELECT ps_partkey, ps_suppkey,
         (ps_partkey * 7 + ps_suppkey * 13) % 9999 + 1 AS ps_availqty,
         (ps_partkey * 31 + ps_suppkey * 37) % 80000 + 20000 AS ps_cost_cents,
         CAST((ps_partkey * 31 + ps_suppkey * 37) % 80000 + 20000 AS DOUBLE)
           / 100.0 AS ps_supplycost
  FROM (SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
        FROM lineitem)
)"""


def _partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The derived partsupp view (see block comment above): distinct
    observed (part, supplier) pairs + key-deterministic qty/cost.
    Scale shape: one distinct on a 2-column projection of lineitem —
    the same single shuffle a real partsupp table load would pay."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            F.col("l_partkey").alias("ps_partkey"),
            F.col("l_suppkey").alias("ps_suppkey"),
        )
        .distinct()
    )
    pk, sk = F.col("ps_partkey"), F.col("ps_suppkey")
    cents = (pk * 31 + sk * 37) % 80000 + 20000
    return li.select(
        "ps_partkey",
        "ps_suppkey",
        ((pk * 7 + sk * 13) % 9999 + 1).cast("long").alias("ps_availqty"),
        cents.cast("long").alias("ps_cost_cents"),
        (cents.cast("double") / 100.0).alias("ps_supplycost"),
    )


def q_olap_mincost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 analog (minimum-cost supplier) → top 20
    (s_acctbal, s_name, n_name, p_partkey, p_brand, supplycost):
    for every small part (p_size ≤ 10), find the supplier(s) in
    EUROPE offering the REGIONAL MINIMUM supply cost — the
    correlated-min subquery shape, decorrelated the Spark way as a
    per-part min aggregate joined back on (part, cost) equality.

    Scale shape: the region-filtered partsupp⋈supplier⋈nation frame
    is built once and reused for both the min aggregate and the
    join-back (self-join on the smaller aggregated side); dimension
    joins broadcast; final top-20 is TakeOrderedAndProject on the
    rounded sort key. Adaptations from dbgen (documented): p_mfgr /
    address / phone / comment columns don't exist in the driver
    schema, so the output carries brand + nation instead."""
    ps = _partsupp(spark, sf_dir)
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    part = load_table(spark, sf_dir, "part")
    eu = (
        supp.join(
            F.broadcast(nation.filter(F.col("n_regionkey") == 3)),
            supp.s_nationkey == F.col("n_nationkey"),
        ).select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    offers = (
        ps.join(F.broadcast(eu), ps.ps_suppkey == F.col("s_suppkey"))
        .join(
            F.broadcast(
                part.filter(F.col("p_size") <= 10).select(
                    "p_partkey", "p_brand"
                )
            ),
            ps.ps_partkey == F.col("p_partkey"),
        )
        .select(
            "p_partkey", "p_brand", "s_name", "s_acctbal", "n_name",
            "ps_cost_cents",
        )
    )
    mins = (
        offers.groupBy("p_partkey")
        .agg(F.min("ps_cost_cents").alias("min_cents"))
        .withColumnRenamed("p_partkey", "mp_partkey")
    )
    best = offers.join(
        mins,
        (F.col("p_partkey") == F.col("mp_partkey"))
        & (F.col("ps_cost_cents") == F.col("min_cents")),
    ).select(
        stable_round6(F.col("s_acctbal")).alias("s_acctbal"),
        "s_name",
        "n_name",
        "p_partkey",
        "p_brand",
        (F.col("ps_cost_cents").cast("double") / 100.0).alias("supplycost"),
    )
    return best.orderBy(
        F.desc("s_acctbal"), "n_name", "s_name", "p_partkey"
    ).limit(20)


def q_olap_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 analog (product-type profit) → (n_name, o_year,
    profit): for widget parts, profit = revenue − supplycost·qty
    per supplier nation and order year — the five-way
    fact⋈fact-derived⋈3-dim join with a compound measure.

    Scale shape: lineitem joins partsupp on the COMPOSITE
    (partkey, suppkey) key — the one join here that genuinely
    shuffles both sides at 100 TB (partsupp is |distinct pairs|,
    not dimension-sized); part filter broadcasts and PRUNES the
    pair frame before that shuffle; orders arrives via its own key
    join (AQE picks the strategy); profit accumulates in DECIMAL."""
    ps = _partsupp(spark, sf_dir)
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").alias("o_year")
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    widget = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("%widget%")
    ).select("p_partkey")
    pairs = ps.join(
        F.broadcast(widget), ps.ps_partkey == F.col("p_partkey")
    ).select("ps_partkey", "ps_suppkey", "ps_supplycost")
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "ps_supplycost"
    ) * F.col("l_quantity")
    return (
        li.join(
            pairs,
            (li.l_partkey == pairs.ps_partkey)
            & (li.l_suppkey == pairs.ps_suppkey),
        )
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", "o_year")
        .agg(_dec_sum(amount, "profit"))
    )


def q_olap_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 analog (important stock identification) →
    (ps_partkey, stock_value): parts whose stock value held by
    ASIA-region suppliers exceeds TWICE the mean per-part value —
    the global-scalar HAVING shape. dbgen's fixed fraction
    (0.0001/SF) collapses to zero rows as part count grows, so the
    threshold is scale-free (value > 2·total/n_parts). All value
    arithmetic runs in exact BIGINT CENTS (availqty × cost_cents)
    and the threshold test is the integer cross-multiplication
    part_value·n_parts > 2·total_value — no float sum-order hazard
    on the boundary, the same exact-accumulation discipline the
    money sums use.

    Scale shape: one groupBy on the region-pruned pair frame; the
    grand total is a 1-row broadcast; output re-scales cents to
    dollars only for display."""
    ps = _partsupp(spark, sf_dir)
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    asia = supp.join(
        F.broadcast(nation.filter(F.col("n_regionkey") == 2)),
        supp.s_nationkey == F.col("n_nationkey"),
    ).select("s_suppkey")
    vals = (
        ps.join(F.broadcast(asia), ps.ps_suppkey == F.col("s_suppkey"))
        .select(
            "ps_partkey",
            (F.col("ps_availqty") * F.col("ps_cost_cents")).alias("vc"),
        )
    )
    per_part = vals.groupBy("ps_partkey").agg(F.sum("vc").alias("part_cents"))
    total = per_part.agg(
        F.sum("part_cents").alias("total_cents"),
        F.count("*").alias("n_parts"),
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(
            F.col("part_cents") * F.col("n_parts")
            > F.lit(2) * F.col("total_cents")
        )
        .select(
            "ps_partkey",
            (F.col("part_cents").cast("double") / 100.0).alias("stock_value"),
        )
    )


def q_olap_parts_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 analog (parts/supplier relationship) → top 25
    (p_brand, p_type, p_size, supplier_cnt): how many distinct
    suppliers stock each (brand, type, size) combination, excluding
    one brand+type and a deterministic supplier blocklist
    (s_suppkey ≡ 0 mod 7 — the driver schema has no s_comment for
    dbgen's complaints filter; the NOT-IN shape is preserved as a
    broadcast anti-join).

    Scale shape: anti-join prunes partsupp before the distinct
    count; part attributes broadcast; count(DISTINCT) shuffles on
    the 3-part group key; top-25 is TakeOrderedAndProject."""
    ps = _partsupp(spark, sf_dir)
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    blocked = supp.filter(F.col("s_suppkey") % 7 == 0).select("s_suppkey")
    keep_parts = part.filter(
        ~((F.col("p_brand") == "Brand#13") & (F.col("p_type") == "PROMO"))
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    return (
        ps.join(
            F.broadcast(blocked),
            ps.ps_suppkey == F.col("s_suppkey"),
            "left_anti",
        )
        .join(F.broadcast(keep_parts), ps.ps_partkey == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
        .limit(25)
    )


def q_olap_excess_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 analog (potential part promotion) → distinct
    (s_name, n_name) of suppliers holding EXCESS stock of a bolt
    part: ps_availqty > ½ of the quantity that (part, supplier)
    pair actually shipped in 1996 — the nested correlated-subquery
    shape, decorrelated into a per-pair shipped-quantity aggregate
    inner-joined back (an empty correlated sum is NULL in TPC-H and
    excludes the row, which the inner join reproduces exactly).

    Scale shape: the 1996+bolt filters prune lineitem BEFORE its
    (partkey, suppkey) aggregate; the comparison is integer-exact
    (quantities are integral, halving a double integer is exact);
    dimension joins broadcast; output is dimension-sized. The
    DISTINCT is on the PROJECTED (s_name, n_name) — the query's
    declared output grain — not on suppkey: two suppliers sharing a
    name are one answer row (the suppkey distinct stays as a
    dimension-sized pre-reduction before the joins)."""
    ps = _partsupp(spark, sf_dir)
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    bolts = part.filter(F.col("p_name").like("%bolt%")).select("p_partkey")
    shipped = (
        li.filter(F.year("l_shipdate") == 1996)
        .join(F.broadcast(bolts), li.l_partkey == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    excess = ps.join(
        shipped,
        (ps.ps_partkey == shipped.l_partkey)
        & (ps.ps_suppkey == shipped.l_suppkey),
    ).filter(F.col("ps_availqty") > 0.5 * F.col("qty"))
    return (
        excess.select("ps_suppkey")
        .distinct()
        .join(F.broadcast(supp), F.col("ps_suppkey") == supp.s_suppkey)
        .join(
            F.broadcast(nation),
            supp.s_nationkey == F.col("n_nationkey"),
        )
        .select("s_name", "n_name")
        .distinct()
        .orderBy("s_name")
    )


QUERIES["olap_mincost_supplier"] = q_olap_mincost_supplier
QUERIES["olap_product_profit"] = q_olap_product_profit
QUERIES["olap_important_stock"] = q_olap_important_stock
QUERIES["olap_parts_supplier_cnt"] = q_olap_parts_supplier_cnt
QUERIES["olap_excess_stock"] = q_olap_excess_stock

ORACLES["olap_mincost_supplier"] = f"""
WITH {_PARTSUPP_SQL.strip()},
eu AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier JOIN nation ON n_nationkey = s_nationkey
  WHERE n_regionkey = 3
),
offers AS (
  SELECT p.p_partkey, p.p_brand, e.s_name, e.s_acctbal, e.n_name,
         ps.ps_cost_cents
  FROM partsupp ps
  JOIN eu e ON e.s_suppkey = ps.ps_suppkey
  JOIN part p ON p.p_partkey = ps.ps_partkey
  WHERE p.p_size <= 10
),
mins AS (
  SELECT p_partkey, min(ps_cost_cents) AS min_cents
  FROM offers GROUP BY p_partkey
)
SELECT floor(o.s_acctbal * 1000000.0 + 0.5) / 1000000.0 AS s_acctbal,
       o.s_name, o.n_name, o.p_partkey, o.p_brand,
       CAST(o.ps_cost_cents AS DOUBLE) / 100.0 AS supplycost
FROM offers o JOIN mins m
  ON m.p_partkey = o.p_partkey AND o.ps_cost_cents = m.min_cents
ORDER BY 1 DESC, o.n_name, o.s_name, o.p_partkey
LIMIT 20"""

ORACLES["olap_product_profit"] = f"""
WITH {_PARTSUPP_SQL.strip()}
SELECT n.n_name, EXTRACT(YEAR FROM o.o_orderdate) AS o_year,
       CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                           - ps.ps_supplycost * l.l_quantity
                           AS DECIMAL(30,10))), 2) AS DOUBLE) AS profit
FROM lineitem l
JOIN partsupp ps ON ps.ps_partkey = l.l_partkey
                AND ps.ps_suppkey = l.l_suppkey
JOIN part p ON p.p_partkey = l.l_partkey AND p.p_name LIKE '%widget%'
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
GROUP BY n.n_name, o_year"""

ORACLES["olap_important_stock"] = f"""
WITH {_PARTSUPP_SQL.strip()},
asia AS (
  SELECT s_suppkey FROM supplier
  JOIN nation ON n_nationkey = s_nationkey
  WHERE n_regionkey = 2
),
per_part AS (
  SELECT ps_partkey, sum(ps_availqty * ps_cost_cents) AS part_cents
  FROM partsupp JOIN asia ON asia.s_suppkey = partsupp.ps_suppkey
  GROUP BY ps_partkey
)
SELECT ps_partkey,
       CAST(part_cents AS DOUBLE) / 100.0 AS stock_value
FROM per_part
WHERE part_cents * (SELECT count(*) FROM per_part)
      > 2 * (SELECT sum(part_cents) FROM per_part)"""

ORACLES["olap_parts_supplier_cnt"] = f"""
WITH {_PARTSUPP_SQL.strip()}
SELECT p.p_brand, p.p_type, p.p_size,
       count(DISTINCT ps.ps_suppkey) AS supplier_cnt
FROM partsupp ps
JOIN part p ON p.p_partkey = ps.ps_partkey
WHERE NOT (p.p_brand = 'Brand#13' AND p.p_type = 'PROMO')
  AND ps.ps_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_suppkey % 7 = 0
  )
GROUP BY p.p_brand, p.p_type, p.p_size
ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
LIMIT 25"""

ORACLES["olap_excess_stock"] = f"""
WITH {_PARTSUPP_SQL.strip()},
shipped AS (
  SELECT l.l_partkey, l.l_suppkey, sum(l.l_quantity) AS qty
  FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey AND p.p_name LIKE '%bolt%'
  WHERE EXTRACT(YEAR FROM l.l_shipdate) = 1996
  GROUP BY l.l_partkey, l.l_suppkey
)
SELECT DISTINCT s.s_name, n.n_name
FROM partsupp ps
JOIN shipped sh ON sh.l_partkey = ps.ps_partkey
               AND sh.l_suppkey = ps.ps_suppkey
JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE ps.ps_availqty > 0.5 * sh.qty
ORDER BY s.s_name"""


def q_olap_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier (2-D skyline) of part: the parts no other part
    beats on BOTH axes — size maximized, retail price minimized →
    (p_partkey, p_name, p_size, p_retailprice). The skyline/dominance
    query is the classic "best trade-offs" analytics shape (cheapest
    part at every capability level).

    Scale design: never the O(n²) dominance self-join. The frontier
    of a 2-D skyline is determined entirely by the per-size minimum
    price — a map-side-combinable groupBy to the ≤|distinct sizes|
    dimension frame — plus a running min over that TINY frame ordered
    by size descending (the only window, over dozens of rows, never
    the fact table). A part survives iff its price equals its size's
    minimum AND that minimum strictly undercuts every larger size's
    minimum; the frontier sizes broadcast back onto the fact scan.
    Identical (size, price) twins both survive (a point cannot
    dominate its copy), which the oracle's strict-inequality NOT
    EXISTS reproduces."""
    part = load_table(spark, sf_dir, "part")
    msize = part.groupBy("p_size").agg(
        F.min("p_retailprice").alias("m")
    )
    w = (
        Window.orderBy(F.desc("p_size"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    frontier_sizes = (
        msize.withColumn("bigger_min", F.min("m").over(w))
        .filter(
            F.col("bigger_min").isNull()
            | (F.col("m") < F.col("bigger_min"))
        )
        .select("p_size", "m")
    )
    return (
        part.join(F.broadcast(frontier_sizes), "p_size")
        .filter(F.col("p_retailprice") == F.col("m"))
        .select("p_partkey", "p_name", "p_size", "p_retailprice")
    )


QUERIES["olap_pareto_frontier"] = q_olap_pareto_frontier
ORACLES["olap_pareto_frontier"] = """
SELECT p.p_partkey, p.p_name, p.p_size, p.p_retailprice
FROM part p
WHERE NOT EXISTS (
  SELECT 1 FROM part q
  WHERE q.p_size >= p.p_size
    AND q.p_retailprice <= p.p_retailprice
    AND (q.p_size > p.p_size OR q.p_retailprice < p.p_retailprice)
)"""


COPURCHASE_TOPK = 3


def q_olap_copurchase_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering → top-3 "customers also
    bought" per part: (p_a, p_b, n_ab, cos, rnk). Co-occurrence
    counts come from the basket self-join (lineitem parts within one
    order), similarity is the cosine n_ab/√(n_a·n_b) that normalizes
    away bestseller bias — the batch half of every recsys serving
    stack, next to olap_market_basket's lift.

    Scale shape: baskets dedupe to the (order, part) grain first
    (tiny per-order item lists bound the self-join fan-out to
    Σ_orders |basket|²); per-item totals broadcast back; ranking is a
    window PARTITIONED by item (frame = that item's candidates, never
    global) with the (cos DESC, p_b) total order; cosine compares on
    exact integer counts so the 6dp rank key is engine-identical."""
    li = load_table(spark, sf_dir, "lineitem")
    bask = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct()
    item_n = bask.groupBy("pk").agg(F.count("*").alias("n"))
    a = bask.select("ok", F.col("pk").alias("p_a"))
    b = bask.select("ok", F.col("pk").alias("p_b"))
    co = (
        a.join(b, "ok")
        .filter(F.col("p_a") != F.col("p_b"))
        .groupBy("p_a", "p_b")
        .agg(F.count("*").alias("n_ab"))
    )
    co = (
        co.join(
            F.broadcast(
                item_n.select(
                    F.col("pk").alias("p_a"), F.col("n").alias("na")
                )
            ),
            "p_a",
        )
        .join(
            F.broadcast(
                item_n.select(
                    F.col("pk").alias("p_b"), F.col("n").alias("nb")
                )
            ),
            "p_b",
        )
        .withColumn(
            "cos",
            F.floor(
                F.col("n_ab")
                / F.sqrt(F.col("na").cast("double") * F.col("nb"))
                * F.lit(1e6)
                + F.lit(0.5)
            )
            / F.lit(1e6),
        )
    )
    w = Window.partitionBy("p_a").orderBy(
        F.desc("cos"), F.asc("p_b")
    )
    return (
        co.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= COPURCHASE_TOPK)
        .select("p_a", "p_b", "n_ab", "cos", "rnk")
    )


QUERIES["olap_copurchase_topk"] = q_olap_copurchase_topk
ORACLES["olap_copurchase_topk"] = f"""
WITH bask AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
),
item_n AS (SELECT pk, CAST(count(*) AS BIGINT) AS n FROM bask GROUP BY pk),
co AS (
  SELECT a.pk AS p_a, b.pk AS p_b, CAST(count(*) AS BIGINT) AS n_ab
  FROM bask a JOIN bask b ON b.ok = a.ok AND a.pk <> b.pk
  GROUP BY a.pk, b.pk
),
scored AS (
  SELECT co.p_a, co.p_b, co.n_ab,
         floor(co.n_ab / sqrt(CAST(x.n AS DOUBLE) * y.n)
               * 1000000.0 + 0.5) / 1000000.0 AS cos
  FROM co JOIN item_n x ON x.pk = co.p_a
  JOIN item_n y ON y.pk = co.p_b
),
ranked AS (
  SELECT p_a, p_b, n_ab, cos,
         row_number() OVER (PARTITION BY p_a
                            ORDER BY cos DESC, p_b) AS rnk
  FROM scored
)
SELECT p_a, p_b, n_ab, cos, CAST(rnk AS BIGINT) AS rnk
FROM ranked WHERE rnk <= {COPURCHASE_TOPK}"""


def q_olap_ship_delay_quartiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact order-to-ship delay quartiles per order priority →
    (grp, n, q_0_25, q_0_5, q_0_75): the fulfilment-SLA profile.
    Delay = whole days from o_orderdate to l_shipdate (an exact
    integer measure), quantiles are type-1 with integer target ranks
    via operators/profiling.group_quantiles — the same no-sampling
    distributed-quantile primitive as stats_boxplot, here fed by the
    orders⋈lineitem join (shuffle on the FK; the group dimension is
    |priorities|)."""
    from ..operators.profiling import group_quantiles

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    j = li.select(
        F.col("l_orderkey").alias("o_orderkey"), "l_shipdate"
    ).join(orders.select("o_orderkey", "o_orderdate", "o_orderpriority"),
           "o_orderkey")
    d = j.select(
        F.col("o_orderpriority").alias("prio"),
        F.datediff(
            F.to_date("l_shipdate"), F.to_date("o_orderdate")
        ).alias("delay"),
    )
    return group_quantiles(d, group_col="prio", value_col="delay")


QUERIES["olap_ship_delay_quartiles"] = q_olap_ship_delay_quartiles
ORACLES["olap_ship_delay_quartiles"] = """
WITH d AS (
  SELECT o.o_orderpriority AS grp,
         date_diff('day', CAST(o.o_orderdate AS DATE),
                   CAST(l.l_shipdate AS DATE)) AS v
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
),
g AS (
  SELECT grp, v, count(*) AS c FROM d WHERE v IS NOT NULL
  GROUP BY grp, v
),
r AS (
  SELECT grp, v, c,
         sum(c) OVER (PARTITION BY grp ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM g
),
t AS (SELECT grp, CAST(sum(c) AS BIGINT) AS n FROM g GROUP BY grp)
SELECT r.grp, t.n,
       min(CASE WHEN cum >= (t.n * 1 + 3) // 4 THEN v END) AS q_0_25,
       min(CASE WHEN cum >= (t.n * 1 + 1) // 2 THEN v END) AS q_0_5,
       min(CASE WHEN cum >= (t.n * 3 + 3) // 4 THEN v END) AS q_0_75
FROM r JOIN t ON t.grp = r.grp
GROUP BY r.grp, t.n"""


def q_olap_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of order value → (n, total_cents, gini): the
    revenue-concentration readout ("do 20% of orders carry 80% of
    revenue?"), exact and collect-free.

    Prices fix to integer cents (floor(x·100+0.5) — engine-identical)
    and the rank-weighted sum S = Σᵢ rank·xᵢ folds at the TIE GRAIN:
    a tie group (same cents, multiplicity n_g, count-below cl) always
    contributes cents·(n_g·cl + n_g(n_g+1)/2) — tied rows share one
    value, so no per-row rank order matters and no tie-break is ever
    needed. Count-below comes from the deterministic bucketed prefix
    sum (attach_count_below); the per-group contributions and totals
    accumulate as DECIMAL(38,0) (BIGINT-safe far past sf10), and
    G = (2S − (n+1)T)/(n·T) is one division of exact integers."""
    from ..operators.profiling import attach_count_below

    orders = load_table(spark, sf_dir, "orders")
    cents = orders.select(
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("v")
    )
    g = attach_count_below(
        cents.groupBy("v").agg(F.count("*").alias("n"))
    )
    dec = "decimal(38,0)"
    contrib = (
        F.col("v").cast(dec)
        * (
            F.col("n").cast(dec) * F.col("cl").cast(dec)
            + (
                F.col("n").cast(dec)
                * (F.col("n") + F.lit(1)).cast(dec)
            )
            / F.lit(2).cast(dec)
        )
    )
    agg = g.agg(
        F.sum("n").alias("nn"),
        F.sum(F.col("v").cast(dec) * F.col("n").cast(dec)).alias("t"),
        F.sum(contrib).alias("s"),
    )
    return agg.select(
        F.col("nn").alias("n"),
        F.col("t").cast("long").alias("total_cents"),
        (
            F.floor(
                (
                    (
                        F.lit(2).cast(dec) * F.col("s")
                        - (F.col("nn") + F.lit(1)).cast(dec) * F.col("t")
                    ).cast("double")
                    / (F.col("nn").cast(dec) * F.col("t")).cast("double")
                )
                * F.lit(1e6)
                + F.lit(0.5)
            )
            / F.lit(1e6)
        ).alias("gini"),
    )


QUERIES["olap_revenue_gini"] = q_olap_revenue_gini
ORACLES["olap_revenue_gini"] = """
WITH cents AS (
  SELECT CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS v
  FROM orders
),
g AS (SELECT v, CAST(count(*) AS BIGINT) AS n FROM cents GROUP BY v),
r AS (
  SELECT v, n,
         coalesce(sum(n) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cl
  FROM g
),
agg AS (
  SELECT CAST(sum(n) AS BIGINT) AS nn,
         sum(CAST(v AS HUGEINT) * n) AS t,
         sum(CAST(v AS HUGEINT)
             * (n * CAST(cl AS HUGEINT) + n * (n + 1) / 2)) AS s
  FROM r
)
SELECT nn AS n, CAST(t AS BIGINT) AS total_cents,
       floor(CAST(2 * s - (nn + 1) * t AS DOUBLE)
             / CAST(nn * t AS DOUBLE) * 1000000.0 + 0.5)
         / 1000000.0 AS gini
FROM agg"""


def q_approx_quantile_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mergeable histogram quantiles of event value per type →
    (grp, n, est_q_0_5/0_9/0_99, exact_q_0_5/0_9/0_99): the
    STREAMABLE quantile path — 128 fixed-edge bin counts are a pure
    sum sketch (per-batch histograms merge by addition; pytest pins
    the merge law), estimates answer from the bin cumulative at the
    same integer ⌈p·n⌉ targets as the exact path, and the exact
    quantiles ride along as the realized-error audit, the
    hll_distinct_union pattern applied to quantiles. See
    operators/sketch.histogram_quantiles."""
    from ..operators.sketch import histogram_quantiles

    ev = load_table(spark, sf_dir, "events")
    return histogram_quantiles(ev, "event_type", "value")


QUERIES["approx_quantile_histogram"] = q_approx_quantile_histogram
ORACLES["approx_quantile_histogram"] = """
WITH base AS (
  SELECT event_type AS grp, CAST(value AS DOUBLE) AS v
  FROM events WHERE value IS NOT NULL
),
bounds AS (SELECT min(v) AS vmin, max(v) AS vmax FROM base),
binned AS (
  SELECT grp, v,
         CASE WHEN b.vmax > b.vmin
              THEN least(127, CAST(floor((v - b.vmin)
                     / (b.vmax - b.vmin) * 128) AS BIGINT))
              ELSE 0 END AS bin
  FROM base CROSS JOIN bounds b
),
h AS (SELECT grp, bin, count(*) AS c FROM binned GROUP BY grp, bin),
hc AS (
  SELECT grp, bin, c,
         sum(c) OVER (PARTITION BY grp ORDER BY bin
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM h
),
tot AS (SELECT grp, CAST(sum(c) AS BIGINT) AS n FROM h GROUP BY grp),
est AS (
  SELECT hc.grp, t.n,
         min(CASE WHEN cum >= (t.n * 1 + 1) // 2
             THEN b.vmin + bin * (b.vmax - b.vmin) / 128.0 END)
           AS est_q_0_5,
         min(CASE WHEN cum >= (t.n * 9 + 9) // 10
             THEN b.vmin + bin * (b.vmax - b.vmin) / 128.0 END)
           AS est_q_0_9,
         min(CASE WHEN cum >= (t.n * 99 + 99) // 100
             THEN b.vmin + bin * (b.vmax - b.vmin) / 128.0 END)
           AS est_q_0_99
  FROM hc JOIN tot t ON t.grp = hc.grp CROSS JOIN bounds b
  GROUP BY hc.grp, t.n
),
vg AS (SELECT grp, v, count(*) AS c FROM base GROUP BY grp, v),
vc AS (
  SELECT grp, v, c,
         sum(c) OVER (PARTITION BY grp ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM vg
),
ex AS (
  SELECT vc.grp,
         min(CASE WHEN cum >= (t.n * 1 + 1) // 2 THEN v END)
           AS exact_q_0_5,
         min(CASE WHEN cum >= (t.n * 9 + 9) // 10 THEN v END)
           AS exact_q_0_9,
         min(CASE WHEN cum >= (t.n * 99 + 99) // 100 THEN v END)
           AS exact_q_0_99
  FROM vc JOIN tot t ON t.grp = vc.grp
  GROUP BY vc.grp
)
SELECT est.grp, est.n, est.est_q_0_5, est.est_q_0_9, est.est_q_0_99,
       ex.exact_q_0_5, ex.exact_q_0_9, ex.exact_q_0_99
FROM est JOIN ex ON ex.grp = est.grp"""


def q_olap_top_parts_per_nation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top-3 parts per supplier nation by lineitem revenue →
    (n_name, l_partkey, revenue, rnk): the canonical top-N-per-group
    report shape (every BI tool's "best sellers by region") that the
    OLAP family was still missing — rank over a grouped aggregate,
    ties broken deterministically by part key.

    Scale shape: one decimal-exact groupBy at the (nation, part)
    grain (the only big shuffle), then a rank window PARTITIONED by
    nation over the already-aggregated frame (25-nation-bounded
    partitions, never raw rows); supplier and nation dims broadcast.
    Revenue accumulates as decimal(30,10) and rounds once at
    output — no float tie ambiguity in the ranking."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    per = (
        li.join(
            F.broadcast(supp.select("s_suppkey", "s_nationkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(
            F.broadcast(nat.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name", "l_partkey")
        .agg(F.sum(rev.cast(_DEC)).alias("rev"))
    )
    w = Window.partitionBy("n_name").orderBy(
        F.desc("rev"), F.asc("l_partkey")
    )
    return (
        per.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            "n_name",
            "l_partkey",
            F.round("rev", 2).cast("double").alias("revenue"),
            "rnk",
        )
    )


QUERIES["olap_top_parts_per_nation"] = q_olap_top_parts_per_nation
ORACLES["olap_top_parts_per_nation"] = """
WITH per AS (
  SELECT n.n_name, l.l_partkey,
         sum(CAST(l.l_extendedprice * (1 - l.l_discount)
             AS DECIMAL(30,10))) AS rev
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  GROUP BY n.n_name, l.l_partkey
),
r AS (
  SELECT n_name, l_partkey, rev,
         row_number() OVER (PARTITION BY n_name
           ORDER BY rev DESC, l_partkey ASC) AS rnk
  FROM per
)
SELECT n_name, l_partkey,
       CAST(round(rev, 2) AS DOUBLE) AS revenue, rnk
FROM r WHERE rnk <= 3"""


def q_approx_intersection_kmv(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Theta-sketch audience overlap → one row per event-type pair
    (seg_a, seg_b, theta, est_intersection, exact_intersection):
    |users(a) ∩ users(b)| estimated purely from the two segments'
    64-hash KMV states via the theta-intersection rule — the
    set-OPERATION completion of the sketch family (KMV/HLL/CMS give
    counts; this gives overlaps, the audience-overlap question every
    ads/growth dashboard asks), answerable from shipped sketch
    states with NO raw-data rescan. md5-deterministic end to end;
    the exact column rides along as the realized-error audit."""
    from ..operators.sketch import kmv_intersection

    ev = load_table(spark, sf_dir, "events")
    return kmv_intersection(ev, "event_type", "user_id", k=64)


QUERIES["approx_intersection_kmv"] = q_approx_intersection_kmv
ORACLES["approx_intersection_kmv"] = """
WITH pairs AS (SELECT DISTINCT event_type, user_id FROM events),
hashed AS (
  SELECT event_type,
         ('0x' || substr(md5('kmv' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
           / 1152921504606846976.0 AS u
  FROM pairs
),
kept AS (
  SELECT event_type, u,
         row_number() OVER (PARTITION BY event_type ORDER BY u) AS rn
  FROM hashed
),
st AS (SELECT event_type, u FROM kept WHERE rn <= 64),
th AS (
  SELECT event_type,
         CASE WHEN count(*) < 64 THEN 1.0 ELSE max(u) END AS theta
  FROM st GROUP BY event_type
),
grid AS (
  SELECT a.event_type AS seg_a, b.event_type AS seg_b,
         least(a.theta, b.theta) AS theta
  FROM th a JOIN th b ON a.event_type < b.event_type
),
common AS (
  SELECT sa.event_type AS seg_a, sb.event_type AS seg_b,
         CAST(count(*) AS BIGINT) AS c
  FROM st sa
  JOIN st sb ON sb.u = sa.u AND sa.event_type < sb.event_type
  JOIN grid g ON g.seg_a = sa.event_type AND g.seg_b = sb.event_type
  WHERE sa.u < g.theta
  GROUP BY 1, 2
),
exact AS (
  SELECT a.event_type AS seg_a, b.event_type AS seg_b,
         CAST(count(*) AS BIGINT) AS x
  FROM pairs a
  JOIN pairs b ON b.user_id = a.user_id
   AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT g.seg_a, g.seg_b,
       floor(g.theta * 1000000.0 + 0.5) / 1000000.0 AS theta,
       floor(coalesce(c.c, 0) / g.theta * 1000000.0 + 0.5) / 1000000.0
         AS est_intersection,
       coalesce(e.x, 0) AS exact_intersection
FROM grid g
LEFT JOIN common c ON c.seg_a = g.seg_a AND c.seg_b = g.seg_b
LEFT JOIN exact e ON e.seg_a = g.seg_a AND e.seg_b = g.seg_b"""


def q_olap_ltv_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-lifetime-value distribution per market segment →
    (grp, n, q_0_25, q_0_5, q_0_75): exact quartiles of per-customer
    total order value (integer CENTS, so the distributed quantile
    primitive is engine-identical) — the LTV profile a CRM reads per
    segment before setting acquisition budgets. Two shuffles total:
    the (customer) revenue aggregate, then the value-grain quantile
    pass per segment; the customer dim joins broadcast."""
    from ..operators.profiling import group_quantiles

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    ltv = (
        orders.select(
            "o_custkey",
            F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        .groupBy("o_custkey")
        .agg(F.sum("cents").alias("ltv_cents"))
        .join(
            F.broadcast(cust.select("c_custkey", "c_mktsegment")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
    )
    return group_quantiles(
        ltv, group_col="c_mktsegment", value_col="ltv_cents"
    )


QUERIES["olap_ltv_quartiles"] = q_olap_ltv_quartiles
ORACLES["olap_ltv_quartiles"] = """
WITH ltv AS (
  SELECT o_custkey,
         CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
              AS BIGINT) AS v
  FROM orders GROUP BY o_custkey
),
seg AS (
  SELECT c.c_mktsegment AS grp, l.v
  FROM ltv l JOIN customer c ON c.c_custkey = l.o_custkey
),
g AS (SELECT grp, v, count(*) AS c FROM seg GROUP BY grp, v),
r AS (
  SELECT grp, v, c,
         sum(c) OVER (PARTITION BY grp ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM g
),
t AS (SELECT grp, CAST(sum(c) AS BIGINT) AS n FROM g GROUP BY grp)
SELECT r.grp, t.n,
       min(CASE WHEN cum >= (t.n * 1 + 3) // 4 THEN v END) AS q_0_25,
       min(CASE WHEN cum >= (t.n * 1 + 1) // 2 THEN v END) AS q_0_5,
       min(CASE WHEN cum >= (t.n * 3 + 3) // 4 THEN v END) AS q_0_75
FROM r JOIN t ON t.grp = r.grp
GROUP BY r.grp, t.n"""


def q_olap_order_gap_quartiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Repurchase-cadence profile → (grp, n, q_0_25, q_0_5, q_0_75):
    exact quartiles of the DAYS between a customer's consecutive
    orders, per market segment — the inter-purchase interval CRM
    teams read before scheduling win-back campaigns. One window at
    the per-customer order grain (lag ordered by (date, orderkey) so
    same-day ties are deterministic), integer day deltas, then the
    distributed exact-quantile primitive per segment."""
    from pyspark.sql import Window

    from ..operators.profiling import group_quantiles

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        orders.select("o_custkey", "o_orderdate", "o_orderkey")
        .withColumn("prev_d", F.lag("o_orderdate").over(w))
        .filter(F.col("prev_d").isNotNull())
        .select(
            "o_custkey",
            F.datediff("o_orderdate", "prev_d").alias("gap_d"),
        )
        .join(
            F.broadcast(cust.select("c_custkey", "c_mktsegment")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
    )
    return group_quantiles(
        gaps, group_col="c_mktsegment", value_col="gap_d"
    )


QUERIES["olap_order_gap_quartiles"] = q_olap_order_gap_quartiles
ORACLES["olap_order_gap_quartiles"] = """
WITH o AS (
  SELECT o_custkey, o_orderdate,
         lag(o_orderdate) OVER (PARTITION BY o_custkey
           ORDER BY o_orderdate, o_orderkey) AS prev_d
  FROM orders
),
gaps AS (
  SELECT o_custkey,
         date_diff('day', CAST(prev_d AS DATE),
                   CAST(o_orderdate AS DATE)) AS v
  FROM o WHERE prev_d IS NOT NULL
),
seg AS (
  SELECT c.c_mktsegment AS grp, g.v
  FROM gaps g JOIN customer c ON c.c_custkey = g.o_custkey
),
g2 AS (SELECT grp, v, count(*) AS c FROM seg GROUP BY grp, v),
r AS (
  SELECT grp, v, c,
         sum(c) OVER (PARTITION BY grp ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM g2
),
t AS (SELECT grp, CAST(sum(c) AS BIGINT) AS n FROM g2 GROUP BY grp)
SELECT r.grp, t.n,
       min(CASE WHEN cum >= (t.n * 1 + 3) // 4 THEN v END) AS q_0_25,
       min(CASE WHEN cum >= (t.n * 1 + 1) // 2 THEN v END) AS q_0_5,
       min(CASE WHEN cum >= (t.n * 3 + 3) // 4 THEN v END) AS q_0_75
FROM r JOIN t ON t.grp = r.grp
GROUP BY r.grp, t.n"""

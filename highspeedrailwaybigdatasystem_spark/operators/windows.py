"""Window-function operators (SURVEY.md §2.5).

Scale notes: every window here shuffles once on its partition key and sorts
within partitions — the shuffle is shared when several window specs use the
same partitioning. Skewed partition keys (one giant user) are the 100 TB
hazard; the keys used here (customer, user, brand, segment) are
high-cardinality and near-uniform in this corpus. All orderings carry a
unique tie-break key so results are deterministic (SURVEY.md §5.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import register
from ._util import EVENTS_TS_US, money, ratio, sql_q, t


@register(
    "win_rownum_topk",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders) x
    WHERE rn <= 3
    """,
)
def win_rownum_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer by price (canonical per-group top-k).
    Bench headline op — one SQL text (see ``sql_q``); same single
    shuffle-on-o_custkey + in-partition sort + rank-filter plan as the
    Window-API formulation."""
    return sql_q(
        spark,
        sf_dir,
        """
        SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
          SELECT o_custkey, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM orders) x
        WHERE rn <= 3
        """,
    )


@register(
    "topk_per_group",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders) x
    WHERE rn <= 3
    """,
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical per-group top-k (SURVEY.md §2.6 row — the row_number
    formulation; same computation as win_rownum_topk)."""
    return win_rownum_topk(spark, sf_dir)


@register(
    "win_rank_dense",
    oracle="""
    SELECT p_partkey, p_brand,
           rank()       OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC) AS rnk,
           dense_rank() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC) AS drnk
    FROM part
    """,
)
def win_rank_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("p_brand").orderBy(F.col("p_retailprice").desc())
    return t(spark, sf_dir, "part").select(
        "p_partkey",
        "p_brand",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
    )


@register(
    "win_lag_lead",
    oracle=f"""
    SELECT event_id,
           date_diff('microsecond',
                     lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id),
                     ts_us) AS gap_us,
           date_diff('microsecond',
                     ts_us,
                     lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)) AS next_gap_us
    FROM (SELECT event_id, user_id, {EVENTS_TS_US} AS ts_us FROM events) e
    """,
)
def win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-event gap in µs via lag/lead."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    return t(spark, sf_dir, "events").select(
        "event_id",
        (us - F.unix_micros(F.lag("ts").over(w))).alias("gap_us"),
        (F.unix_micros(F.lead("ts").over(w)) - us).alias("next_gap_us"),
    )


@register(
    "win_running_sum",
    oracle="""
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                                         ORDER BY o_orderdate NULLS FIRST, o_orderkey
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 2) AS running_spend
    FROM orders
    """,
)
def win_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer running spend along the order timeline. An undated
    order sorts FIRST (pinned in the oracle; Spark's ASC default) — the
    r15 wave-2 null sweep: DuckDB's NULLS LAST default put it at the
    timeline's END, shifting every running sum in the partition."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        money(F.sum("o_totalprice").over(w)).alias("running_spend"),
    )


@register(
    "win_moving_avg",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', o_orderdate) AS day,
             date_diff('day', TIMESTAMP '1995-01-01', date_trunc('day', o_orderdate)) AS day_num,
             CAST(round(sum(o_totalprice) * 100, 0) AS BIGINT) AS day_cents
      FROM orders GROUP BY 1, 2)
    SELECT day,
           (sum(day_cents) OVER w // count(*) OVER w) / 100.0 AS ma7
    FROM daily
    WINDOW w AS (ORDER BY day_num RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
)
def win_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day moving average of daily order totals (RANGE frame over a day
    number, so missing days widen the window correctly).

    Arithmetic is integer CENTS end-to-end: daily sums snap to exact cent
    integers (the float sum is within 1e-6 of one), the window sums
    BIGINTs (no float accumulation drift), and the average is exact
    integer division — because avg(money over small counts) lands exactly
    on half-cents where Spark's and DuckDB's round() disagree."""
    daily = (
        t(spark, sf_dir, "orders")
        .groupBy(
            F.date_trunc("day", "o_orderdate").alias("day"),
            F.datediff(
                F.date_trunc("day", "o_orderdate"), F.lit("1995-01-01").cast("date")
            ).alias("day_num"),
        )
        .agg(F.round(F.sum("o_totalprice") * 100, 0).cast("bigint").alias("day_cents"))
    )
    w = Window.orderBy("day_num").rangeBetween(-6, 0)
    framed = daily.select(
        "day",
        F.sum("day_cents").over(w).alias("win_cents"),
        F.count(F.lit(1)).over(w).alias("win_days"),
    )
    # exact integer division (positive operands), then one shared float op
    int_div = (F.col("win_cents") - F.col("win_cents") % F.col("win_days")) / F.col(
        "win_days"
    )
    return framed.select("day", (int_div / 100.0).alias("ma7"))


@register(
    "win_ntile_pctrank",
    oracle="""
    SELECT c_custkey,
           ntile(4)       OVER w AS quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist()    OVER w, 6) AS cume
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment, c_nationkey
                 ORDER BY c_acctbal NULLS LAST, c_custkey)
    """,
)
def win_ntile_pctrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ntile/percent_rank/cume_dist per (segment × nation) cohort.

    Scale note (SURVEY §4.3, re-scoped round 10): exact rank-based
    quantiles need every cohort in one task — the grain must be chosen so
    a cohort fits. Segment alone (5 values) put corpus/5 rows in a single
    task, the one standing scale-killer shape in the r9 audit; the
    (c_mktsegment, c_nationkey) grain gives 125 cohorts, each ≤ corpus/125
    rows with near-uniform keys — bounded per-task work that survives a
    100× scale-up by adding executors. For *global* or coarse-grain exact
    quantiles at 100 TB, use the cutpoint pattern
    (``win_ntile_cutpoint`` / ``llm_curriculum_buckets``): tiny
    ``percentile`` agg → broadcast → map-side classify."""
    # NULLS LAST pinned explicitly (r15 null sweep): Spark defaults ASC
    # NULLS FIRST, DuckDB NULLS LAST — rank positions of a cohort with a
    # NULL balance silently differ unless the query chooses.
    w = Window.partitionBy("c_mktsegment", "c_nationkey").orderBy(
        F.asc_nulls_last("c_acctbal"), "c_custkey"
    )
    return t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.ntile(4).over(w).alias("quartile"),
        ratio(F.percent_rank().over(w)).alias("pct_rank"),
        ratio(F.cume_dist().over(w)).alias("cume"),
    )


@register(
    "win_first_last",
    oracle=f"""
    SELECT DISTINCT user_id, date_trunc('day', ts_us) AS day,
           first_value(value) OVER w AS first_val,
           last_value(value)  OVER w AS last_val
    FROM (SELECT user_id, value, event_id, {EVENTS_TS_US} AS ts_us FROM events) e
    WINDOW w AS (PARTITION BY user_id, date_trunc('day', ts_us)
                 ORDER BY ts_us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def win_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First and last event value per user-day (full-frame first/last)."""
    e = t(spark, sf_dir, "events").withColumn("day", F.date_trunc("day", "ts"))
    w = (
        Window.partitionBy("user_id", "day")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return e.select(
        "user_id",
        "day",
        F.first("value").over(w).alias("first_val"),
        F.last("value").over(w).alias("last_val"),
    ).distinct()


@register(
    "win_named_window",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(row_number() OVER w AS BIGINT) AS rn,
           round(sum(o_totalprice) OVER w, 2) AS running_spend,
           round(avg(o_totalprice) OVER w2, 2) AS avg_spend
    FROM orders
    WHERE o_custkey < 100
    WINDOW w  AS (PARTITION BY o_custkey
                  ORDER BY o_orderdate NULLS FIRST, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           w2 AS (PARTITION BY o_custkey)
    """,
)
def win_named_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL named-WINDOW clause: one spec declared once, referenced by
    several functions — parser surface for reusing a window definition.
    Both specs share the o_custkey partitioning, so Catalyst plans a
    single exchange for the two Window nodes."""
    from ..schemas import ensure_views

    ensure_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_custkey, o_orderkey,
               CAST(row_number() OVER w AS BIGINT) AS rn,
               round(sum(o_totalprice) OVER w, 2) AS running_spend,
               round(avg(o_totalprice) OVER w2, 2) AS avg_spend
        FROM orders
        WHERE o_custkey < 100
        WINDOW w  AS (PARTITION BY o_custkey
                      ORDER BY o_orderdate NULLS FIRST, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               w2 AS (PARTITION BY o_custkey)
        """
    )


@register(
    "win_ignore_nulls",
    oracle="""
    WITH base AS (
        SELECT o_custkey, o_orderkey, o_orderdate,
               CASE WHEN o_orderstatus = 'O' THEN NULL ELSE o_totalprice END AS settled
        FROM orders WHERE o_custkey < 200)
    SELECT o_custkey, o_orderkey,
           round(last_value(settled IGNORE NULLS) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate NULLS FIRST, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS last_settled,
           round(first_value(settled IGNORE NULLS) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate NULLS FIRST, o_orderkey), 2) AS first_settled
    FROM base
    """,
)
def win_ignore_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IGNORE NULLS window navigation: carry the last/first non-null
    settled price across a gappy series (open orders manufacture the
    NULLs) — the forward-fill primitive in its raw windowed form. One
    shuffle on o_custkey shared by both window functions."""
    o = t(spark, sf_dir, "orders").where(F.col("o_custkey") < 200)
    settled = F.when(F.col("o_orderstatus") == "O", None).otherwise(F.col("o_totalprice"))
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        money(
            F.last(settled, ignorenulls=True).over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
        ).alias("last_settled"),
        money(F.first(settled, ignorenulls=True).over(w)).alias("first_settled"),
    )


@register(
    "win_moving_median",
    oracle=f"""
    SELECT event_id,
           round(median(value) OVER (
               PARTITION BY user_id ORDER BY {EVENTS_TS_US}, event_id
               ROWS BETWEEN 10 PRECEDING AND CURRENT ROW), 6) AS med11
    FROM events WHERE user_id < 30
    """,
)
def win_moving_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving median over a trailing 11-row frame — the robust-smoothing
    counterpart of win_moving_avg (order statistics need the frame's
    values, not a running sum, so the engine re-ranks per frame; both
    engines interpolate percentile(0.5) identically). One shuffle on
    user_id."""
    e = t(spark, sf_dir, "events").where(F.col("user_id") < 30)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-10, Window.currentRow)
    )
    # median() is rejected inside a frame (ordered-set agg); percentile(0.5)
    # is the same interpolating statistic and frame-legal
    return e.select(
        "event_id",
        ratio(F.expr("percentile(value, 0.5)").over(w)).alias("med11"),
    )


@register(
    "win_session_window_fn",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, value, ts_us, event_id,
             CASE WHEN lag(ts_us) OVER w IS NULL
                  OR ts_us - lag(ts_us) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM (SELECT user_id, event_id, value, {EVENTS_TS_US} AS ts_us FROM events) e
      WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
    numbered AS (
      -- running sum MUST use the identical total order as the lag window:
      -- duplicate timestamps would otherwise order the flag row differently
      -- and split sessions differently from session_window()
      SELECT user_id, value, ts_us,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_no
      FROM flagged)
    SELECT user_id,
           min(ts_us) AS session_start,
           max(ts_us) + INTERVAL 30 MINUTE AS session_end,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS value_sum
    FROM numbered GROUP BY user_id, session_no
    """,
)
def win_session_window_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BUILT-IN session_window() in batch groupBy (the same function
    the streaming op uses, minus the watermark): events within a 30-min
    gap merge into one session struct whose end = last event + gap. The
    oracle is the manual gaps-and-islands formulation (ts_sessionize's
    shape) with end re-derived as max(ts)+gap — proving the built-in and
    the hand-rolled lowering agree session-for-session. One shuffle on
    (user, session) — Spark merges windows inside the aggregation."""
    e = t(spark, sf_dir, "events")
    sw = F.session_window("ts", "30 minutes")
    return (
        e.groupBy("user_id", sw)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money(F.sum("value")).alias("value_sum"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "value_sum",
        )
    )


@register(
    "win_time_range_frame",
    oracle="""
    SELECT event_id, user_id,
           CAST(count(*) OVER w AS BIGINT) AS n_1h,
           round(CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) OVER w AS DOUBLE)
                 / 100, 2) AS sum_1h
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
    """,
)
def win_time_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time RANGE frame: per-user trailing-1-hour event count and
    value sum at every event — the time-based (not row-based) sliding
    aggregate rate limiters and rolling-exposure monitors need. The frame
    is expressed on ``unix_micros(ts)`` with a 3.6e9-µs lower bound, which
    is exactly DuckDB's ``RANGE BETWEEN INTERVAL 1 HOUR PRECEDING``: range
    frames bound the ORDER-BY *value*, so tied timestamps land in the same
    frame on both engines (no tie-break key needed). One shuffle on
    user_id; values are summed as integer cents inside the frame so
    accumulation order can't produce half-cent float drift."""
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-3_600_000_000, 0)
    )
    e = t(spark, sf_dir, "events").withColumn(
        "v_cents", F.round(F.col("value") * 100, 0).cast("bigint")
    )
    return e.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.round(F.sum("v_cents").over(w).cast("double") / 100, 2).alias("sum_1h"),
    )


@register(
    "win_distinct_rolling",
    oracle="""
    SELECT event_id,
           CAST(len(list_distinct(list(event_type) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 9 PRECEDING AND CURRENT ROW))) AS BIGINT) AS n_types_10
    FROM events
    """,
)
def win_distinct_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling COUNT(DISTINCT) over a window — behavioral-diversity signal
    (how many distinct event types in the user's last 10 events). Spark has
    no count(DISTINCT) window function; the idiomatic lowering is
    size(array_distinct(collect_list() over frame)), which keeps the frame
    buffer bounded by the ROWS width (10 here) — state is O(frame), not
    O(partition), so it scales like any other bounded-frame window. The
    oracle uses DuckDB's windowed list()/list_distinct pair, the same
    lowering in its dialect."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-9, Window.currentRow)
    )
    return t(spark, sf_dir, "events").select(
        "event_id",
        F.size(F.array_distinct(F.collect_list("event_type").over(w)))
        .cast("long")
        .alias("n_types_10"),
    )


def _range_prefix(df: DataFrame, order_exprs, sum_col: str):
    """Distributed exact prefix machinery (no single-task global sort).

    Range-partitions ``df`` by ``order_exprs`` — the desired GLOBAL sort
    order — so that global order becomes (partition id, within-partition
    order); pins the partitioning with an eager ``localCheckpoint`` so the
    offsets job and the consuming job see identical partition contents;
    then computes per-partition EXCLUSIVE offsets of ``count(*)`` and
    ``sum(sum_col)`` driver-side.  The collect is O(#shuffle-partitions)
    rows — cluster-sized, never data-sized — the same bounded-staging
    class as the scan/join conf stagings the plan-hygiene audit allows.

    Returns ``(part, grand_cnt, grand_sum)`` where ``part`` carries
    ``_pid``, ``_cnt_off``, ``_sum_off`` columns.  A window partitioned by
    ``_pid`` with the same ordering then reconstructs exact global ranks
    (``_cnt_off + row_number()``) and exact global running sums
    (``_sum_off + sum().over()``) with every partition sorting in
    parallel — this is how cumulative-share ops stay exact at 10⁸–10⁹
    entities where a bare ``Window.orderBy`` would single-task the sort.
    Output is invariant to where the sampled range boundaries fall, so
    run-to-run boundary jitter cannot change results.
    """
    spark = df.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    part = (
        df.repartitionByRange(n_parts, *order_exprs)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint()
    )
    rows = sorted(
        part.groupBy("_pid")
        .agg(F.count(F.lit(1)).alias("_n"), F.sum(sum_col).alias("_s"))
        .collect(),
        key=lambda r: r["_pid"],
    )
    cnt_off = 0
    sum_off = 0
    data = []
    for r in rows:
        data.append((r["_pid"], cnt_off, sum_off))
        cnt_off += r["_n"]
        sum_off += r["_s"]
    off = spark.createDataFrame(
        data, "_pid int, _cnt_off bigint, _sum_off bigint"
    )
    return part.join(F.broadcast(off), "_pid"), cnt_off, sum_off


@register(
    "win_pareto_abc",
    oracle="""
    WITH spend AS (
      SELECT o_custkey, CAST(round(sum(o_totalprice) * 100, 0) AS BIGINT) AS cents
      FROM orders GROUP BY o_custkey),
    ranked AS (
      SELECT o_custkey, cents,
             sum(cents) OVER (ORDER BY cents DESC, o_custkey
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_cents,
             sum(cents) OVER () AS tot_cents
      FROM spend),
    classed AS (
      SELECT CASE WHEN run_cents * 100 <= tot_cents * 80 THEN 'A'
                  WHEN run_cents * 100 <= tot_cents * 95 THEN 'B'
                  ELSE 'C' END AS abc_class,
             cents
      FROM ranked)
    SELECT abc_class,
           CAST(count(*) AS BIGINT) AS n_customers,
           round(sum(cents) / 100.0, 2) AS class_revenue
    FROM classed GROUP BY abc_class
    """,
)
def win_pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / ABC classification: customers ranked by spend, cut at 80%
    and 95% of CUMULATIVE revenue share — the inventory-analytics
    classic ("which 20% of customers drive 80% of revenue"). Arithmetic
    is integer cents with integer cross-multiplied thresholds
    (run*100 <= tot*80), so the class boundaries are engine-exact — no
    float share ever compared. Scale shape (r3 verdict item #2): the
    cumulative share needs a GLOBAL order over entities, but NOT a
    single-task sort — ``_range_prefix`` range-partitions the entity
    aggregate on (cents desc, custkey), every partition sorts in
    parallel, and exact global running sums are reconstructed as
    broadcast per-partition offsets + within-partition prefix. The only
    windows in the plan are partitioned by ``_pid``; the fact table is
    never globally sorted and no task ever sees more than ~1/parts of
    the entities."""
    spend = (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice") * 100, 0).cast("bigint").alias("cents"))
    )
    order = [F.col("cents").desc(), F.col("o_custkey").asc()]
    part, _n_all, tot_cents = _range_prefix(spend, order, "cents")
    w_run = (
        Window.partitionBy("_pid")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = part.select(
        "cents",
        (F.col("_sum_off") + F.sum("cents").over(w_run)).alias("run_cents"),
    )
    classed = ranked.select(
        F.when(F.col("run_cents") * 100 <= F.lit(tot_cents) * 80, "A")
        .when(F.col("run_cents") * 100 <= F.lit(tot_cents) * 95, "B")
        .otherwise("C")
        .alias("abc_class"),
        "cents",
    )
    return classed.groupBy("abc_class").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.sum("cents") / 100.0, 2).alias("class_revenue"),
    )


@register(
    "agg_gini_concentration",
    oracle="""
    WITH spend AS (
      SELECT o_custkey, CAST(round(sum(o_totalprice) * 100, 0) AS BIGINT) AS cents
      FROM orders GROUP BY o_custkey),
    ranked AS (
      SELECT cents,
             row_number() OVER (ORDER BY cents, o_custkey) AS i,
             count(*) OVER () AS n,
             sum(cents) OVER () AS tot
      FROM spend)
    SELECT CAST(max(n) AS BIGINT) AS n_customers,
           round(2.0 * sum(CAST(i AS DECIMAL(38,0)) * cents)
                     / (max(n) * 1.0 * max(tot))
                 - (max(n) + 1.0) / max(n), 6) AS gini
    FROM ranked
    """,
)
def agg_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer spend — the concentration /
    inequality KPI that quantifies what win_pareto_abc classifies, via
    the rank formula G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n over ascending-sorted
    totals. All mass terms stay exact integers: cents is BIGINT and the
    Σ i·xᵢ mass term is accumulated as DECIMAL(38,0) on both engines
    (DuckDB would promote to HUGEINT while a Spark LongType sum passes
    2^63 around ~1M customers — ANSI overflow or silent wrap), so the op
    stays exact at any cardinality; only the final divisions are float,
    absorbed by round-6 (the n·Σx denominator is evaluated in double on
    both sides — ~1e-16 relative error, invisible at 6 decimals). Scale
    shape (r3 verdict item #2): the ascending global rank ``i`` is
    reconstructed exactly via ``_range_prefix`` — range-partition on
    (cents, custkey), broadcast per-partition count offsets, and
    ``_cnt_off + row_number()`` inside partitions that sort in parallel;
    no unpartitioned window anywhere in the plan, so the op stays exact
    AND scalable at 10⁸⁺ entities."""
    spend = (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice") * 100, 0).cast("bigint").alias("cents"))
    )
    order = [F.col("cents").asc(), F.col("o_custkey").asc()]
    part, _n_all, _tot = _range_prefix(spend, order, "cents")
    w_rank = Window.partitionBy("_pid").orderBy(*order)
    ranked = part.select(
        "cents",
        (F.col("_cnt_off") + F.row_number().over(w_rank)).alias("i"),
    )
    n = F.count(F.lit(1))
    tot = F.sum("cents")
    return ranked.agg(
        n.alias("n_customers"),
        ratio(
            F.lit(2.0)
            * F.sum(F.col("i").cast("decimal(38,0)") * F.col("cents"))
            / (n.cast("double") * tot.cast("double"))
            - (n + F.lit(1.0)) / n
        ).alias("gini"),
    )


@register(
    "win_ntile_cutpoint",
    oracle="""
    WITH cuts AS (
      SELECT c_mktsegment,
             round(quantile_cont(c_acctbal, 0.25), 9) AS q1,
             round(quantile_cont(c_acctbal, 0.50), 9) AS q2,
             round(quantile_cont(c_acctbal, 0.75), 9) AS q3
      FROM customer GROUP BY c_mktsegment),
    bucketed AS (
      SELECT c.c_mktsegment,
             CAST(1 + CAST(c.c_acctbal > k.q1 AS INT)
                    + CAST(c.c_acctbal > k.q2 AS INT)
                    + CAST(c.c_acctbal > k.q3 AS INT) AS INT) AS quartile,
             c.c_acctbal
      FROM customer c JOIN cuts k USING (c_mktsegment))
    SELECT c_mktsegment, quartile,
           CAST(count(*) AS BIGINT) AS n_customers,
           round(min(c_acctbal), 2) AS min_bal,
           round(max(c_acctbal), 2) AS max_bal,
           round(avg(c_acctbal), 2) AS avg_bal
    FROM bucketed GROUP BY c_mktsegment, quartile
    """,
)
def win_ntile_cutpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment quartile bucketing via CUTPOINTS — the documented
    scalable twin of ``win_ntile_pctrank`` (r3 verdict item #2). Where
    the exact window battery must sort corpus/5 rows in one task per
    segment, this op computes per-segment exact ``percentile`` cutpoints
    (a |segments|-row aggregate — mergeable ``approx_percentile``/
    t-digest at 100 TB), broadcast-joins them on the segment key, and
    buckets every customer MAP-SIDE by value comparison. Value-based
    buckets (ties land together) rather than row-count ntile — the
    semantics that survive scale. Cutpoints round to 9 dp on both
    engines so a 1-ulp interpolation difference between Spark
    ``percentile`` and DuckDB ``quantile_cont`` can't flip a boundary
    (c_acctbal is on a 1e-2 grid)."""
    cust = t(spark, sf_dir, "customer")
    cuts = cust.groupBy("c_mktsegment").agg(
        F.round(F.expr("percentile(c_acctbal, 0.25)"), 9).alias("q1"),
        F.round(F.expr("percentile(c_acctbal, 0.50)"), 9).alias("q2"),
        F.round(F.expr("percentile(c_acctbal, 0.75)"), 9).alias("q3"),
    )
    bucketed = cust.join(F.broadcast(cuts), "c_mktsegment").select(
        "c_mktsegment",
        (
            F.lit(1)
            + (F.col("c_acctbal") > F.col("q1")).cast("int")
            + (F.col("c_acctbal") > F.col("q2")).cast("int")
            + (F.col("c_acctbal") > F.col("q3")).cast("int")
        ).cast("int").alias("quartile"),
        "c_acctbal",
    )
    return bucketed.groupBy("c_mktsegment", "quartile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        money(F.min("c_acctbal")).alias("min_bal"),
        money(F.max("c_acctbal")).alias("max_bal"),
        money(F.avg("c_acctbal")).alias("avg_bal"),
    )


@register(
    "win_max_drawdown",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY event_type, CAST(ts AS DATE)),
    curve AS (
      SELECT event_type, d,
             sum(cents) OVER (PARTITION BY event_type ORDER BY d
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS equity
      FROM daily),
    dd AS (
      SELECT event_type, d, equity,
             max(equity) OVER (PARTITION BY event_type ORDER BY d
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS peak
      FROM curve)
    SELECT event_type,
           round(CAST(max(peak - equity) AS DOUBLE) / 100, 2) AS max_drawdown,
           round(CAST(max(equity) AS DOUBLE) / 100, 2) AS final_peak,
           CAST(min(CASE WHEN peak - equity =
                  (SELECT max(d2.peak - d2.equity) FROM dd d2
                   WHERE d2.event_type = dd.event_type)
                  THEN d END) AS VARCHAR) AS worst_day
    FROM dd GROUP BY event_type
    """,
)
def win_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per series (the risk-analytics window pattern):
    daily integer-cents equity curve → running peak (cumulative max
    window) → max(peak − equity), plus the first day the worst drawdown
    occurs. All arithmetic is exact int64 cents; floats appear only in
    the final /100 report. Two stacked unbounded-preceding windows over
    the DAILY grain, partitioned by series — raw events aggregate first,
    so the window input is |series × days| rows regardless of corpus
    size."""
    return sql_q(
        spark,
        sf_dir,
        """
        WITH daily AS (
          SELECT event_type, CAST(ts AS DATE) AS d,
                 CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
          FROM events GROUP BY event_type, CAST(ts AS DATE)),
        curve AS (
          SELECT event_type, d,
                 sum(cents) OVER (PARTITION BY event_type ORDER BY d
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS equity
          FROM daily),
        dd AS (
          SELECT event_type, d, equity,
                 max(equity) OVER (PARTITION BY event_type ORDER BY d
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS peak
          FROM curve)
        SELECT event_type,
               round(CAST(max(peak - equity) AS DOUBLE) / 100, 2) AS max_drawdown,
               round(CAST(max(equity) AS DOUBLE) / 100, 2) AS final_peak,
               CAST(min(CASE WHEN peak - equity =
                      (SELECT max(d2.peak - d2.equity) FROM dd d2
                       WHERE d2.event_type = dd.event_type)
                      THEN d END) AS STRING) AS worst_day
        FROM dd GROUP BY event_type
        """,
    )


@register(
    "win_rolling_corr",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d,
             round(sum(CASE WHEN event_type = 'click' THEN value ELSE 0 END), 2)
               AS clicks,
             round(sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END), 2)
               AS purchases
      FROM events GROUP BY CAST(ts AS DATE)),
    rolled AS (
      SELECT d, clicks, purchases,
             round(corr(clicks, purchases) OVER (
               ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6)
               AS corr_7d,
             count(*) OVER (
               ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS n_win
      FROM daily)
    SELECT CAST(d AS VARCHAR) AS d, clicks, purchases, corr_7d
    FROM rolled WHERE n_win = 7
    """,
)
def win_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day correlation between two co-movement series (click vs
    purchase daily volume) — the co-integration drift monitor: a stable
    pair decorrelating is an earlier alarm than either series alone.
    corr() as a WINDOW aggregate over the daily rollup; the window input
    is |days| rows (bounded grain — the one legal unpartitioned-window
    class), warm-up rows dropped by the frame-count guard so every
    emitted value is a full 7-day window."""
    return sql_q(
        spark,
        sf_dir,
        """
        WITH daily AS (
          SELECT CAST(ts AS DATE) AS d,
                 round(sum(CASE WHEN event_type = 'click' THEN value ELSE 0 END), 2)
                   AS clicks,
                 round(sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END), 2)
                   AS purchases
          FROM events GROUP BY CAST(ts AS DATE)),
        rolled AS (
          SELECT d, clicks, purchases,
                 round(corr(clicks, purchases) OVER (
                   ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6)
                   AS corr_7d,
                 count(*) OVER (
                   ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS n_win
          FROM daily)
        SELECT CAST(d AS STRING) AS d, clicks, purchases, corr_7d
        FROM rolled WHERE n_win = 7
        """,
    )


#: Rolling mean/stddev run on FIXED-POINT integers (4-dp grid): sliding
#: window aggregates use incremental add/remove accumulators whose float
#: drift differs between engines (observed 1e-5 at sf0.001); integer sums
#: are exact, and the statistic is closed-form from (n, Σx, Σx²).
_BOLLINGER_SQL = """
    WITH daily AS (
      SELECT event_type, date_trunc('day', {ts}) AS d,
             CAST(round(avg(value) * 10000, 0) AS BIGINT) AS v4
      FROM events GROUP BY event_type, date_trunc('day', {ts})),
    acc AS (
      SELECT event_type, d, v4,
             count(*) OVER w AS n_win,
             sum(v4) OVER w AS s1,
             sum(v4 * v4) OVER w AS s2
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY d
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)),
    bands AS (
      SELECT event_type, d, v4,
             CAST(s1 AS DOUBLE) / 7 / 10000 AS ma,
             sqrt((7.0 * s2 - CAST(s1 AS DOUBLE) * s1) / (7 * 6)) / 10000 AS sd
      FROM acc WHERE n_win = 7)
    SELECT event_type, d, round(CAST(v4 AS DOUBLE) / 10000, 4) AS v,
           round(ma, 6) AS ma,
           round(ma + 2 * sd, 6) AS upper_band,
           round(ma - 2 * sd, 6) AS lower_band,
           CASE WHEN v4 > (ma + 2 * sd) * 10000 THEN 1
                WHEN v4 < (ma - 2 * sd) * 10000 THEN -1 ELSE 0 END AS breakout
    FROM bands
"""


@register(
    "win_bollinger_bands",
    oracle=_BOLLINGER_SQL.format(ts="CAST(ts AS TIMESTAMP)"),
)
def win_bollinger_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands (7-day moving mean ± 2 rolling sample stddevs) over
    the per-type daily value series, with a breakout flag when the day
    closes outside its band — the volatility-envelope monitor that pairs
    with ts_anomaly's z-score (which uses a LAGGED window; this one is
    inclusive, the charting convention). Window input is the daily rollup
    (|days| × |types| rows — bounded grain), partitioned by type: one
    shuffle for the rollup, one for the window, rows requiring a full
    7-day frame only so both engines agree at the series head. The
    rolling moments accumulate in 4-dp fixed-point integers — sliding
    frames use add/remove float accumulators whose drift differs per
    engine, while integer (n, Σx, Σx²) is exact and the band is closed
    form from it."""
    return sql_q(spark, sf_dir, _BOLLINGER_SQL.format(ts="ts"))


_DECAY_SQL = """
    WITH anchor AS (SELECT max({ts}) AS t_max FROM events),
    scored AS (
      SELECT user_id,
             exp(-CAST({epoch_diff} AS DOUBLE) / 86400.0 / 7.0) AS w,
             value
      FROM events CROSS JOIN anchor
      WHERE user_id IS NOT NULL)
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(w), 6) AS decayed_count,
           round(sum(w * value), 2) AS decayed_value
    FROM scored GROUP BY user_id
    ORDER BY decayed_value DESC, user_id
    LIMIT 10
"""


@register(
    "win_exponential_decay_score",
    oracle=_DECAY_SQL.format(
        ts="CAST(ts AS TIMESTAMP)",
        epoch_diff="epoch_us(anchor.t_max) - epoch_us(CAST(ts AS TIMESTAMP))",
    ).replace("CROSS JOIN anchor", "CROSS JOIN anchor AS anchor"),
)
def win_exponential_decay_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed engagement score per user (half-life ≈
    one week of e-folding: w = exp(−age_days/7), anchored at the corpus
    max timestamp so the score is reproducible, not wall-clock-dependent)
    — the recency-weighted ranking every feed/recommender maintains,
    expressed as ONE aggregation: the decay weight is a map-side scalar,
    so the op is a scan + 1-row anchor broadcast + user_id groupBy +
    TakeOrdered(10). No window function at all — decay-sum needs no
    ordering, which is what makes it cheaper than last-N schemes at
    100 TB."""
    return sql_q(
        spark,
        sf_dir,
        _DECAY_SQL.format(
            ts="ts",
            epoch_diff="unix_micros(anchor.t_max) - unix_micros(ts)",
        ).replace("CROSS JOIN anchor", "CROSS JOIN anchor AS anchor"),
    )


_ROLLSLOPE_SQL = """
    WITH daily AS (
      SELECT event_type,
             CAST(extract(day FROM ts) AS INT) AS d,
             sum(value) AS y
      FROM events GROUP BY 1, 2),
    rolled AS (
      SELECT event_type, d, y,
             count(*) OVER w AS n,
             sum(CAST(d AS DOUBLE)) OVER w AS sx,
             sum(y) OVER w AS sy,
             sum(CAST(d AS DOUBLE) * y) OVER w AS sxy,
             sum(CAST(d AS DOUBLE) * CAST(d AS DOUBLE)) OVER w AS sxx
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY d
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
    SELECT event_type, d AS day,
           round(y, 2) AS daily_value,
           CAST(n AS INT) AS n_window,
           round(CASE WHEN n * sxx - sx * sx = 0 THEN 0.0
                      ELSE (n * sxy - sx * sy) / (n * sxx - sx * sx)
                 END, 6) AS slope_7d
    FROM rolled ORDER BY event_type, d
"""


@register("win_rolling_slope", oracle=_ROLLSLOPE_SQL)
def win_rolling_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day OLS trend slope of daily value per event type — the
    'is this metric accelerating' readout computed WITHOUT a per-window
    regression call: the closed-form slope (nΣxy − ΣxΣy)/(nΣx² − (Σx)²)
    needs only four running sums, so one named WINDOW over the
    |types × days| rollup produces every day's slope in a single pass
    (rollup-then-window layering: the corpus collapses to day grain
    first, the frames never touch row grain). Zero-variance frames
    (n=1) emit slope 0 by convention in both engines."""
    return sql_q(spark, sf_dir, _ROLLSLOPE_SQL)


_RSI_SQL = """
    WITH d AS (
      SELECT date_trunc('day', ts) AS day,
             sum(CAST(round(value * 100) AS BIGINT)) AS cents
      FROM events GROUP BY date_trunc('day', ts)),
    dl AS (
      SELECT day, cents,
             cents - lag(cents) OVER (ORDER BY day) AS delta,
             row_number() OVER (ORDER BY day) AS rn
      FROM d),
    g AS (
      SELECT day, rn,
             CASE WHEN delta > 0 THEN delta ELSE 0 END AS gain,
             CASE WHEN delta < 0 THEN -delta ELSE 0 END AS loss
      FROM dl),
    w AS (
      SELECT day, rn,
             avg(gain) OVER (ORDER BY day
                             ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS ag,
             avg(loss) OVER (ORDER BY day
                             ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS al
      FROM g)
    SELECT day,
           round(ag, 2) AS avg_gain_cents,
           round(al, 2) AS avg_loss_cents,
           round(CASE WHEN al = 0 THEN 100
                      ELSE 100 - 100 / (1 + ag / al) END, 6) AS rsi_14
    FROM w
    WHERE rn >= 15
    ORDER BY day
"""


@register("win_rsi", oracle=_RSI_SQL)
def win_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative Strength Index over daily revenue (Cutler's SMA variant —
    the simple-moving-average form, chosen over Wilder's recursive
    smoothing because it is exactly expressible as a 14-row window frame
    with no running recurrence, so Spark and DuckDB agree bit-for-bit
    on integer-cents input). Day-over-day deltas split into gain/loss
    legs, 14-day trailing averages, RSI = 100 − 100/(1+RS); the
    all-loss-free edge (avg_loss = 0) pins RSI to 100 exactly. Emitted
    only once 14 true deltas exist (rn ≥ 15). Scale shape: one linear
    day rollup, then every window runs on the ≤31-row day grain — the
    win_moving_avg bounded-grain discipline (global window allowlisted
    for exactly that reason)."""
    return sql_q(spark, sf_dir, _RSI_SQL)


_STOCH_SQL = """
    WITH d AS (
      SELECT date_trunc('day', ts) AS day,
             sum(CAST(round(value * 100) AS BIGINT)) AS cents
      FROM events GROUP BY date_trunc('day', ts)),
    w AS (
      SELECT day, cents,
             min(cents) OVER (ORDER BY day
                              ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS lo14,
             max(cents) OVER (ORDER BY day
                              ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS hi14,
             count(*) OVER (ORDER BY day
                            ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS nw
      FROM d),
    k AS (
      SELECT day, nw,
             round(100e0 * (cents - lo14) / (hi14 - lo14), 6) AS pct_k
      FROM w WHERE hi14 > lo14),
    s AS (
      SELECT day, nw, pct_k,
             avg(pct_k) OVER (ORDER BY day
                              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS pct_d,
             count(*) OVER (ORDER BY day
                            ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS nd
      FROM k)
    SELECT day, pct_k, round(pct_d, 6) AS pct_d,
           CASE WHEN pct_k > 80 THEN 'overbought'
                WHEN pct_k < 20 THEN 'oversold' ELSE 'neutral' END AS signal
    FROM s
    WHERE nw = 14 AND nd = 3
    ORDER BY day
"""


@register("win_stochastic_oscillator", oracle=_STOCH_SQL)
def win_stochastic_oscillator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stochastic oscillator (%K / %D) over daily revenue: %K = 100 *
    (close - 14-day low) / (14-day high - 14-day low), %D = 3-day SMA
    of %K, with the classic overbought/oversold bands — the momentum
    indicator shape (rolling extrema + a window over a window-derived
    series). Daily revenue is summed in integer cents so min/max/diffs
    are exact on both engines; the only floating division is the final
    ratio, rounded at 6. Full-window gating (nw = 14, nd = 3) instead
    of NULL-padded warmup rows. Scale shape: one linear day rollup,
    then every frame runs on the <=31-row day grain (win_moving_avg
    bounded-grain discipline, global window allowlisted)."""
    return sql_q(spark, sf_dir, _STOCH_SQL)


_VWAP_SQL = """
    WITH d AS (
      SELECT date_trunc('month', l_shipdate) AS month,
             date_trunc('day', l_shipdate) AS day,
             sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS pv_cents,
             sum(CAST(round(l_quantity) AS BIGINT)) AS vol
      FROM lineitem
      GROUP BY date_trunc('month', l_shipdate), date_trunc('day', l_shipdate)),
    c AS (
      SELECT month, day,
             sum(pv_cents) OVER (PARTITION BY month ORDER BY day
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS cum_pv,
             sum(vol) OVER (PARTITION BY month ORDER BY day
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum_vol,
             pv_cents, vol
      FROM d)
    SELECT month, day,
           round(pv_cents / 100e0 / vol, 6) AS day_avg_price,
           round(cum_pv / 100e0 / cum_vol, 6) AS vwap_anchored,
           CAST(pv_cents * 1e0 / vol > cum_pv * 1e0 / cum_vol AS BOOLEAN)
             AS above_vwap
    FROM c
    ORDER BY month, day
"""


@register("win_vwap_anchored", oracle=_VWAP_SQL)
def win_vwap_anchored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-anchored VWAP over lineitem: cumulative volume-weighted
    average unit price within each ship month (anchor resets at month
    start), plus the day-above-VWAP execution flag — the canonical
    anchored-VWAP shape every execution-analytics stack computes.
    Both running sums accumulate exact integers (price-volume in cents,
    volume in units) so the two engines' running-sum association order
    cannot produce differing floats; the division happens once per
    output row. Scale shape: one linear (month, day) rollup collapses
    the fact table to calendar grain (<=84 months x 31 days regardless
    of SF), then the window partitions by month — dozens of rows per
    partition, no global window, no skew."""
    return sql_q(spark, sf_dir, _VWAP_SQL)

"""Relational + event-stream operator coverage on the TPC-H-ish tables.

The reference has no relational engine (SURVEY.md §2.2) — these queries
prove the new engine's general operator surface: scan/filter/project
pushdown, partial+final aggregation, broadcast joins, window functions,
top-k, and gap-based sessionization (the batch analog of session windows).

Float discipline: double columns are cast to DECIMAL before SUM so the
result is independent of partial-aggregation order (Spark) vs sequential
order (DuckDB) — then cast back to double for a stable comparable output.
Time discipline: only timestamp *differences* are used (timezone-free);
no epoch or date_trunc calls that depend on the session timezone.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from ._scan import read_table

SESSION_GAP_S = 1800


# -- TPC-H Q1-style aggregation -----------------------------------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    dq = F.col("l_quantity").cast("decimal(18,2)")
    dp = F.col("l_extendedprice").cast("decimal(18,2)")
    dd = F.col("l_discount").cast("decimal(18,2)")
    return (li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum(dq).cast("double").alias("sum_qty"),
                 F.sum(dp).cast("double").alias("sum_base_price"),
                 F.sum(dp * (F.lit(1).cast("decimal(18,2)") - dd))
                  .cast("double").alias("sum_disc_price"),
                 F.count(F.lit(1)).alias("count_order")))


SQL_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
            AS DOUBLE) AS sum_disc_price,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


# -- broadcast dimension join ----------------------------------------------------

def q_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per market segment: lineitem ⋈ orders ⋈ broadcast(customer).
    The dims broadcast (no shuffle of the fact table for the join)."""
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    rev = (F.col("l_extendedprice").cast("decimal(18,2)")
           * (F.lit(1).cast("decimal(18,2)")
              - F.col("l_discount").cast("decimal(18,2)")))
    return (li.join(F.broadcast(o), li.l_orderkey == o.o_orderkey)
            .join(F.broadcast(c), o.o_custkey == c.c_custkey)
            .groupBy("c_mktsegment")
            .agg(F.sum(rev).cast("double").alias("revenue"),
                 F.countDistinct("o_orderkey").alias("n_orders")))


SQL_SEGMENT_REVENUE = """
SELECT c_mktsegment,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
            AS DOUBLE) AS revenue,
       count(DISTINCT o_orderkey) AS n_orders
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


# -- deterministic top-k -----------------------------------------------------------

def q_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed deterministic top-k: orderBy().limit(k) plans a
    TakeOrderedAndProject (per-partition top-k + tiny driver merge) — never
    a global single-task row_number window, which would shuffle every row
    to one reducer.  The rank window afterwards runs on k rows only."""
    o = read_table(spark, sf_dir, "orders")
    order_cols = [F.col("o_totalprice").desc(), F.col("o_orderkey")]
    top = (o.select("o_orderkey", "o_totalprice", "o_orderpriority")
           .orderBy(*order_cols).limit(10))
    w = W.orderBy(*order_cols)
    return (top.withColumn("rank", F.row_number().over(w).cast("bigint"))
            .select("rank", "o_orderkey", "o_totalprice", "o_orderpriority"))


SQL_TOP_ORDERS = """
SELECT rank, o_orderkey, o_totalprice, o_orderpriority FROM (
  SELECT o_orderkey, o_totalprice, o_orderpriority,
         row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rank
  FROM orders
) WHERE rank <= 10
"""


# -- gap-based sessionization (batch analog of session windows) ---------------------

def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    # microsecond precision: second-level diffs truncate differently across
    # engines on sub-second timestamps
    gap = F.expr("timestampdiff(MICROSECOND, prev_ts, ts)")
    ev = ev.withColumn("prev_ts", prev)
    new_sess = F.when(prev.isNull() | (gap > SESSION_GAP_S * 1_000_000),
                      1).otherwise(0)
    sess = (ev.withColumn("new_sess", new_sess)
            .withColumn("session_seq",
                        F.sum("new_sess").over(
                            w.rowsBetween(W.unboundedPreceding, 0))))
    return (sess.groupBy("user_id")
            .agg(F.max("session_seq").alias("n_sessions"),
                 F.count(F.lit(1)).alias("n_events")))


SQL_SESSIONIZE = f"""
WITH g AS (
  SELECT user_id, event_id, ts,
         date_diff('microsecond',
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                   ts) AS gap
  FROM events
),
flags AS (
  SELECT user_id, event_id, ts,
         CASE WHEN gap IS NULL OR gap > {SESSION_GAP_S}::BIGINT * 1000000
              THEN 1 ELSE 0 END AS new_sess
  FROM g
),
sess AS (
  SELECT user_id,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM flags
)
SELECT user_id, CAST(max(session_seq) AS BIGINT) AS n_sessions, count(*) AS n_events
FROM sess GROUP BY user_id
"""


# -- tumbling-window aggregation (timezone-free bucketing) ---------------------------

def q_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly tumbling counts per event_type, bucketed by seconds since the
    corpus min(ts) — timezone-free, identical in any engine."""
    ev = read_table(spark, sf_dir, "events")
    m = ev.agg(F.min("ts").alias("t0"))
    bucket = F.floor(F.expr("timestampdiff(MICROSECOND, t0, ts)")
                     / 3_600_000_000.0)
    return (ev.crossJoin(F.broadcast(m))
            .groupBy(bucket.cast("bigint").alias("hour_bucket"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.col("value").cast("decimal(18,4)"))
                  .cast("double").alias("sum_value")))


SQL_TUMBLING_HOURLY = f"""
WITH m AS (SELECT min(ts) AS t0 FROM events)
SELECT CAST(floor(date_diff('microsecond', m.t0, ts) / 3600000000.0) AS BIGINT) AS hour_bucket,
       event_type,
       count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events, m
GROUP BY 1, 2
"""


# -- as-of join (event attribution) -------------------------------------------

def q_asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join — an operator Spark has no native node for (DuckDB: ASOF
    JOIN; kdb: aj): attribute every purchase event to the LATEST click by
    the same user at or before the purchase time.

    Spark-first composition instead of the naive inequality join (which
    plans as a per-user pair fan-out and then a max — O(clicks x
    purchases) per user): both sides are unioned into one keyed stream,
    shuffled ONCE on user_id, and merge-scanned by a running
    last(click, ignorenulls) window over (ts, side, event_id) — clicks
    sort before purchases at equal ts, so an exactly-simultaneous click
    attaches.  Cost is one shuffle + one in-partition sort, independent
    of the click/purchase ratio.  Skew: a hot user's partition is
    bounded by their event count; at adversarial per-user volumes the
    stream range-partitions on (user_id, ts) with each slice seeded by
    its predecessor's last click — same operator, one extra boundary
    pass.  Output carries the attribution lag in microseconds rather
    than raw timestamps (timezone-free, module discipline)."""
    ev = read_table(spark, sf_dir, "events")
    sides = (ev.filter(F.col("event_type").isin("click", "purchase"))
             .select("user_id", "ts", "event_id",
                     (F.col("event_type") == "purchase").alias("is_left")))
    w = (W.partitionBy("user_id")
         .orderBy("ts", "is_left", "event_id")
         .rowsBetween(W.unboundedPreceding, 0))
    click = F.when(~F.col("is_left"),
                   F.struct(F.col("event_id").alias("click_id"),
                            F.col("ts").alias("cts")))
    return (sides.withColumn("lc", F.last(click, ignorenulls=True).over(w))
            .filter("is_left")
            .select(F.col("event_id").alias("purchase_id"), "user_id",
                    F.col("lc.click_id").alias("click_id"),
                    F.expr("timestampdiff(MICROSECOND, lc.cts, ts)")
                     .alias("gap_us")))


SQL_ASOF_ATTRIBUTION = """
WITH c AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
p AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase')
SELECT p.event_id AS purchase_id, p.user_id, c.event_id AS click_id,
       date_diff('microsecond', c.ts, p.ts) AS gap_us
FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
"""


# -- range join (point-in-interval) -------------------------------------------

RANGE_N_WINDOWS = 24
RANGE_STRIDE_US = 1_800_000_000   # windows start every 30 min ...
RANGE_LEN_US = 3_600_000_000      # ... and last 1 h, so they OVERLAP


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join — events against overlapping time intervals (campaign /
    outage / maintenance windows).  Spark plans the naive inequality join
    `e.ts >= w.start AND e.ts < w.end` as a nested-loop over every
    (event, window) pair — O(|E|x|W|); engines with native range joins
    (DuckDB, or Databricks' range-join hint) bin internally.  This is
    that binning made explicit: intervals explode into the fixed-width
    time buckets they cover (bounded fan-out: len/bucket + 1 rows per
    window), events bucket narrowly, the join is EQUI on bucket with the
    interval test as a residual filter — a hash join at any scale, and
    overlapping windows fall out for free (an event matches via each
    window's own bucket row).  Interval positions are integer micros
    since the corpus min(ts) (timezone-free, module discipline); the
    window table is generated, deterministic, and at real scale would be
    the scan of an interval dimension table instead."""
    ev = read_table(spark, sf_dir, "events")
    m = ev.agg(F.min("ts").alias("t0"))
    e = (ev.crossJoin(F.broadcast(m))
         .select("event_id", "value",
                 F.expr("timestampdiff(MICROSECOND, t0, ts)").alias("tus"))
         .withColumn("bucket", F.floor(F.col("tus") / F.lit(RANGE_LEN_US))))
    wins = spark.range(RANGE_N_WINDOWS).select(
        F.col("id").alias("win_id"),
        (F.col("id") * RANGE_STRIDE_US).alias("ws"),
        (F.col("id") * RANGE_STRIDE_US + RANGE_LEN_US).alias("we"))
    wb = wins.select(
        "win_id", "ws", "we",
        F.explode(F.sequence(
            F.floor(F.col("ws") / F.lit(RANGE_LEN_US)),
            F.floor((F.col("we") - 1) / F.lit(RANGE_LEN_US))))
        .alias("bucket"))
    return (e.join(wb, "bucket")
            .filter((F.col("tus") >= F.col("ws"))
                    & (F.col("tus") < F.col("we")))
            .groupBy("win_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum(F.col("value").cast("decimal(18,4)"))
                 .cast("double").alias("sum_value")))


SQL_RANGE_JOIN = f"""
WITH m AS (SELECT min(ts) AS t0 FROM events),
e AS (SELECT event_id, value, date_diff('microsecond', m.t0, ts) AS tus
      FROM events, m),
w AS (SELECT i AS win_id, i * {RANGE_STRIDE_US} AS ws,
             i * {RANGE_STRIDE_US} + {RANGE_LEN_US} AS we
      FROM generate_series(0, {RANGE_N_WINDOWS - 1}) AS t(i))
SELECT win_id, count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM e JOIN w ON e.tus >= w.ws AND e.tus < w.we
GROUP BY win_id
"""


# -- multi-way star join (TPC-H Q5 shape) -------------------------------------

def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local supplier volume): a six-table star join — the
    multi-join shape that exercises Catalyst's join ORDERING, not just
    its join strategies.

    Scale shape: declared as one flat plan so the optimizer reorders
    freely; region and nation are explicitly broadcast (provably
    constant-size dims — 5/25 rows at every SF), and the region filter
    reaches the nation side BEFORE the big fact joins, so the
    customer/supplier nation-equality predicate prunes most of both fact
    inputs early.  The two fact-fact joins (orders⋈lineitem on orderkey,
    ⋈supplier on suppkey) stay shuffle equi-joins keyed on uniform
    surrogate keys; the date filter pushes into the orders scan
    (PushedFilters).  Decimal discipline on the revenue sum."""
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01")))
    c = read_table(spark, sf_dir, "customer")
    s = read_table(spark, sf_dir, "supplier")
    n = F.broadcast(read_table(spark, sf_dir, "nation"))
    r = F.broadcast(read_table(spark, sf_dir, "region")
                    .filter(F.col("r_name") == "ASIA"))
    rev = (F.col("l_extendedprice").cast("decimal(18,2)")
           * (F.lit(1).cast("decimal(18,2)")
              - F.col("l_discount").cast("decimal(18,2)")))
    return (c.join(o, c["c_custkey"] == o["o_custkey"])
            .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
            .join(s, (F.col("l_suppkey") == F.col("s_suppkey"))
                  & (F.col("c_nationkey") == F.col("s_nationkey")))
            .join(n, F.col("s_nationkey") == F.col("n_nationkey"))
            .join(r, F.col("n_regionkey") == F.col("r_regionkey"))
            .groupBy("n_name")
            .agg(F.sum(rev.cast("decimal(38,4)")).cast("double")
                 .alias("revenue"),
                 F.count(F.lit(1)).alias("n_lineitems")))


SQL_LOCAL_SUPPLIER_VOLUME = """
SELECT n_name,
       CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                     * (CAST(1 AS DECIMAL(18,2))
                        - CAST(l_discount AS DECIMAL(18,2)))
                     AS DECIMAL(38,4))) AS DOUBLE) AS revenue,
       count(*) AS n_lineitems
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey
  AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey
  AND c_nationkey = s_nationkey
  AND s_nationkey = n_nationkey
  AND n_regionkey = r_regionkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
"""


# -- agg-HAVING semi-join (TPC-H Q18 shape) ------------------------------------

LARGE_ORDER_QTY = 250


def q_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customer): find orders whose total quantity
    exceeds a threshold, then join the survivors back to customer/orders/
    lineitem for the detail rows — the agg→HAVING→semi-join-back shape.

    Scale shape: the HAVING aggregate is ONE mergeable groupBy(l_orderkey)
    (map-side partial sums; quantity as DECIMAL so partial-merge order
    can't shift the threshold test at the boundary).  The survivor set's
    size is data-dependent (could be 10^9 keys on a worst-case corpus),
    so it joins back as a plain shuffle equi-join on l_orderkey — NOT a
    broadcast, NOT `isin(collect())` — and AQE may still demote it to
    broadcast at runtime when it proves tiny.  The detail re-aggregation
    reuses the same orderkey partitioning.  Output keeps the raw
    o_totalprice double untouched (pass-through, no float arithmetic)."""
    li = read_table(spark, sf_dir, "lineitem")
    dq = F.col("l_quantity").cast("decimal(18,2)")
    big = (li.groupBy("l_orderkey")
           .agg(F.sum(dq).alias("sum_qty"))
           .filter(F.col("sum_qty") > LARGE_ORDER_QTY)
           .select("l_orderkey", F.col("sum_qty").cast("double")
                   .alias("sum_qty")))
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    return (big.join(o, big["l_orderkey"] == o["o_orderkey"])
            .join(c, F.col("o_custkey") == F.col("c_custkey"))
            .select("c_name", F.col("o_custkey").alias("c_custkey"),
                    "o_orderkey",
                    # string-typed date: the one cross-engine timestamp
                    # representation with no tz/NTZ ambiguity (module time
                    # discipline) — lossless, microsecond-padded
                    F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss.SSSSSS")
                    .alias("o_orderdate_s"),
                    "o_totalprice", "sum_qty"))


SQL_LARGE_ORDERS = f"""
WITH big AS (
  SELECT l_orderkey,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > {LARGE_ORDER_QTY}
)
SELECT c.c_name, o.o_custkey AS c_custkey, o.o_orderkey,
       strftime(o.o_orderdate, '%Y-%m-%d %H:%M:%S.%f') AS o_orderdate_s,
       o.o_totalprice, big.sum_qty
FROM big JOIN orders o ON big.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
"""


# -- conditional-class aggregation over a fact-fact join (TPC-H Q12 shape) -----
#
# The reference's fixture tables carry no l_shipmode/commitdate, so the
# Q12 shape is expressed over the columns present: per returnflag, how
# many line items belong to HIGH-priority orders (1-URGENT / 2-HIGH) vs
# everything else, within a shipdate range.

HIGH_PRIORITIES = ("1-URGENT", "2-HIGH")


def q_priority_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-shape: lineitem ⋈ orders, conditional counts by class.

    Scale shape: the shipdate predicate is pushed to the lineitem scan
    (PushedFilters), both sides project to the join key + 1-2 columns
    before the shuffle (column pruning keeps the exchange narrow), the
    join is a plain equi-join on orderkey — fact-to-fact, NOT broadcast;
    AQE demotes to broadcast only if the filtered side proves tiny — and
    the conditional counts are sums of 0/1 integers, fully mergeable
    (map-side partial agg), with no float op anywhere so both engines
    agree bit-for-bit."""
    li = (read_table(spark, sf_dir, "lineitem")
          .filter((F.col("l_shipdate") >= F.lit("1995-01-01"))
                  & (F.col("l_shipdate") < F.lit("1997-01-01")))
          .select("l_orderkey", "l_returnflag"))
    o = (read_table(spark, sf_dir, "orders")
         .select("o_orderkey", "o_orderpriority"))
    is_high = F.col("o_orderpriority").isin(*HIGH_PRIORITIES)
    return (li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("l_returnflag")
            .agg(F.sum(F.when(is_high, 1).otherwise(0))
                  .cast("bigint").alias("high_line_count"),
                 F.sum(F.when(is_high, 0).otherwise(1))
                  .cast("bigint").alias("low_line_count")))


SQL_PRIORITY_CLASS = f"""
SELECT l_returnflag,
       CAST(sum(CASE WHEN o_orderpriority IN ('{HIGH_PRIORITIES[0]}',
                                              '{HIGH_PRIORITIES[1]}')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('{HIGH_PRIORITIES[0]}',
                                              '{HIGH_PRIORITIES[1]}')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY l_returnflag
"""


# -- outer-join count distribution (TPC-H Q13 shape) ---------------------------

def q_order_count_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (customer distribution): histogram of orders-per-customer
    INCLUDING zero-order customers — the left-outer-join + double-
    aggregation shape.

    Scale shape: orders pre-aggregates to one row per custkey FIRST (one
    mergeable groupBy — map-side partial counts), so the outer join moves
    a customer-sized aggregate, never raw order rows; customers with no
    orders surface as NULL→0 via coalesce after the LEFT join.  The
    second aggregate (histogram over c_count) is integer-keyed and
    mergeable.  Two shuffles total on uniform keys; at 10^12 orders the
    pre-aggregation is what keeps the join input bounded by |customer|.
    Pure integer output — bit-exact across engines."""
    c = read_table(spark, sf_dir, "customer").select("c_custkey")
    per_cust = (read_table(spark, sf_dir, "orders")
                .groupBy("o_custkey")
                .agg(F.count(F.lit(1)).alias("n_orders")))
    counts = (c.join(per_cust, c.c_custkey == per_cust.o_custkey, "left")
              .select(F.coalesce("n_orders", F.lit(0)).cast("bigint")
                      .alias("c_count")))
    return (counts.groupBy("c_count")
            .agg(F.count(F.lit(1)).cast("bigint").alias("custdist")))


SQL_ORDER_COUNT_HIST = """
WITH per_cust AS (
  SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY o_custkey
), counts AS (
  SELECT CAST(coalesce(p.n_orders, 0) AS BIGINT) AS c_count
  FROM customer c LEFT JOIN per_cust p ON c.c_custkey = p.o_custkey
)
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM counts GROUP BY c_count
"""


# -- skewed equi-join with explicit key salting --------------------------------

SKEW_SALT_N = 16


def q_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key equi-join with explicit salting — the classic fix when the
    fact side is skewed AND the dim side is too large to broadcast (here
    the dim is forced to a shuffle join to model that regime honestly).

    events.event_type has a handful of distinct values over the whole
    fact table, so an unsalted shuffle join hashes each type to ONE
    reducer — one straggler task owns a third of 100 TB.  The fix is
    structural, not a config knob: replicate each dim row SKEW_SALT_N
    times (explode over a literal sequence — dim×16 stays dim-sized),
    give each fact row a uniform deterministic salt (event_id %
    SKEW_SALT_N — no RNG, so retried tasks re-salt identically), and
    join on the composite (event_type, salt): every hot key now spreads
    over SKEW_SALT_N reducers.  AQE's skew-join split solves the same
    problem only for sort-merge post-shuffle partitions; explicit salting
    is the portable form and the one that composes with the groupBy
    right after (which re-aggregates across salts by construction).
    The weighted revenue stays exact: DECIMAL × BIGINT, ×100 on the
    decimal, floor to BIGINT — no IEEE op before quantization."""
    ev = read_table(spark, sf_dir, "events")
    dim = (ev.select("event_type").distinct()
           .withColumn("tier", F.length("event_type").cast("bigint")))
    sdim = dim.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(SKEW_SALT_N - 1))))
    fact = ev.withColumn(
        "salt", (F.col("event_id") % SKEW_SALT_N).cast("int"))
    dv = F.col("value").cast("decimal(18,2)")
    return (fact.join(sdim.hint("shuffle_hash"), ["event_type", "salt"])
            .groupBy("event_type", "tier")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.floor(F.sum(dv * F.col("tier")) * 100)
                  .cast("bigint").alias("weighted_q")))


SQL_SKEW_SALTED_JOIN = """
WITH dim AS (
  SELECT DISTINCT event_type,
         CAST(length(event_type) AS BIGINT) AS tier
  FROM events
)
SELECT e.event_type, d.tier,
       count(*) AS n_events,
       CAST(floor(sum(CAST(e.value AS DECIMAL(18,2)) * d.tier) * 100)
            AS BIGINT) AS weighted_q
FROM events e JOIN dim d USING (event_type)
GROUP BY e.event_type, d.tier
"""


# -- mergeable second-order moments + correlation -----------------------------

def q_moments_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation via SUFFICIENT STATISTICS: the six mergeable
    moments (n, Σx, Σy, Σx², Σy², Σxy) accumulated as exact DECIMALs in
    one partial+final aggregation, with the correlation derived from
    them in a fixed double-expression tree afterwards.

    This is the scale-correct shape for second-order statistics: the
    moments are plain sums (map-side combine at any cluster size,
    streaming-mergeable across snapshots), and every float op happens
    AFTER aggregation on exact inputs — so the result is independent of
    partition order, unlike a naive corr() over doubles whose partial
    merges reorder additions.  corr ships integer-quantized (floor 1e6)
    per the repo's cross-engine float discipline; IEEE sqrt/divide are
    correctly rounded so identical expression trees agree bitwise."""
    li = read_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(18,2)")
    y = F.col("l_extendedprice").cast("decimal(18,2)")
    g = (li.groupBy("l_returnflag")
         .agg(F.count(F.lit(1)).cast("double").alias("n"),
              F.sum(x).cast("double").alias("sum_x"),
              F.sum(y).cast("double").alias("sum_y"),
              F.sum((x * x).cast("decimal(38,4)")).cast("double")
              .alias("sum_xx"),
              F.sum((y * y).cast("decimal(38,4)")).cast("double")
              .alias("sum_yy"),
              F.sum((x * y).cast("decimal(38,4)")).cast("double")
              .alias("sum_xy")))
    n, sx, sy = F.col("n"), F.col("sum_x"), F.col("sum_y")
    num = n * F.col("sum_xy") - sx * sy
    den = (F.sqrt(n * F.col("sum_xx") - sx * sx)
           * F.sqrt(n * F.col("sum_yy") - sy * sy))
    return g.select("l_returnflag",
                    F.col("n").cast("bigint").alias("n_rows"),
                    "sum_x", "sum_y", "sum_xx", "sum_yy", "sum_xy",
                    F.floor(num / den * F.lit(1_000_000.0))
                    .cast("bigint").alias("corr_q"))


SQL_MOMENTS_CORR = """
WITH g AS (
  SELECT l_returnflag,
         CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_x,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_y,
         CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2))
                       * CAST(l_quantity AS DECIMAL(18,2))
                       AS DECIMAL(38,4))) AS DOUBLE) AS sum_xx,
         CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                       * CAST(l_extendedprice AS DECIMAL(18,2))
                       AS DECIMAL(38,4))) AS DOUBLE) AS sum_yy,
         CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2))
                       * CAST(l_extendedprice AS DECIMAL(18,2))
                       AS DECIMAL(38,4))) AS DOUBLE) AS sum_xy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
       sum_x, sum_y, sum_xx, sum_yy, sum_xy,
       CAST(floor((n * sum_xy - sum_x * sum_y)
                  / (sqrt(n * sum_xx - sum_x * sum_x)
                     * sqrt(n * sum_yy - sum_y * sum_y))
                  * 1000000.0) AS BIGINT) AS corr_q
FROM g
"""


# -- time-series gap fill + LOCF ----------------------------------------------

def q_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense time-series materialization (TimescaleDB
    time_bucket_gapfill analog): hourly per-type aggregates projected
    onto a generated dense spine, missing hours 0-filled for counts and
    last-observation-carried-forward for the value series.

    Scale shape: the only corpus-sized work is ONE mergeable hourly
    groupBy; the spine is |event_types| x |hours| — dimension-sized, not
    corpus-sized — generated from a broadcast 1-row max and a distinct
    type dim, and the LOCF window partitions by event_type over
    spine-sized data (bounded by the time horizon, never by event
    volume).  The carried value is copied, never re-aggregated, so both
    engines emit bit-identical doubles."""
    from .dedup import _pin

    ev = read_table(spark, sf_dir, "events")
    m = ev.agg(F.min("ts").alias("t0"))
    hb = F.floor(F.expr("timestampdiff(MICROSECOND, t0, ts)")
                 / 3_600_000_000.0).cast("bigint")
    agg = _pin(ev.crossJoin(F.broadcast(m))
               .groupBy(hb.alias("hb"), "event_type")
               .agg(F.count(F.lit(1)).alias("n"),
                    F.sum(F.col("value").cast("decimal(18,4)"))
                    .cast("double").alias("sv")))
    mx = agg.agg(F.max("hb").alias("mb"))
    types = ev.select("event_type").distinct()
    spine = (types.crossJoin(F.broadcast(mx))
             .select("event_type",
                     F.explode(F.sequence(F.lit(0).cast("bigint"),
                                          F.col("mb"))).alias("hb")))
    w = (W.partitionBy("event_type").orderBy("hb")
         .rowsBetween(W.unboundedPreceding, 0))
    return (spine.join(agg, ["event_type", "hb"], "left")
            .select("event_type", F.col("hb").alias("hour_bucket"),
                    F.coalesce("n", F.lit(0)).cast("bigint").alias("n"),
                    F.coalesce(F.last("sv", ignorenulls=True).over(w),
                               F.lit(0.0)).alias("sum_locf"),
                    F.col("n").isNull().alias("is_gap")))


SQL_GAPFILL_LOCF = """
WITH m AS (SELECT min(ts) AS t0 FROM events),
a AS (
  SELECT CAST(floor(date_diff('microsecond', m.t0, ts) / 3600000000.0)
              AS BIGINT) AS hb,
         event_type, count(*) AS n,
         CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sv
  FROM events, m GROUP BY 1, 2),
mx AS (SELECT max(hb) AS mb FROM a),
types AS (SELECT DISTINCT event_type FROM events),
spine AS (SELECT event_type, unnest(generate_series(0, mb)) AS hb
          FROM types, mx),
j AS (SELECT s.event_type, s.hb, a.n, a.sv
      FROM spine s LEFT JOIN a ON s.event_type = a.event_type
                               AND s.hb = a.hb)
SELECT event_type, hb AS hour_bucket,
       CAST(coalesce(n, 0) AS BIGINT) AS n,
       coalesce(last_value(sv IGNORE NULLS)
                  OVER (PARTITION BY event_type ORDER BY hb
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                0.0) AS sum_locf,
       n IS NULL AS is_gap
FROM j
"""


# -- salted two-phase aggregation (skew treatment through the oracle gate) ----

SALT_N = 8


def q_salted_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus stats computed through the generic salted
    two-phase aggregation (operators/skew.py): `source` is a deliberately
    coarse key (a handful of values over the whole corpus — exactly the
    shape whose final reduce pins one task at 10^12 rows), so each
    source's rows partial-aggregate in SALT_N parallel tasks before the
    tiny final combine.  Result is bit-identical to the plain groupBy —
    which is what the DuckDB oracle states."""
    from .skew import salted_agg

    docs = read_table(spark, sf_dir, "documents")
    return salted_agg(
        docs, "source", SALT_N, ["doc_id"],
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"))


SQL_SALTED_SOURCE_STATS = """
SELECT source,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       min(n_chars) AS min_chars,
       max(n_chars) AS max_chars
FROM documents
GROUP BY source
"""



# -- grouping-sets rollup ----------------------------------------------------------

def q_revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLAP rollup: revenue at (returnflag, linestatus), per returnflag
    subtotals, and the grand total in ONE pass — Spark's Expand node
    replicates rows per grouping set MAP-SIDE and partial-aggregates
    before the single hash shuffle, exactly the plan a 10^12-row cube
    build wants (never union-of-3-scans).  grouping_id() disambiguates
    subtotal NULLs from data NULLs; decimal sums keep the result
    partial-order-independent."""
    li = read_table(spark, sf_dir, "lineitem")
    rev = (F.col("l_extendedprice").cast("decimal(18,2)")
           * (F.lit(1).cast("decimal(18,2)")
              - F.col("l_discount").cast("decimal(18,2)")))
    return (li.rollup("l_returnflag", "l_linestatus")
            .agg(F.grouping_id().cast("bigint").alias("gid"),
                 F.sum(rev).cast("double").alias("revenue"),
                 F.count(F.lit(1)).alias("n_rows"))
            .select("l_returnflag", "l_linestatus", "gid",
                    "revenue", "n_rows"))


def q_skyline_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SKYLINE (Pareto-front) query: suppliers not dominated on
    (total revenue, total quantity) — supplier B dominates A when B is >=
    on both dimensions and > on at least one.  The multi-criteria "best
    vendors" report no single ORDER BY can answer.

    Scale shape: the corpus work is ONE partial-agg groupBy to the
    per-supplier table; dominance then runs as an inequality self-join
    over that POST-AGGREGATION table (dimension-sized — #suppliers, not
    corpus rows), left-anti so only undominated rows survive.  Exact
    integer cents/units — no float threshold."""
    li = read_table(spark, sf_dir, "lineitem")
    rev = (F.col("l_extendedprice").cast("decimal(18,2)")
           * (F.lit(1).cast("decimal(18,2)")
              - F.col("l_discount").cast("decimal(18,2)")))
    per = (li.groupBy("l_suppkey")
           .agg((F.sum(rev) * 10000).cast("bigint").alias("rev_units"),
                F.sum(F.col("l_quantity").cast("decimal(18,2)"))
                 .cast("bigint").alias("total_qty")))
    a, b = per.alias("a"), per.alias("b")
    dominated = ((F.col("b.rev_units") >= F.col("a.rev_units"))
                 & (F.col("b.total_qty") >= F.col("a.total_qty"))
                 & ((F.col("b.rev_units") > F.col("a.rev_units"))
                    | (F.col("b.total_qty") > F.col("a.total_qty"))))
    return (a.join(b, dominated, "left_anti")
            .select(F.col("a.l_suppkey").alias("l_suppkey"),
                    "rev_units", "total_qty"))


SQL_SKYLINE_SUPPLIERS = """
WITH per AS (
  SELECT l_suppkey,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                  * (CAST(1 AS DECIMAL(18,2))
                     - CAST(l_discount AS DECIMAL(18,2)))) * 10000 AS BIGINT)
           AS rev_units,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS BIGINT) AS total_qty
  FROM lineitem GROUP BY l_suppkey
)
SELECT a.l_suppkey, a.rev_units, a.total_qty
FROM per a
WHERE NOT EXISTS (
  SELECT 1 FROM per b
  WHERE b.rev_units >= a.rev_units AND b.total_qty >= a.total_qty
    AND (b.rev_units > a.rev_units OR b.total_qty > a.total_qty))
"""


def q_cube_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CUBE over (o_orderpriority, o_orderstatus): all four grouping
    sets — (a,b), (a), (b), () — in ONE Expand pass, the cross-dimension
    sibling of q_revenue_rollup's hierarchy (ROLLUP skips the (b)-only
    set; CUBE is what a BI layer asks for when both dimensions filter
    independently).  Same scale shape: map-side replicate + partial agg,
    one hash shuffle, grouping_id() disambiguates subtotal NULLs."""
    o = read_table(spark, sf_dir, "orders")
    return (o.cube("o_orderpriority", "o_orderstatus")
            .agg(F.grouping_id().cast("bigint").alias("gid"),
                 F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                  .cast("double").alias("total_price"),
                 F.count(F.lit(1)).alias("n_orders"))
            .select("o_orderpriority", "o_orderstatus", "gid",
                    "total_price", "n_orders"))


SQL_CUBE_MIX = """
SELECT o_orderpriority, o_orderstatus,
       CAST(GROUPING(o_orderpriority, o_orderstatus) AS BIGINT) AS gid,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         AS total_price,
       count(*) AS n_orders
FROM orders
GROUP BY CUBE (o_orderpriority, o_orderstatus)
"""


SQL_REVENUE_ROLLUP = """
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
            AS DOUBLE) AS revenue,
       count(*) AS n_rows
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


# -- funnel / sequential-pattern analysis -------------------------------------------

def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel analysis (view -> click -> purchase): per user, the
    first view, the first click AT/AFTER that view, and the first
    purchase at/after that click — the sequential-pattern operator event
    warehouses ship as MATCH_RECOGNIZE / windowFunnel.  Three conditional
    -min aggregations co-partitioned on user_id (the exchange is reused
    across stages); time is microseconds RELATIVE to the user's first
    event (timestamp differences only — timezone-free, both engines
    identical).  NULL ordering does the gating: `us >= tv` is NULL until
    the previous stage fired, so the conditional min skips it."""
    ev = read_table(spark, sf_dir, "events")
    t0 = F.min("ts").over(W.partitionBy("user_id"))
    b = (ev.withColumn("t0", t0)
         .select("user_id", "event_type",
                 F.expr("timestampdiff(MICROSECOND, t0, ts)").alias("us")))
    v = b.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(F.when(F.col("event_type") == "view", F.col("us")))
         .alias("tv"))
    c = (b.join(v, "user_id")
         .groupBy("user_id")
         .agg(F.min("n_events").alias("n_events"),
              F.min("tv").alias("tv"),
              F.min(F.when((F.col("event_type") == "click")
                           & (F.col("us") >= F.col("tv")), F.col("us")))
               .alias("tc")))
    pr = (b.join(c, "user_id")
          .groupBy("user_id")
          .agg(F.min("n_events").alias("n_events"),
               F.min("tv").alias("tv"),
               F.min("tc").alias("tc"),
               F.min(F.when((F.col("event_type") == "purchase")
                            & (F.col("us") >= F.col("tc")), F.col("us")))
                .alias("tp")))
    stage = (F.when(F.col("tv").isNull(), 0)
             .when(F.col("tc").isNull(), 1)
             .when(F.col("tp").isNull(), 2)
             .otherwise(3))
    return pr.select(
        "user_id",
        F.col("n_events").cast("bigint").alias("n_events"),
        stage.cast("bigint").alias("funnel_stage"),
        F.col("tv").cast("bigint").alias("view_us"),
        F.col("tc").cast("bigint").alias("click_us"),
        F.col("tp").cast("bigint").alias("purchase_us"),
        (F.col("tp") - F.col("tv")).cast("bigint")
         .alias("view_to_purchase_us"))


SQL_FUNNEL = """
WITH b AS (
  SELECT user_id, event_type,
         date_diff('microsecond',
                   min(ts) OVER (PARTITION BY user_id), ts) AS us
  FROM events),
v AS (
  SELECT user_id, count(*) AS n_events,
         min(CASE WHEN event_type = 'view' THEN us END) AS tv
  FROM b GROUP BY user_id),
c AS (
  SELECT b.user_id, min(v.n_events) AS n_events, min(v.tv) AS tv,
         min(CASE WHEN event_type = 'click' AND us >= tv THEN us END) AS tc
  FROM b JOIN v USING (user_id) GROUP BY b.user_id),
p AS (
  SELECT b.user_id, min(c.n_events) AS n_events, min(c.tv) AS tv,
         min(c.tc) AS tc,
         min(CASE WHEN event_type = 'purchase' AND us >= tc THEN us END) AS tp
  FROM b JOIN c USING (user_id) GROUP BY b.user_id)
SELECT user_id,
       CAST(n_events AS BIGINT) AS n_events,
       CAST(CASE WHEN tv IS NULL THEN 0
                 WHEN tc IS NULL THEN 1
                 WHEN tp IS NULL THEN 2 ELSE 3 END AS BIGINT) AS funnel_stage,
       CAST(tv AS BIGINT) AS view_us,
       CAST(tc AS BIGINT) AS click_us,
       CAST(tp AS BIGINT) AS purchase_us,
       CAST(tp - tv AS BIGINT) AS view_to_purchase_us
FROM p
"""

def q_rolling_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 1-hour per-user event stats via a RANGE window frame — the
    value-based frame Spark feature the rest of the window family
    (row_number/lag/running-sum ROWS frames) doesn't touch.  Each event
    sees the count and exact decimal sum of the SAME user's events in
    [ts - 1h, ts]; RANGE includes peers, so ties on ts are
    order-independent and the result is deterministic without a
    tie-break column.  Scale shape: one shuffle on user_id, per-user
    frames are bounded by the user's own 1-hour event rate — no
    corpus-sized state.  Time discipline: the order key is microseconds
    since the corpus min(ts) (broadcast 1-row), so no epoch/timezone
    call ever runs."""
    ev = read_table(spark, sf_dir, "events")
    m = ev.agg(F.min("ts").alias("t0"))
    e = (ev.crossJoin(F.broadcast(m))
         .select("event_id", "user_id",
                 F.expr("timestampdiff(MICROSECOND, t0, ts)").alias("ts_us"),
                 F.col("value").cast("decimal(18,4)").alias("v")))
    w = (W.partitionBy("user_id").orderBy("ts_us")
         .rangeBetween(-3_600_000_000, 0))
    return e.select(
        "event_id", "user_id",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.sum("v").over(w).cast("double").alias("sv_1h"))


SQL_ROLLING_1H = """
WITH m AS (SELECT min(ts) AS t0 FROM events),
e AS (
  SELECT event_id, user_id,
         date_diff('microsecond', m.t0, ts) AS ts_us,
         CAST(value AS DECIMAL(18,4)) AS v
  FROM events, m
)
SELECT event_id, user_id,
       count(*) OVER w AS n_1h,
       CAST(sum(v) OVER w AS DOUBLE) AS sv_1h
FROM e
WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
"""


PIVOT_SRCS = ("src0", "src1", "src2", "src3")


def q_rel_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT aggregation — the relational reshape op (long → wide): doc
    counts per language fanned into one column per named source.  Spark's
    pivot with an EXPLICIT value list keeps the schema static (no
    pre-scan job, no data-dependent columns — the only safe form at
    scale; an implicit pivot triggers a distinct-values collect on the
    driver) and plans as ONE partial+final aggregation, exactly like the
    conditional-sum form the oracle states."""
    d = read_table(spark, sf_dir, "documents")
    wide = (d.groupBy("lang").pivot("source", list(PIVOT_SRCS))
            .agg(F.count(F.lit(1))))
    return wide.select(
        "lang", *[F.coalesce(F.col(s), F.lit(0)).cast("bigint").alias(s)
                  for s in PIVOT_SRCS])


SQL_REL_PIVOT = "SELECT lang, " + ", ".join(
    f"CAST(sum(CASE WHEN source = '{s}' THEN 1 ELSE 0 END) AS BIGINT)"
    f" AS {s}" for s in PIVOT_SRCS) + " FROM documents GROUP BY lang"


def q_rel_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT physical operators (the set-op family's driver
    row): users who both clicked and purchased, tagged 'both', unioned
    with users who clicked but never purchased, tagged 'click_only'.
    Spark plans these as hash aggregations over a single shuffle each —
    both inputs partition on the full row — with no join in sight; the
    oracle uses the identical ANSI set operators."""
    ev = read_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id")
    buys = ev.filter(F.col("event_type") == "purchase").select("user_id")
    both = clicks.intersect(buys).select(
        "user_id", F.lit("both").alias("cohort"))
    only = clicks.subtract(buys).select(
        "user_id", F.lit("click_only").alias("cohort"))
    return both.union(only)


SQL_REL_SET_OPS = """
SELECT user_id, 'both' AS cohort FROM (
  SELECT user_id FROM events WHERE event_type = 'click'
  INTERSECT
  SELECT user_id FROM events WHERE event_type = 'purchase')
UNION ALL
SELECT user_id, 'click_only' AS cohort FROM (
  SELECT user_id FROM events WHERE event_type = 'click'
  EXCEPT
  SELECT user_id FROM events WHERE event_type = 'purchase')
"""


# -- CDC changelog apply (MERGE-read / upsert compaction) ---------------------------

def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply a change-data-capture stream to current state — the read
    side of Iceberg/Delta MERGE INTO: the events table is a changelog
    keyed by user_id with event_id as the monotone change sequence;
    event_type 'error' is the delete tombstone, everything else upserts.
    Current state = the highest-sequence change per key, minus keys whose
    final change is a tombstone.

    Scale shape: the textbook formulation is a row_number window +
    QUALIFY rn = 1, but a window materializes every change of a key in
    one task — a hot entity (the skewed-key case CDC feeds always have)
    pins a straggler.  max_by/arg_max is the scale-right plan: a
    mergeable aggregate with map-side partials, ONE shuffle on the key,
    hot keys pre-reduced inside every map task.  Ties impossible:
    event_id is the unique sequence.  last_value is quantized through
    integer math only after the single surviving row is chosen, so the
    oracle is exact."""
    ev = read_table(spark, sf_dir, "events")
    last = ev.groupBy("user_id").agg(
        F.max("event_id").alias("last_event_id"),
        F.expr("max_by(event_type, event_id)").alias("last_type"),
        # coalesce BEFORE the arg-max: Spark's max_by carries a NULL value
        # through while DuckDB's arg_max skips NULL-argument rows — pin
        # one semantics (NULL change value reads as 0) on both engines
        F.expr("max_by(coalesce(value, CAST(0 AS DOUBLE)), event_id)")
         .alias("last_value"),
        F.count(F.lit(1)).cast("bigint").alias("n_changes"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
         .cast("bigint").alias("n_tombstones"))
    return (last.filter(F.col("last_type") != "error")
            .select("user_id", "last_event_id", "last_type",
                    F.floor(F.col("last_value") * 100).cast("bigint")
                     .alias("last_value_q"),
                    "n_changes", "n_tombstones"))


SQL_CDC_APPLY = """
WITH last AS (
  SELECT user_id,
         max(event_id) AS last_event_id,
         arg_max(event_type, event_id) AS last_type,
         arg_max(coalesce(value, CAST(0 AS DOUBLE)), event_id) AS last_value,
         CAST(count(*) AS BIGINT) AS n_changes,
         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_tombstones
  FROM events GROUP BY user_id)
SELECT user_id, last_event_id, last_type,
       CAST(floor(last_value * 100) AS BIGINT) AS last_value_q,
       n_changes, n_tombstones
FROM last WHERE last_type <> 'error'
"""


# -- SCD type-2 history build --------------------------------------------------------

def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 table from the same changelog
    rel_cdc_apply compacts: every change becomes a versioned row with a
    [valid_from, valid_to) interval — valid_to = the NEXT change's
    timestamp (lead over the per-key sequence), NULL while current.  The
    lakehouse sibling of CDC-apply: apply keeps latest state, SCD2 keeps
    full history for as-of queries.

    Scale shape: one shuffle on user_id; the lead window orders by the
    monotone event_id WITHIN each key only (no global sort), and per-key
    history length is the key's change rate, not the stream length.
    Time discipline: intervals are integer microseconds since the corpus
    min(ts) (broadcast 1-row) — no epoch/timezone call, both engines
    bit-agree."""
    ev = read_table(spark, sf_dir, "events")
    m = ev.agg(F.min("ts").alias("t0"))
    e = (ev.crossJoin(F.broadcast(m))
         .select("user_id", "event_id", "event_type",
                 F.expr("timestampdiff(MICROSECOND, t0, ts)").alias("ts_us")))
    w = W.partitionBy("user_id").orderBy("event_id")
    return e.select(
        "user_id", "event_id", "event_type",
        F.col("ts_us").alias("valid_from_us"),
        F.lead("ts_us").over(w).alias("valid_to_us"),
        F.lead("event_id").over(w).isNull().alias("is_current"))


SQL_SCD2_HISTORY = """
WITH m AS (SELECT min(ts) AS t0 FROM events),
e AS (
  SELECT user_id, event_id, event_type,
         date_diff('microsecond', m.t0, ts) AS ts_us
  FROM events, m)
SELECT user_id, event_id, event_type,
       ts_us AS valid_from_us,
       lead(ts_us) OVER w AS valid_to_us,
       lead(event_id) OVER w IS NULL AS is_current
FROM e
WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
"""


# -- cohort retention ----------------------------------------------------------------

RETENTION_MAX_OFFSET = 24  # hours tracked after a cohort's first activity


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users are cohorted by the hour of their
    FIRST event; for each (cohort, hour-offset) cell, how many distinct
    users of that cohort were active offset hours later.  The classic
    growth-analytics triangle, built in two mergeable passes: (1)
    per-user first-event hour (min agg — partial+final), (2) distinct
    (cohort, offset, user) presence then a count agg.  No window over the
    whole event stream, no per-cohort sort; both shuffles key on
    user/cohort so a 4N cluster splits them 4N ways.  Hours are integer
    buckets of the microsecond distance from the corpus min(ts)
    (broadcast 1-row) — pure relative arithmetic, timezone-free on
    either engine's timestamp flavor."""
    ev = read_table(spark, sf_dir, "events")
    m = ev.agg(F.min("ts").alias("t0"))
    e = (ev.crossJoin(F.broadcast(m))
         .select("user_id",
                 F.floor(F.expr("timestampdiff(MICROSECOND, t0, ts)")
                         / F.lit(3_600_000_000))
                 .cast("long").alias("hour_bucket")))
    first = e.groupBy("user_id").agg(F.min("hour_bucket").alias("cohort"))
    return (e.join(first, "user_id")
            .withColumn("offset_h", F.col("hour_bucket") - F.col("cohort"))
            .filter(F.col("offset_h") <= RETENTION_MAX_OFFSET)
            .select("cohort", "offset_h", "user_id").distinct()
            .groupBy("cohort", "offset_h")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_active")))


SQL_COHORT_RETENTION = f"""
WITH m AS (SELECT min(ts) AS t0 FROM events),
e AS (
  SELECT user_id,
         CAST(floor(date_diff('microsecond', m.t0, ts) / 3600000000)
              AS BIGINT) AS hour_bucket
  FROM events, m),
first AS (
  SELECT user_id, min(hour_bucket) AS cohort FROM e GROUP BY user_id)
SELECT f.cohort, e.hour_bucket - f.cohort AS offset_h,
       CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_active
FROM e JOIN first f USING (user_id)
WHERE e.hour_bucket - f.cohort <= {RETENTION_MAX_OFFSET}
GROUP BY f.cohort, e.hour_bucket - f.cohort
"""


# -- semi-structured (JSON) extraction --------------------------------------------

def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed field extraction from the semi-structured `props` JSON column
    (events.props = '{"k": N}') followed by a grouped profile per
    event_type — the JSON-functions operator family (Spark
    get_json_object / DuckDB json_extract_string).

    Scale shape: extraction is a map-side scalar expression evaluated
    inside the scan's codegen stage (no UDF, no shuffle); the profile is
    one mergeable groupBy on the low-cardinality event_type.  avg_k_q is
    derived from the exact integer (sum, count) pair with ONE floored
    IEEE division — the HLL-estimate discipline — so both engines hash
    identically.

    Robustness: `k` is accepted only when it is a bounded integer
    literal (regex-guarded BEFORE the cast, the module's ANSI-safety
    discipline) — malformed JSON, missing keys, floats, and
    BIGINT-overflow digit strings are dropped IDENTICALLY by both
    engines (a bare cast diverges: non-ANSI Spark nulls '3.7' while
    DuckDB TRY_CAST rounds it to 4, and ANSI Spark would throw; the SQL
    twin additionally needs json_valid() first — DuckDB's
    json_extract_string ERRORS on malformed JSON where Spark's
    get_json_object returns null)."""
    ev = read_table(spark, sf_dir, "events")
    ks = F.get_json_object("props", "$.k")
    # \A/\z, not ^/$: Java Matcher.find() lets '$' match just before a
    # final line terminator, so '12\n' would pass this guard while the
    # oracle's RE2 '$' (end-of-text) drops the row — the r5 ADVICE
    # cross-engine divergence.  \A/\z mean end-of-text in both engines.
    k = F.when(ks.rlike(r"\A-?[0-9]{1,18}\z"), ks.cast("bigint"))
    return (ev.select("event_type", k.alias("k"))
            .filter(F.col("k").isNotNull())
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum("k").alias("sum_k"),
                 F.min("k").alias("min_k"),
                 F.max("k").alias("max_k"))
            .select("event_type", "n_events", "sum_k", "min_k", "max_k",
                    F.floor(F.col("sum_k").cast("double") * F.lit(10000.0)
                            / F.col("n_events").cast("double"))
                    .cast("bigint").alias("avg_k_q")))


SQL_JSON_PROPS = """
WITH e AS (
  SELECT event_type,
         CASE WHEN json_valid(props) THEN
           CASE WHEN regexp_matches(json_extract_string(props, '$.k'),
                                    '^-?[0-9]{1,18}$')
                THEN CAST(json_extract_string(props, '$.k') AS BIGINT)
           END
         END AS k
  FROM events
), g AS (
  SELECT event_type, count(*) AS n_events, CAST(sum(k) AS BIGINT) AS sum_k,
         min(k) AS min_k, max(k) AS max_k
  FROM e WHERE k IS NOT NULL GROUP BY event_type
)
SELECT event_type, n_events, sum_k, min_k, max_k,
       CAST(floor(CAST(sum_k AS DOUBLE) * 10000.0
                  / CAST(n_events AS DOUBLE)) AS BIGINT) AS avg_k_q
FROM g
"""


# -- sole-blamed supplier per multi-supplier order (TPC-H Q21 shape) -----------
#
# Q21's EXISTS / NOT EXISTS pair ("another supplier participated in the
# order" / "no OTHER supplier also failed") is the classic correlated-
# subquery shape.  The fixture lineitem has no commit/receipt dates, so
# "failed" is proxied by l_returnflag = 'R'.

def q_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per supplier: count of returned ('R') line items in multi-supplier
    orders where THIS supplier is the only one with a returned item.

    Scale shape: the two correlated subqueries are rewritten as ONE
    mergeable per-order aggregation — n_supp = countDistinct(suppkey),
    n_bad = countDistinct(suppkey | flag='R') — instead of the textbook
    two lineitem self-joins (each a full fact-fact shuffle; at 10^12
    rows the naive plan shuffles the fact table three times, this plan
    once).  EXISTS ⇔ n_supp >= 2; NOT EXISTS ⇔ n_bad = 1, with the bad
    supplier carried out of the same aggregate via the min-over-matches
    trick (min of a when(): exactly one distinct value survives the
    n_bad = 1 filter, so min IS the value), and that supplier's 'R'
    line-item count (what the textbook plan counts — one per l1 row,
    not one per order) summed alongside, valid because n_bad = 1 means
    every 'R' row in the order is that supplier's.  The supplier dim joins
    broadcast.  The ORACLE is deliberately the textbook correlated
    EXISTS / NOT EXISTS — the gate proves the single-pass rewrite."""
    li = (read_table(spark, sf_dir, "lineitem")
          .select("l_orderkey", "l_suppkey", "l_returnflag"))
    is_r = F.col("l_returnflag") == "R"
    per_order = (li.groupBy("l_orderkey")
                 .agg(F.countDistinct("l_suppkey").alias("n_supp"),
                      F.countDistinct(
                          F.when(is_r, F.col("l_suppkey"))).alias("n_bad"),
                      F.min(F.when(is_r, F.col("l_suppkey")))
                       .alias("bad_supp"),
                      F.sum(F.when(is_r, 1).otherwise(0))
                       .alias("n_bad_rows")))
    sole = (per_order
            .filter((F.col("n_supp") >= 2) & (F.col("n_bad") == 1))
            .select(F.col("bad_supp").alias("s_suppkey"), "n_bad_rows"))
    s = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (sole.join(F.broadcast(s), "s_suppkey")
            .groupBy("s_name")
            .agg(F.sum("n_bad_rows").cast("bigint").alias("numwait")))


SQL_WAITING_SUPPLIERS = """
SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
FROM supplier, lineitem l1
WHERE s_suppkey = l1.l_suppkey
  AND l1.l_returnflag = 'R'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_returnflag = 'R')
GROUP BY s_name
"""


# -- above-average balance, never ordered (TPC-H Q22 shape) ---------------------

IDLE_CUTOFF = "2000-01-01"


def q_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per nation: count + total balance of customers whose account
    balance is above the average positive balance AND who have placed
    no RECENT order (none since IDLE_CUTOFF — the fixture has no
    order-free customers, so lapsed-since-cutoff keeps the anti-join
    non-vacuous) — the scalar-subquery + anti-join shape.

    Scale shape: the scalar threshold is one full-fold aggregate reduced
    to a single row and broadcast (crossJoin of a 1-row side is a
    BroadcastNestedLoopJoin over ONE row — free); the "no recent order"
    NOT EXISTS is a left ANTI join against the date-filtered (pushed to
    the scan) and pre-deduplicated custkey projection of orders
    (distinct first, so the anti probe moves one row per customer, not
    one per order).  Float discipline: balances are exact integer cents
    end-to-end, and the above-average test is cross-multiplied
    (cents * n_pos > sum_cents) so neither engine ever divides — the
    boundary is decided in exact integer math."""
    c = (read_table(spark, sf_dir, "customer")
         .select("c_custkey", "c_nationkey",
                 F.round(F.col("c_acctbal") * 100, 0).cast("bigint")
                 .alias("cents")))
    pos = c.filter(F.col("cents") > 0)
    stats = pos.agg(F.sum("cents").alias("sum_cents"),
                    F.count(F.lit(1)).alias("n_pos"))
    rich = (c.crossJoin(F.broadcast(stats))
            .filter(F.col("cents") * F.col("n_pos") > F.col("sum_cents")))
    ordered = (read_table(spark, sf_dir, "orders")
               .filter(F.col("o_orderdate") >= F.lit(IDLE_CUTOFF))
               .select("o_custkey").distinct())
    idle = rich.join(ordered, rich.c_custkey == ordered.o_custkey,
                     "left_anti")
    return (idle.groupBy("c_nationkey")
            .agg(F.count(F.lit(1)).cast("bigint").alias("numcust"),
                 F.sum("cents").cast("bigint").alias("totacctbal_cents")))


SQL_IDLE_CUSTOMERS = f"""
WITH c AS (
  SELECT c_custkey, c_nationkey,
         CAST(round(c_acctbal * 100, 0) AS BIGINT) AS cents
  FROM customer
)
SELECT c_nationkey, CAST(count(*) AS BIGINT) AS numcust,
       CAST(sum(cents) AS BIGINT) AS totacctbal_cents
FROM c
WHERE cents * (SELECT count(*) FROM c WHERE cents > 0)
      > (SELECT sum(cents) FROM c WHERE cents > 0)
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '{IDLE_CUTOFF} 00:00:00')
GROUP BY c_nationkey
"""


# -- event-sequence transition mining (first-order Markov counts) ----------------

def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event sequences:
    for every ordered (prev_type -> event_type) step, the count and the
    per-source transition probability in ppm.

    Scale shape: ONE shuffle — the lag window partitions by user_id
    (state per task is one row, streaming frame), and the transition
    count groupBy is mergeable map-side.  The per-source normalizer
    reuses the transition counts (groupBy prev_type over the already
    TINY |states|² aggregate — bounded by the event-type vocabulary,
    not the event volume) and joins back broadcast.  Ordering is total
    and deterministic: (ts, event_id) — ts ties cannot reorder across
    engines.  Probability is integer ppm: count * 1e6 div row-total."""
    ev = read_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    steps = (ev.withColumn("prev_type", F.lag("event_type").over(w))
             .filter(F.col("prev_type").isNotNull()))
    trans = (steps.groupBy("prev_type", "event_type")
             .agg(F.count(F.lit(1)).cast("bigint").alias("n")))
    totals = (trans.groupBy("prev_type")
              .agg(F.sum("n").alias("n_from")))
    return (trans.join(F.broadcast(totals), "prev_type")
            .select("prev_type", "event_type", "n",
                    F.expr("n * 1000000 div n_from").cast("bigint")
                    .alias("prob_ppm")))


SQL_EVENT_TRANSITIONS = """
WITH steps AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type,
         event_type
  FROM events
), trans AS (
  SELECT prev_type, event_type, CAST(count(*) AS BIGINT) AS n
  FROM steps WHERE prev_type IS NOT NULL
  GROUP BY prev_type, event_type
)
SELECT prev_type, event_type, n,
       CAST((n * 1000000) // sum(n) OVER (PARTITION BY prev_type)
            AS BIGINT) AS prob_ppm
FROM trans
"""


# -- time-weighted average over event intervals ----------------------------------

def q_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per user: the time-weighted average of `value` — each reading
    weighted by how long it was in effect (until the user's next event).
    The numeric-integration shape behind TWAP pricing, uptime-weighted
    gauges, and duration-weighted metric rollups.

    Scale shape: ONE shuffle — the lead window partitions by user_id
    (streaming frame, one row of state), the weighted fold is a
    mergeable per-user groupBy on the same partitioning (no second
    exchange: Catalyst reuses the window's hash partitioning for the
    aggregation).  Exactness: durations are integer MICROSECONDS
    (timestampdiff — no float time math), values are floor-quantized to
    integer 1e-6 units once (bit-identical on both engines since they
    read the same doubles), and the weighted sum accumulates in
    DECIMAL(38,0) — unit·µs products reach ~1e18, one overflow away
    from BIGINT — so partial-agg order cannot change a single bit.
    The last reading of each user has no successor and integrates to
    zero weight (dropped), matching the oracle row-for-row."""
    ev = read_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    stepped = (ev.withColumn("next_ts", F.lead("ts").over(w))
               .filter(F.col("next_ts").isNotNull()))
    dt = F.expr("timestampdiff(MICROSECOND, ts, next_ts)")
    vu = F.floor(F.col("value") * 1_000_000).cast("decimal(38,0)")
    return (stepped
            .groupBy("user_id")
            .agg(F.sum(vu * dt.cast("decimal(38,0)")).alias("wv"),
                 F.sum(dt.cast("decimal(38,0)")).alias("wt"))
            .filter(F.col("wt") > 0)
            # `div` = exact integral division on DECIMAL (no intermediate
            # rounded quotient); values are non-negative so truncating and
            # flooring (DuckDB //) agree
            .select("user_id",
                    F.col("wt").cast("bigint").alias("held_us"),
                    F.expr("wv div wt").cast("bigint")
                    .alias("twap_units")))


SQL_TWAP = """
WITH stepped AS (
  SELECT user_id,
         CAST(floor(value * 1000000) AS HUGEINT) AS vu,
         CAST(datediff('microsecond', ts,
                       lead(ts) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id)) AS HUGEINT)
         AS dt
  FROM events
)
SELECT user_id,
       CAST(sum(dt) AS BIGINT) AS held_us,
       CAST(sum(vu * dt) // sum(dt) AS BIGINT) AS twap_units
FROM stepped
WHERE dt IS NOT NULL
GROUP BY user_id
HAVING sum(dt) > 0
"""


# -- interval-union coverage (sweep-line island merge) ----------------------------

def q_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per user: total time covered by the UNION of their activity
    intervals [ts, ts + value seconds) and the count of merged islands
    — the sweep-line/island shape behind uptime, sessionized watch
    time, and SLA-coverage rollups (overlaps must not double-count).

    Scale shape: the classic island merge is TWO windows over the SAME
    (user_id, start-ordered) partitioning — running max of prior ends
    marks island starts, a running sum of the 0/1 marks numbers the
    islands — then one mergeable groupBy((user, island)) and one per
    user; Catalyst reuses the window's hash partitioning for both
    aggregates, so the user's data is exchanged ONCE.  Exactness:
    interval ends are start + floor(value·1e6) integer MICROSECONDS —
    no float time math anywhere, bit-exact across engines."""
    ev = read_table(spark, sf_dir, "events")
    # NTZ-safe epoch micros: timestampdiff from the epoch literal (the
    # module's integer-microsecond time discipline; unix_micros rejects
    # the parquet NTZ type)
    start = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
    iv = ev.select("user_id", "event_id", start.alias("s"),
                   (start + F.floor(F.col("value") * 1_000_000)
                    .cast("bigint")).alias("e"))
    w = W.partitionBy("user_id").orderBy("s", "event_id")
    prev_max_e = F.max("e").over(w.rowsBetween(W.unboundedPreceding, -1))
    marked = iv.withColumn(
        "new_island",
        F.when(prev_max_e.isNull() | (F.col("s") > prev_max_e), 1)
         .otherwise(0))
    numbered = marked.withColumn(
        "island", F.sum("new_island").over(
            w.rowsBetween(W.unboundedPreceding, 0)))
    islands = (numbered.groupBy("user_id", "island")
               .agg((F.max("e") - F.min("s")).alias("covered_us")))
    return (islands.groupBy("user_id")
            .agg(F.sum("covered_us").cast("bigint").alias("covered_us"),
                 F.count(F.lit(1)).cast("bigint").alias("n_islands")))


SQL_INTERVAL_COVERAGE = """
WITH iv AS (
  SELECT user_id, event_id,
         epoch_us(ts) AS s,
         epoch_us(ts) + CAST(floor(value * 1000000) AS BIGINT) AS e
  FROM events
), marked AS (
  SELECT user_id, s, e,
         CASE WHEN max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING) IS NULL
                OR s > max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS new_island,
         event_id
  FROM iv
), numbered AS (
  SELECT user_id, s, e,
         sum(new_island) OVER (PARTITION BY user_id ORDER BY s, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS island
  FROM marked
), islands AS (
  SELECT user_id, island, max(e) - min(s) AS covered_us
  FROM numbered GROUP BY user_id, island
)
SELECT user_id,
       CAST(sum(covered_us) AS BIGINT) AS covered_us,
       CAST(count(*) AS BIGINT) AS n_islands
FROM islands GROUP BY user_id
"""


# -- EXISTS semi-join priority count (TPC-H Q4 shape) ---------------------------

def q_priority_wait(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders per priority, within a date window, that have at least one
    returned ('R') line item — Q4's EXISTS as a LEFT SEMI join.

    Scale shape: the date window is pushed to the orders scan; the
    EXISTS probe is a left SEMI join (first match short-circuits — no
    fan-out, no distinct needed on the 10^12-row lineitem side, and the
    probe side ships only l_orderkey after the flag filter prunes it).
    Counting after the semi join is one mergeable integer groupBy.  The
    ORACLE stays in correlated EXISTS form — the gate proves the
    semi-join de-correlation."""
    o = (read_table(spark, sf_dir, "orders")
         .filter((F.col("o_orderdate") >= F.lit("1996-01-01"))
                 & (F.col("o_orderdate") < F.lit("1996-07-01")))
         .select("o_orderkey", "o_orderpriority"))
    li = (read_table(spark, sf_dir, "lineitem")
          .filter(F.col("l_returnflag") == "R")
          .select("l_orderkey"))
    return (o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).cast("bigint").alias("order_count")))


SQL_PRIORITY_WAIT = """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority
"""


# -- promo revenue share per ship month (TPC-H Q14 shape) ------------------------

def q_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per ship month: the fraction (ppm) of discounted revenue coming
    from PROMO-type parts — the broadcast-dimension join + conditional
    ratio aggregate.

    Scale shape: part is a true dimension (bounded by the catalog, not
    the fact volume) — explicitly broadcast, so the 10^12-row lineitem
    side never shuffles for the join; the month rollup is the only
    exchange and its partial aggregates are mergeable.  Float
    discipline: revenue = price·(1−discount) is computed entirely in
    DECIMAL (exact at scale 4), quantized to integer 1e-4 units, and the
    promo share is integer-divided to ppm — both engines agree
    bit-for-bit with no float fold anywhere.  Month keys are formatted
    from the stored timestamp (no session-timezone dependency — module
    time discipline)."""
    li = read_table(spark, sf_dir, "lineitem")
    p = (read_table(spark, sf_dir, "part")
         .select("p_partkey", (F.col("p_type") == "PROMO").alias("promo")))
    dp = F.col("l_extendedprice").cast("decimal(18,2)")
    dd = F.col("l_discount").cast("decimal(18,2)")
    rev = dp * (F.lit(1).cast("decimal(18,2)") - dd)
    month = F.date_format("l_shipdate", "yyyy-MM").alias("ship_month")
    agg = (li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
           .groupBy(month)
           .agg((F.sum(F.when(F.col("promo"), rev)
                       .otherwise(F.lit(0).cast("decimal(18,2)")))
                 * 10000).cast("bigint").alias("promo_units"),
                (F.sum(rev) * 10000).cast("bigint").alias("all_units")))
    # ppm numerator in DECIMAL(38,0) — promo_units is a revenue-unit sum
    # that wraps BIGINT past 9.2e12 units when multiplied by 1e6 (see
    # q_market_share); only the final sub-1e6 quotient returns to BIGINT
    return agg.select(
        "ship_month", "promo_units", "all_units",
        F.expr("CAST(promo_units AS DECIMAL(38,0)) * 1000000 div all_units")
        .cast("bigint").alias("promo_ppm"))


SQL_PROMO_SHARE = """
WITH j AS (
  SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
         CAST(l_extendedprice AS DECIMAL(18,2))
         * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
         AS rev,
         p_type = 'PROMO' AS promo
  FROM lineitem JOIN part ON l_partkey = p_partkey
)
SELECT ship_month,
       CAST(sum(CASE WHEN promo THEN rev ELSE CAST(0 AS DECIMAL(18,2)) END)
            * 10000 AS BIGINT) AS promo_units,
       CAST(sum(rev) * 10000 AS BIGINT) AS all_units,
       CAST((CAST(CAST(sum(CASE WHEN promo THEN rev
                                ELSE CAST(0 AS DECIMAL(18,2)) END)
                       * 10000 AS BIGINT) AS HUGEINT) * 1000000)
            // CAST(sum(rev) * 10000 AS BIGINT) AS BIGINT) AS promo_ppm
FROM j
GROUP BY ship_month
"""


# -- pure scan-side aggregate (TPC-H Q6 shape) -----------------------------------

def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-revenue-change: one pass over lineitem with every
    predicate (date window, discount band, quantity cap) pushed to the
    parquet scan and a single mergeable aggregate on top.

    Scale shape: this is the degenerate-but-important plan — no join, no
    window, ONE exchange (the final 1-row reduce).  At 10^12 rows the
    entire cost is the scan, so the plan must show PushedFilters for all
    four predicates and read only the three columns the aggregate needs
    (ReadSchema discipline).  revenue = price·discount accumulates in
    DECIMAL (exact, order-independent) and ships as integer 1e-4 units."""
    li = read_table(spark, sf_dir, "lineitem")
    dp = F.col("l_extendedprice").cast("decimal(18,2)")
    dd = F.col("l_discount").cast("decimal(18,2)")
    return (li.filter((F.col("l_shipdate") >= F.lit("1996-01-01"))
                      & (F.col("l_shipdate") < F.lit("1997-01-01"))
                      & (F.col("l_discount") >= 0.05)
                      & (F.col("l_discount") <= 0.07)
                      & (F.col("l_quantity") < 24))
            .agg((F.sum(dp * dd) * 10000).cast("bigint")
                 .alias("revenue_units"),
                 F.count(F.lit(1)).cast("bigint").alias("n_lines")))


SQL_FORECAST_REVENUE = """
SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
               * CAST(l_discount AS DECIMAL(18,2))) * 10000 AS BIGINT)
         AS revenue_units,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
"""


# -- correlated-average de-correlation (TPC-H Q17 shape) --------------------------

def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue from lineitems whose quantity is below 20% of the
    per-part average — Q17's correlated AVG subquery de-correlated into
    one per-part aggregate joined back to the fact rows.

    Scale shape: the textbook plan re-scans lineitem once per outer row;
    here the part filter semi-joins first (part is a broadcast dim, so
    the 10^12-row fact side never shuffles for it), then ONE
    groupBy(partkey) aggregate and ONE co-partitioned join back — both
    exchanges hash on the same key, so AQE reuses the partitioning.
    Boundary discipline: qty < avg/5 is cross-multiplied to
    5·qty·n < Σqty in exact BIGINTs (quantities are integral) — neither
    engine divides, so the threshold cannot straddle a float ulp."""
    li = read_table(spark, sf_dir, "lineitem")
    p = (read_table(spark, sf_dir, "part")
         .filter(F.col("p_type") == "SMALL").select("p_partkey"))
    lif = (li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
           .select("l_partkey",
                   F.col("l_quantity").cast("bigint").alias("qty"),
                   F.col("l_extendedprice").cast("decimal(18,2)")
                   .alias("price")))
    stats = lif.groupBy("l_partkey").agg(
        F.sum("qty").alias("sum_qty"),
        F.count(F.lit(1)).alias("n_li"))
    keep = (lif.join(stats, "l_partkey")
            .filter(F.col("qty") * F.lit(5) * F.col("n_li")
                    < F.col("sum_qty")))
    return keep.agg(
        (F.sum("price") * 100).cast("bigint").alias("small_units"),
        F.count(F.lit(1)).cast("bigint").alias("n_small"))


SQL_SMALL_QTY_REVENUE = """
SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT)
         AS small_units,
       CAST(count(*) AS BIGINT) AS n_small
FROM lineitem l JOIN part ON l_partkey = p_partkey
WHERE p_type = 'SMALL'
  AND CAST(l_quantity AS BIGINT) * 5
      * (SELECT count(*) FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
      < (SELECT sum(CAST(l2.l_quantity AS BIGINT))
         FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
"""


# -- disjunctive predicate join (TPC-H Q19 shape) ---------------------------------

def q_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue matching an OR of three (brand, size-range, qty-range)
    conjunctions — the disjunctive-pushdown shape.

    Scale shape: the join stays a plain broadcast hash join on partkey
    (the disjunction must NOT turn it into a nested-loop join — only the
    equi key feeds the hash table; the OR evaluates as a post-join
    filter in the same codegen stage).  The common conjunct
    (l_returnflag != 'R') is factored OUT of the disjunction so it
    pushes to the fact scan and prunes before the join.  One exchange
    total (the 1-row reduce)."""
    li = (read_table(spark, sf_dir, "lineitem")
          .filter(F.col("l_returnflag") != "R"))
    p = read_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    qty = F.col("l_quantity")
    cond = (((F.col("p_brand") == "Brand#1")
             & F.col("p_size").between(1, 15) & qty.between(1, 11))
            | ((F.col("p_brand") == "Brand#2")
               & F.col("p_size").between(1, 25) & qty.between(10, 20))
            | ((F.col("p_brand") == "Brand#3")
               & F.col("p_size").between(1, 35) & qty.between(20, 30)))
    dp = F.col("l_extendedprice").cast("decimal(18,2)")
    dd = F.col("l_discount").cast("decimal(18,2)")
    rev = dp * (F.lit(1).cast("decimal(18,2)") - dd)
    return (j.filter(cond)
            .agg((F.sum(rev) * 10000).cast("bigint").alias("revenue_units"),
                 F.count(F.lit(1)).cast("bigint").alias("n_lines")))


SQL_DISJUNCTIVE_REVENUE = """
SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
               * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
            * 10000 AS BIGINT) AS revenue_units,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_returnflag != 'R'
  AND ((p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
        AND l_quantity BETWEEN 1 AND 11)
    OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
        AND l_quantity BETWEEN 10 AND 20)
    OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
        AND l_quantity BETWEEN 20 AND 30))
"""


# -- max-over-aggregated-view (TPC-H Q15 shape) -----------------------------------

def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The supplier(s) with the highest revenue in 1996 H1 — Q15's
    revenue view + scalar-max selection.

    Scale shape: per-supplier revenue is one mergeable groupBy; the
    global max is a 1-ROW aggregate broadcast back as an equality filter
    — never a global sort and never a single-reducer window over all
    suppliers.  Ties all surface (exact integer units, so 'equal' is
    well-defined).  The supplier dim broadcasts for the name."""
    li = (read_table(spark, sf_dir, "lineitem")
          .filter((F.col("l_shipdate") >= F.lit("1996-01-01"))
                  & (F.col("l_shipdate") < F.lit("1996-07-01"))))
    dp = F.col("l_extendedprice").cast("decimal(18,2)")
    dd = F.col("l_discount").cast("decimal(18,2)")
    rev = dp * (F.lit(1).cast("decimal(18,2)") - dd)
    per_supp = (li.groupBy("l_suppkey")
                .agg((F.sum(rev) * 10000).cast("bigint")
                     .alias("total_units")))
    best = per_supp.agg(F.max("total_units").alias("mx"))
    s = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (per_supp.join(F.broadcast(best),
                          per_supp.total_units == F.col("mx"))
            .join(F.broadcast(s), per_supp.l_suppkey == s.s_suppkey)
            .select("s_suppkey", "s_name", "total_units"))


SQL_TOP_SUPPLIER = """
WITH r AS (
  SELECT l_suppkey,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                  * (CAST(1 AS DECIMAL(18,2))
                     - CAST(l_discount AS DECIMAL(18,2)))) * 10000 AS BIGINT)
           AS total_units
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-07-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_units
FROM supplier JOIN r ON s_suppkey = l_suppkey
WHERE total_units = (SELECT max(total_units) FROM r)
"""


# -- group share vs global scalar (TPC-H Q11 shape) --------------------------------

def q_supplier_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers whose lifetime revenue exceeds the mean supplier
    revenue — Q11's 'group aggregate vs a scalar over the same
    aggregate' shape.

    Scale shape: ONE groupBy(suppkey) produces both sides — the global
    (total, n_suppliers) scalar is a 1-row re-aggregate of the group
    result, broadcast back as a crossJoin; the threshold
    rev > total/n is cross-multiplied to rev·n > total in exact BIGINTs
    so neither engine divides.  The fact table is read once."""
    li = read_table(spark, sf_dir, "lineitem")
    dp = F.col("l_extendedprice").cast("decimal(18,2)")
    dd = F.col("l_discount").cast("decimal(18,2)")
    rev = dp * (F.lit(1).cast("decimal(18,2)") - dd)
    per_supp = (li.groupBy("l_suppkey")
                .agg((F.sum(rev) * 10000).cast("bigint")
                     .alias("rev_units")))
    totals = per_supp.agg(F.sum("rev_units").alias("total_units"),
                          F.count(F.lit(1)).alias("n_supp"))
    return (per_supp.crossJoin(F.broadcast(totals))
            .filter(F.col("rev_units") * F.col("n_supp")
                    > F.col("total_units"))
            .select(F.col("l_suppkey").alias("s_suppkey"), "rev_units"))


SQL_SUPPLIER_CONCENTRATION = """
WITH r AS (
  SELECT l_suppkey,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                  * (CAST(1 AS DECIMAL(18,2))
                     - CAST(l_discount AS DECIMAL(18,2)))) * 10000 AS BIGINT)
           AS rev_units
  FROM lineitem GROUP BY l_suppkey
), t AS (
  SELECT sum(rev_units) AS total_units, count(*) AS n_supp FROM r
)
SELECT l_suppkey AS s_suppkey, rev_units
FROM r, t
WHERE rev_units * n_supp > total_units
"""


# -- region-mapped dimension helpers (Q2/Q7/Q8 shapes) -----------------------------
#
# supplier/customer ⋈ nation ⋈ region collapse to ONE tiny broadcast side
# each: nation (25 rows) and region (5 rows) fold into the entity dim
# before it ships, so the fact side sees a single broadcast hash join per
# entity — never a chain of three joins on the 10^12-row side.

def _supp_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region")
    return (s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
            .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
            .select("s_suppkey", "s_name",
                    F.col("n_name").alias("supp_nation"),
                    F.col("r_name").alias("supp_region")))


def _cust_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region")
    return (c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
            .select("c_custkey", F.col("r_name").alias("cust_region")))


_SQL_EUR = """
  SELECT s_suppkey, s_name, n_name
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
                JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
"""


# -- correlated scalar-MIN de-correlation (TPC-H Q2 shape) --------------------------

def q_min_price_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each small part (p_size ≤ 10): the EUROPE supplier(s) whose
    lineitem price achieves the per-part minimum — Q2's correlated
    MIN-cost subquery de-correlated into one per-part aggregate.

    Scale shape: the correlated form re-scans the fact per part; here
    the region-restricted supplier dim folds to one broadcast
    (supplier⋈nation⋈region collapses BEFORE touching the fact), the
    part filter is a second broadcast, then ONE groupBy(partkey) MIN and
    ONE co-partitioned join back on (partkey, price) — both exchanges
    hash on partkey.  Prices compare as exact integer cents, so the
    min-equality join cannot straddle a float ulp; ties all surface and
    the trailing distinct collapses same-supplier duplicates.  The
    ORACLE stays correlated — the gate proves the de-correlation."""
    eur = _supp_region(spark, sf_dir).filter(
        F.col("supp_region") == "EUROPE").drop("supp_region")
    p = (read_table(spark, sf_dir, "part")
         .filter(F.col("p_size") <= 10).select("p_partkey"))
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey",
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("bigint").alias("price_units"))
    f = (li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
         .join(F.broadcast(eur), li.l_suppkey == eur.s_suppkey))
    mn = f.groupBy("l_partkey").agg(F.min("price_units").alias("min_units"))
    return (f.join(mn, "l_partkey")
            .filter(F.col("price_units") == F.col("min_units"))
            .select(F.col("l_partkey").alias("p_partkey"), "s_suppkey",
                    "s_name", F.col("supp_nation").alias("n_name"),
                    "min_units")
            .distinct())


SQL_MIN_PRICE_SUPPLIER = f"""
WITH eur AS ({_SQL_EUR})
SELECT DISTINCT l.l_partkey AS p_partkey, e.s_suppkey, e.s_name, e.n_name,
       CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
         AS min_units
FROM lineitem l
JOIN part ON l.l_partkey = p_partkey
JOIN eur e ON l.l_suppkey = e.s_suppkey
WHERE p_size <= 10
  AND CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) =
      (SELECT min(CAST(CAST(l2.l_extendedprice AS DECIMAL(18,2)) * 100
                       AS BIGINT))
       FROM lineitem l2 JOIN eur e2 ON l2.l_suppkey = e2.s_suppkey
       WHERE l2.l_partkey = l.l_partkey)
"""


# -- two-dimension-pair trade volume (TPC-H Q7 shape) -------------------------------

def q_region_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping revenue between the AMERICA and ASIA regions (both
    directions) per ship year — Q7's aliased double-dimension join with
    a disjunctive pair predicate.

    Scale shape: lineitem⋈orders is the one fact-fact shuffle (equi on
    orderkey); the supplier-side and customer-side region lookups are
    two INDEPENDENT broadcast joins of pre-collapsed dim chains (the
    nation⋈region fold happens on the 10-row side, never on the fact).
    The pair disjunction evaluates post-join in the same stage — it must
    not break the equi joins.  Year keys come from the stored timestamp
    (no session-timezone dependency)."""
    li = (read_table(spark, sf_dir, "lineitem")
          .filter((F.col("l_shipdate") >= F.lit("1996-01-01"))
                  & (F.col("l_shipdate") < F.lit("1998-01-01"))))
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    sup = (_supp_region(spark, sf_dir)
           .select("s_suppkey", "supp_region"))
    cus = _cust_region(spark, sf_dir)
    dp = F.col("l_extendedprice").cast("decimal(18,2)")
    dd = F.col("l_discount").cast("decimal(18,2)")
    rev = dp * (F.lit(1).cast("decimal(18,2)") - dd)
    pair = (((F.col("supp_region") == "AMERICA")
             & (F.col("cust_region") == "ASIA"))
            | ((F.col("supp_region") == "ASIA")
               & (F.col("cust_region") == "AMERICA")))
    return (li.join(o, li.l_orderkey == o.o_orderkey)
            .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
            .join(F.broadcast(cus), o.o_custkey == cus.c_custkey)
            .filter(pair)
            .groupBy("supp_region", "cust_region",
                     F.date_format("l_shipdate", "yyyy").alias("ship_year"))
            .agg((F.sum(rev) * 10000).cast("bigint").alias("revenue_units"),
                 F.count(F.lit(1)).cast("bigint").alias("n_lines")))


SQL_REGION_TRADE = """
WITH sup AS (
  SELECT s_suppkey, r_name AS supp_region
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
                JOIN region ON n_regionkey = r_regionkey
), cus AS (
  SELECT c_custkey, r_name AS cust_region
  FROM customer JOIN nation ON c_nationkey = n_nationkey
                JOIN region ON n_regionkey = r_regionkey
)
SELECT supp_region, cust_region, strftime(l_shipdate, '%Y') AS ship_year,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2))
                   - CAST(l_discount AS DECIMAL(18,2)))) * 10000 AS BIGINT)
         AS revenue_units,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN sup ON l_suppkey = s_suppkey
JOIN cus ON o_custkey = c_custkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  AND ((supp_region = 'AMERICA' AND cust_region = 'ASIA')
    OR (supp_region = 'ASIA' AND cust_region = 'AMERICA'))
GROUP BY supp_region, cust_region, ship_year
"""


# -- conditional market share (TPC-H Q8 shape) --------------------------------------

def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASIA suppliers' share (ppm) of STANDARD-part revenue sold to
    AMERICA customers, per ship year — Q8's two-level conditional ratio.

    Scale shape: same single fact-fact shuffle as Q7; part and the two
    region lookups broadcast.  The share is a CONDITIONAL aggregate (the
    numerator is a when() inside the same groupBy, not a second pass) —
    one exchange computes both numerator and denominator, then an exact
    integer division to ppm."""
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    p = (read_table(spark, sf_dir, "part")
         .filter(F.col("p_type") == "STANDARD").select("p_partkey"))
    sup = _supp_region(spark, sf_dir).select("s_suppkey", "supp_region")
    cus = (_cust_region(spark, sf_dir)
           .filter(F.col("cust_region") == "AMERICA").select("c_custkey"))
    dp = F.col("l_extendedprice").cast("decimal(18,2)")
    dd = F.col("l_discount").cast("decimal(18,2)")
    rev = dp * (F.lit(1).cast("decimal(18,2)") - dd)
    agg = (li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
           .join(o, li.l_orderkey == o.o_orderkey)
           .join(F.broadcast(cus), o.o_custkey == cus.c_custkey)
           .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
           .groupBy(F.date_format("l_shipdate", "yyyy").alias("ship_year"))
           .agg((F.sum(F.when(F.col("supp_region") == "ASIA", rev)
                       .otherwise(F.lit(0).cast("decimal(18,2)")))
                 * 10000).cast("bigint").alias("asia_units"),
                (F.sum(rev) * 10000).cast("bigint").alias("all_units")))
    # ppm numerator in DECIMAL(38,0): asia_units is a revenue-unit sum
    # (~1e16 at 100 TB), so * 1e6 in BIGINT silently wraps past 9.2e12
    # units — the quantization discipline multiplies in decimal and only
    # the final quotient (always < 1e6) returns to BIGINT
    return agg.select(
        "ship_year", "asia_units", "all_units",
        F.expr("CAST(asia_units AS DECIMAL(38,0)) * 1000000 div all_units")
        .cast("bigint").alias("asia_ppm"))


SQL_MARKET_SHARE = """
WITH sup AS (
  SELECT s_suppkey, r_name AS supp_region
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
                JOIN region ON n_regionkey = r_regionkey
), cus AS (
  SELECT c_custkey
  FROM customer JOIN nation ON c_nationkey = n_nationkey
                JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'AMERICA'
), j AS (
  SELECT strftime(l_shipdate, '%Y') AS ship_year,
         CAST(l_extendedprice AS DECIMAL(18,2))
         * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
           AS rev,
         supp_region = 'ASIA' AS is_asia
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN cus ON o_custkey = c_custkey
  JOIN sup ON l_suppkey = s_suppkey
  WHERE p_type = 'STANDARD'
), a AS (
  SELECT ship_year,
         CAST(sum(CASE WHEN is_asia THEN rev
                       ELSE CAST(0 AS DECIMAL(18,2)) END) * 10000 AS BIGINT)
           AS asia_units,
         CAST(sum(rev) * 10000 AS BIGINT) AS all_units
  FROM j GROUP BY ship_year
)
SELECT ship_year, asia_units, all_units,
       CAST(CAST(asia_units AS HUGEINT) * 1000000 // all_units
            AS BIGINT) AS asia_ppm
FROM a
"""


# -- expression-profit rollup (TPC-H Q9 shape) --------------------------------------

def q_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profit on '%bolt%' parts per (supplier nation, ship year) — Q9's
    expression aggregate joining fact columns with a dimension cost
    column (p_retailprice stands in for ps_supplycost; the corpus has no
    partsupp table).

    Scale shape: part (LIKE-filtered) and the supplier-nation fold both
    broadcast; profit = rev − qty·cost is computed per row in exact
    integer 1e-4 units BEFORE the rollup, so the aggregate is one
    mergeable integer sum — no decimal mixing across partial aggregates.
    One exchange (the nation×year rollup)."""
    li = read_table(spark, sf_dir, "lineitem")
    p = (read_table(spark, sf_dir, "part")
         .filter(F.col("p_name").like("%bolt%"))
         .select("p_partkey",
                 (F.col("p_retailprice").cast("decimal(18,2)") * 10000)
                 .cast("bigint").alias("retail_units")))
    sup = _supp_region(spark, sf_dir).select(
        "s_suppkey", F.col("supp_nation").alias("n_name"))
    dp = F.col("l_extendedprice").cast("decimal(18,2)")
    dd = F.col("l_discount").cast("decimal(18,2)")
    rev_units = ((dp * (F.lit(1).cast("decimal(18,2)") - dd)) * 10000) \
        .cast("bigint")
    profit = (rev_units
              - F.col("l_quantity").cast("bigint") * F.col("retail_units"))
    return (li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
            .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
            .groupBy("n_name",
                     F.date_format("l_shipdate", "yyyy").alias("ship_year"))
            .agg(F.sum(profit).cast("bigint").alias("profit_units"),
                 F.count(F.lit(1)).cast("bigint").alias("n_lines")))


SQL_PRODUCT_PROFIT = """
WITH sup AS (
  SELECT s_suppkey, n_name
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
)
SELECT n_name, strftime(l_shipdate, '%Y') AS ship_year,
       CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                     * (CAST(1 AS DECIMAL(18,2))
                        - CAST(l_discount AS DECIMAL(18,2)))
                     * 10000 AS BIGINT)
                - CAST(l_quantity AS BIGINT)
                  * CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 10000
                         AS BIGINT)) AS BIGINT) AS profit_units,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN sup ON l_suppkey = s_suppkey
WHERE p_name LIKE '%bolt%'
GROUP BY n_name, ship_year
"""


# -- distinct-count distribution with NOT-IN exclusion (TPC-H Q16 shape) ------------

def q_part_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct shipping suppliers per (brand, type, size) for
    non-PROMO parts, excluding low-balance suppliers — Q16's NOT IN →
    anti-join with a two-phase distinct count.

    Scale shape: the NOT IN is a broadcast LEFT ANTI join (the excluded
    set is supplier-dim-sized); count(DISTINCT suppkey) per group runs
    as TWO mergeable aggregates — dedupe (brand,type,size,suppkey)
    first (map-side partial dedup), then a plain count — never an
    expensive distinct inside a single aggregate at 10^12 rows."""
    bad = (read_table(spark, sf_dir, "supplier")
           .filter(F.col("s_acctbal") < 2000).select("s_suppkey"))
    p = (read_table(spark, sf_dir, "part")
         .filter(F.col("p_type") != "PROMO")
         .select("p_partkey", "p_brand", "p_type", "p_size"))
    li = read_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    pairs = (li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey,
                     "left_anti")
             .join(F.broadcast(p), li.l_partkey == p.p_partkey)
             .groupBy("p_brand", "p_type", "p_size", "l_suppkey")
             .agg(F.lit(1).alias("_one")))
    return (pairs.groupBy("p_brand", "p_type", "p_size")
            .agg(F.count(F.lit(1)).cast("bigint").alias("supplier_cnt")))


SQL_PART_SUPPLIER_COUNTS = """
SELECT p_brand, p_type, p_size,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_type != 'PROMO'
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                        WHERE s_acctbal < 2000)
GROUP BY p_brand, p_type, p_size
"""


# -- two-level-aggregate dominance + semi-join chain (TPC-H Q20 shape) --------------

def q_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers who shipped more than half of some PROMO part's total
    1997 quantity — Q20's correlated availability threshold recast over
    the two-level (part, supplier) aggregate, then a semi-join chain
    into the supplier⋈nation dims.

    Scale shape: the per-(part,supplier) aggregate is computed ONCE and
    re-aggregated to per-part totals (the second level consumes the
    first's output — tiny — never a second fact scan); both hash on
    partkey, so the dominance join back is co-partitioned.  The
    qualifying suppkey set is a distinct projection semi-joined into
    the broadcast dim fold.  Quantities are exact BIGINTs; 2·qty_ps >
    qty_p needs no division.  The ORACLE keeps the correlated IN +
    scalar-subquery form — the gate proves the flattening."""
    promo = (read_table(spark, sf_dir, "part")
             .filter(F.col("p_type") == "PROMO").select("p_partkey"))
    li = (read_table(spark, sf_dir, "lineitem")
          .filter((F.col("l_shipdate") >= F.lit("1997-01-01"))
                  & (F.col("l_shipdate") < F.lit("1998-01-01")))
          .select("l_partkey", "l_suppkey",
                  F.col("l_quantity").cast("bigint").alias("qty")))
    ps = (li.join(F.broadcast(promo), li.l_partkey == promo.p_partkey)
          .groupBy("l_partkey", "l_suppkey")
          .agg(F.sum("qty").alias("qty_ps")))
    pt = ps.groupBy("l_partkey").agg(F.sum("qty_ps").alias("qty_p"))
    dom = (ps.join(pt, "l_partkey")
           .filter(F.col("qty_ps") * 2 > F.col("qty_p"))
           .select("l_suppkey").distinct())
    sup = _supp_region(spark, sf_dir).select(
        "s_suppkey", "s_name", F.col("supp_nation").alias("n_name"))
    return (sup.join(dom, sup.s_suppkey == dom.l_suppkey, "left_semi")
            .select("s_suppkey", "s_name", "n_name"))


SQL_DOMINANT_SUPPLIERS = """
WITH f AS (
  SELECT l_partkey, l_suppkey, CAST(l_quantity AS BIGINT) AS qty
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_type = 'PROMO'
    AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
), ps AS (
  SELECT l_partkey, l_suppkey, sum(qty) AS qty_ps FROM f GROUP BY 1, 2
)
SELECT s_suppkey, s_name, n_name
FROM supplier JOIN nation ON s_nationkey = n_nationkey
WHERE s_suppkey IN (
  SELECT l_suppkey FROM ps
  WHERE 2 * qty_ps > (SELECT sum(p2.qty_ps) FROM ps p2
                      WHERE p2.l_partkey = ps.l_partkey))
"""


QUERIES = {
    "rel_pricing_summary": (q_pricing_summary, SQL_PRICING_SUMMARY),
    "rel_waiting_suppliers": (q_waiting_suppliers, SQL_WAITING_SUPPLIERS),
    "rel_idle_customers": (q_idle_customers, SQL_IDLE_CUSTOMERS),
    "rel_priority_wait": (q_priority_wait, SQL_PRIORITY_WAIT),
    "rel_promo_share": (q_promo_share, SQL_PROMO_SHARE),
    "rel_forecast_revenue": (q_forecast_revenue, SQL_FORECAST_REVENUE),
    "rel_small_qty_revenue": (q_small_qty_revenue, SQL_SMALL_QTY_REVENUE),
    "rel_disjunctive_revenue": (q_disjunctive_revenue,
                                SQL_DISJUNCTIVE_REVENUE),
    "rel_top_supplier": (q_top_supplier, SQL_TOP_SUPPLIER),
    "rel_supplier_concentration": (q_supplier_concentration,
                                   SQL_SUPPLIER_CONCENTRATION),
    "rel_min_price_supplier": (q_min_price_supplier,
                               SQL_MIN_PRICE_SUPPLIER),
    "rel_region_trade": (q_region_trade, SQL_REGION_TRADE),
    "rel_market_share": (q_market_share, SQL_MARKET_SHARE),
    "rel_product_profit": (q_product_profit, SQL_PRODUCT_PROFIT),
    "rel_part_supplier_counts": (q_part_supplier_counts,
                                 SQL_PART_SUPPLIER_COUNTS),
    "rel_dominant_suppliers": (q_dominant_suppliers,
                               SQL_DOMINANT_SUPPLIERS),
    "rel_event_transitions": (q_event_transitions, SQL_EVENT_TRANSITIONS),
    "rel_twap": (q_twap, SQL_TWAP),
    "rel_interval_coverage": (q_interval_coverage, SQL_INTERVAL_COVERAGE),
    "rel_json_props": (q_json_props, SQL_JSON_PROPS),
    "rel_range_join": (q_range_join, SQL_RANGE_JOIN),
    "rel_gapfill_locf": (q_gapfill_locf, SQL_GAPFILL_LOCF),
    "rel_moments_corr": (q_moments_corr, SQL_MOMENTS_CORR),
    "rel_local_supplier_volume": (q_local_supplier_volume,
                                  SQL_LOCAL_SUPPLIER_VOLUME),
    "rel_skew_salted_join": (q_skew_salted_join, SQL_SKEW_SALTED_JOIN),
    "rel_large_orders": (q_large_orders, SQL_LARGE_ORDERS),
    "rel_priority_class": (q_priority_class, SQL_PRIORITY_CLASS),
    "rel_order_count_hist": (q_order_count_hist, SQL_ORDER_COUNT_HIST),
    "rel_rolling_1h": (q_rolling_1h, SQL_ROLLING_1H),
    "rel_pivot": (q_rel_pivot, SQL_REL_PIVOT),
    "rel_set_ops": (q_rel_set_ops, SQL_REL_SET_OPS),
    "rel_asof_attribution": (q_asof_attribution, SQL_ASOF_ATTRIBUTION),
    "rel_salted_source_stats": (q_salted_source_stats, SQL_SALTED_SOURCE_STATS),
    "rel_segment_revenue": (q_segment_revenue, SQL_SEGMENT_REVENUE),
    "rel_top_orders": (q_top_orders, SQL_TOP_ORDERS),
    "rel_sessionize": (q_sessionize, SQL_SESSIONIZE),
    "rel_tumbling_hourly": (q_tumbling_hourly, SQL_TUMBLING_HOURLY),
    "rel_revenue_rollup": (q_revenue_rollup, SQL_REVENUE_ROLLUP),
    "rel_cube_mix": (q_cube_mix, SQL_CUBE_MIX),
    "rel_skyline_suppliers": (q_skyline_suppliers, SQL_SKYLINE_SUPPLIERS),
    "rel_funnel": (q_funnel, SQL_FUNNEL),
    "rel_cdc_apply": (q_cdc_apply, SQL_CDC_APPLY),
    "rel_scd2_history": (q_scd2_history, SQL_SCD2_HISTORY),
    "rel_cohort_retention": (q_cohort_retention, SQL_COHORT_RETENTION),
}

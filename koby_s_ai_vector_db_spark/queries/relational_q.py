"""Relational join/aggregation queries over the TPC-H-ish backbone.

SURVEY §2.7: the reference has "no joins beyond the positional id↔metadata
join and FK lookups" — a gap the north star says to fill. These queries
exercise the multi-table planning a 100 TB engine lives on: broadcast of
small dimensions, partial aggregation below the shuffle, filter pushdown
into the parquet scan, and join ordering left to Catalyst/AQE.

Plans verified (.explain): dimension tables (region/nation/customer-agg)
arrive via BroadcastExchange; lineitem scans show PushedFilters for the
date bounds; aggregates are partial+final HashAggregate pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from koby_s_ai_vector_db_spark.functions.caching import memo_persist
from koby_s_ai_vector_db_spark.operators.bloom import bloom_build, bloom_prefilter
from koby_s_ai_vector_db_spark.registry import register
from koby_s_ai_vector_db_spark.sources.tables import load_tables


def _disc_price():
    """Exact decimal money math: fixture prices/discounts are 2-decimal, so
    DECIMAL(18,2) arithmetic is exact and ORDER-INDEPENDENT — double sums
    over large groups diverge between engines by more than any safe
    rounding (different summation order)."""
    return F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)")
    )

_REL_PRICING = """
SELECT l_returnflag, l_linestatus,
       count(*) AS n_items,
       round(sum(l_quantity), 4) AS sum_qty,
       round(CAST(sum(l_extendedprice::DECIMAL(18,2)) AS DOUBLE), 4) AS sum_base_price,
       round(CAST(sum(l_extendedprice::DECIMAL(18,2) * (1::DECIMAL(18,2) - l_discount::DECIMAL(18,2))) AS DOUBLE), 4) AS sum_disc_price,
       round(avg(l_discount), 6) AS avg_disc
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@register("rel_pricing_summary", _REL_PRICING)
def rel_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: single-pass partial+final aggregate, date filter
    pushed into the parquet scan."""
    t = load_tables(spark, sf_dir, "lineitem")
    li = t["lineitem"].filter(
        F.col("l_shipdate") <= F.to_timestamp(F.lit("1998-09-01 00:00:00"))
    )
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_items"),
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double"), 4).alias(
            "sum_base_price"
        ),
        F.round(F.sum(_disc_price()).cast("double"), 4).alias("sum_disc_price"),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
    )


_REL_REVENUE = """
SELECT n.n_name AS nation,
       round(CAST(sum(l.l_extendedprice::DECIMAL(18,2) * (1::DECIMAL(18,2) - l.l_discount::DECIMAL(18,2))) AS DOUBLE), 4) AS revenue,
       count(DISTINCT o.o_orderkey) AS n_orders
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
GROUP BY n.n_name
"""


@register("rel_revenue_by_nation", _REL_REVENUE)
def rel_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: fact⨝fact shuffle join on orderkey; customer,
    nation, region ride in as broadcasts (region filter prunes before the
    join). Catalyst/AQE picks the order."""
    t = load_tables(spark, sf_dir, "lineitem", "orders", "customer", "nation", "region")
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(
            F.broadcast(t["region"].filter(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.round(F.sum(_disc_price()).cast("double"), 4).alias("revenue"),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
    )


_REL_TOP_PARTS = """
WITH part_rev AS (
    SELECT l_partkey, round(CAST(sum(l_extendedprice::DECIMAL(18,2) * (1::DECIMAL(18,2) - l_discount::DECIMAL(18,2))) AS DOUBLE), 4) AS revenue
    FROM lineitem GROUP BY l_partkey
),
ranked AS (
    SELECT p.p_partkey, p.p_brand, pr.revenue,
           row_number() OVER (PARTITION BY p.p_brand
                              ORDER BY pr.revenue DESC, p.p_partkey ASC) AS rank
    FROM part_rev pr JOIN part p ON pr.l_partkey = p.p_partkey
)
SELECT p_partkey, p_brand, revenue, rank FROM ranked WHERE rank <= 3
"""


@register("rel_top_parts_by_brand", _REL_TOP_PARTS)
def rel_top_parts_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate-then-join + per-brand top-3: the partial aggregate shrinks
    lineitem to one row per part BEFORE the join (never join then
    aggregate); the rank window is partitioned by brand →
    WindowGroupLimit pre-truncates per task."""
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir, "lineitem", "part")
    part_rev = (
        t["lineitem"]
        .groupBy("l_partkey")
        .agg(F.round(F.sum(_disc_price()).cast("double"), 4).alias("revenue"))
    )
    w = Window.partitionBy("p_brand").orderBy(F.desc("revenue"), F.asc("p_partkey"))
    return (
        part_rev.join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("p_partkey", "p_brand", "revenue", "rank")
    )


# --- round-9 prebuild (NOT registered: the round-8 window is full) -----------
# Pre-earned per SURVEY §9 fold mechanics in reverse: function + oracle +
# parity test land this round; the @register decoration is added in round 9
# when the window rotation frees slots. Parity is enforced every pytest run
# by tests/test_prebuilt_r9.py.

# TPC-H Q3 shape ("shipping priority"): segment-filtered customers joined to
# unshipped orders, revenue per order, top-10. The reference has no multi-
# table OLAP at all (SURVEY §2.7); this rounds out the relational family
# beyond Q1 (rel_pricing_summary) and the two join shapes above.
Q3_SEGMENT = "BUILDING"
Q3_CUT = "1998-03-15 00:00:00"

_REL_SHIP_PRIO = f"""
WITH rev AS (
    SELECT l.l_orderkey, o.o_orderdate, o.o_orderpriority,
           sum(l.l_extendedprice::DECIMAL(18,2)
               * (1::DECIMAL(18,2) - l.l_discount::DECIMAL(18,2))) AS rev_d
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = '{Q3_SEGMENT}'
      AND o.o_orderdate < TIMESTAMP '{Q3_CUT}'
      AND l.l_shipdate > TIMESTAMP '{Q3_CUT}'
    GROUP BY 1, 2, 3
)
SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       o_orderpriority, round(CAST(rev_d AS DOUBLE), 4) AS revenue
FROM rev
ORDER BY rev_d DESC, l_orderkey ASC
LIMIT 10
"""


@register("rel_shipping_priority", _REL_SHIP_PRIO)
def rel_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: both date filters push into the parquet scans, the
    segment-filtered customer key set joins orders (AQE picks broadcast at
    fixture scale; at 100 TB it is a shuffle join on custkey — 1/5 of
    customers is not a broadcastable dimension), then one shuffle on
    orderkey and a partial+final aggregate. Top-10 is TakeOrdered on the
    EXACT decimal revenue (display rounding happens after the cut), so the
    boundary is deterministic cross-engine."""
    t = load_tables(spark, sf_dir, "customer", "orders", "lineitem")
    cut = F.to_timestamp(F.lit(Q3_CUT))
    cust = (
        t["customer"]
        .filter(F.col("c_mktsegment") == Q3_SEGMENT)
        .select("c_custkey")
    )
    orders = t["orders"].filter(F.col("o_orderdate") < cut)
    li = t["lineitem"].filter(F.col("l_shipdate") > cut)
    rev = (
        orders.join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(_disc_price()).alias("rev_d"))
    )
    return (
        rev.orderBy(F.desc("rev_d"), F.asc("l_orderkey"))
        .limit(10)
        .select(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
            F.round(F.col("rev_d").cast("double"), 4).alias("revenue"),
        )
    )


# Unregistered 100 TB-path twin (VERDICT r09 item 6): at fixture scale
# AQE broadcasts the segment-filtered customer side of Q3; on a real
# cluster that side is 1/5 of all customers — NOT broadcastable — and
# the plan is a shuffle join on custkey. This twin FORCES that path
# (merge hints on both joins) so the probe can time the plan the query
# would actually run at 100 TB, at any local sf, without touching the
# registered query. Value parity with rel_shipping_priority is pinned in
# tests/test_relational.py; scripts/scale_probe.py carries it as an
# EXTRA_PROBES entry.
def rel_shipping_priority_shuffle(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    t = load_tables(spark, sf_dir, "customer", "orders", "lineitem")
    cut = F.to_timestamp(F.lit(Q3_CUT))
    cust = (
        t["customer"]
        .filter(F.col("c_mktsegment") == Q3_SEGMENT)
        .select("c_custkey")
        .hint("merge")
    )
    orders = t["orders"].filter(F.col("o_orderdate") < cut)
    li = t["lineitem"].filter(F.col("l_shipdate") > cut).hint("merge")
    rev = (
        orders.join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(_disc_price()).alias("rev_d"))
    )
    return (
        rev.orderBy(F.desc("rev_d"), F.asc("l_orderkey"))
        .limit(10)
        .select(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
            F.round(F.col("rev_d").cast("double"), 4).alias("revenue"),
        )
    )


# --- built as a round-11 prebuild; REGISTERED late round 10 ------------------
# Pre-earned per the established mechanics (function + oracle + parity
# test + plan pin in tests/test_plans.py + sf1 probe in BASELINE.md);
# fold ladder step 4 (q13_effectiveness → q7_fusion) freed a round-10
# window slot mid-round, so the @register decoration landed early.

# TPC-H Q10 shape ("returned item reporting"): which customers returned
# the most revenue in a quarter — the classic 4-way join with a
# broadcastable nation dimension. Rounds out the relational family's
# join shapes (Q1 single-pass agg, Q3 mid-size shuffle join, two
# broadcast-dim joins) with the fact⋈fact⋈dim⋈tiny-dim chain.
Q10_LO = "1997-10-01 00:00:00"
Q10_HI = "1998-01-01 00:00:00"
Q10_TOP = 20

_REL_RETURNED = f"""
WITH rev AS (
    SELECT c.c_custkey, c.c_name, n.n_name,
           sum(l.l_extendedprice::DECIMAL(18,2)
               * (1::DECIMAL(18,2) - l.l_discount::DECIMAL(18,2))) AS rev_d,
           CAST(count(*) AS BIGINT) AS n_items
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '{Q10_LO}'
      AND o.o_orderdate < TIMESTAMP '{Q10_HI}'
      AND l.l_returnflag = 'R'
    GROUP BY 1, 2, 3
)
SELECT c_custkey, c_name, n_name,
       round(CAST(rev_d AS DOUBLE), 4) AS revenue, n_items
FROM rev
ORDER BY rev_d DESC, c_custkey ASC
LIMIT {Q10_TOP}
"""


@register("rel_returned_revenue", _REL_RETURNED)
def rel_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: quarter-windowed orders join returned lineitems
    and the customer/nation dims; top-{Q10_TOP} customers by returned
    revenue. Scale plan: both filters (o_orderdate range, l_returnflag)
    push into the parquet scans; nation (25 rows) is an explicit
    broadcast; customer⋈orders⋈lineitem shuffle on their keys at
    cluster scale (AQE broadcasts at fixture scale). Top-N is
    TakeOrdered on the EXACT decimal revenue (display rounding after
    the cut), the Q3 determinism contract."""
    t = load_tables(spark, sf_dir, "customer", "orders", "lineitem", "nation")
    o = t["orders"].filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit(Q10_LO)))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit(Q10_HI)))
    )
    li = t["lineitem"].filter(F.col("l_returnflag") == "R")
    rev = (
        t["customer"]
        .join(o, F.col("o_custkey") == F.col("c_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(t["nation"]),
            F.col("n_nationkey") == F.col("c_nationkey"),
        )
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.sum(_disc_price()).alias("rev_d"),
            F.count("*").cast("long").alias("n_items"),
        )
    )
    return (
        rev.orderBy(F.desc("rev_d"), F.asc("c_custkey"))
        .limit(Q10_TOP)
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            F.round(F.col("rev_d").cast("double"), 4).alias("revenue"),
            "n_items",
        )
    )


# --- built as a round-11 prebuild; REGISTERED round 11 ------------------------
# Pre-earned per SURVEY §9 mechanics: function + oracle + parity test +
# plan pin (tests/test_plans.py) + sf1 probe (BASELINE.md) landed in
# round 10; the @register decoration landed in round 11's second free slot.

# Bloom-filter semi-join reduction: monthly shipped revenue of lineitems
# that belong to urgent orders placed in one year. The filtered orderkey
# set is the canonical "too big to broadcast at 100 TB, too selective to
# shuffle the whole probe side for" key set; the split-block Bloom bitmap
# (operators/bloom.py) is the fixed-size synopsis that converts the probe
# into a map-side broadcast prefilter. The exact semi-join afterwards
# removes false positives, so the SQL oracle is the plain semi-join — the
# bloom is a pure physical-plan device, invisible to the result.
BLOOM_PRIO = "1-URGENT"
BLOOM_LO = "1996-01-01 00:00:00"
BLOOM_HI = "1997-01-01 00:00:00"
# 2^16 64-bit words = 512 KiB broadcast. Sized for the sf1 probe corpus
# (~9k urgent-year keys -> ~0.4 occupied bits/word); at a real 100 TB the
# rule of thumb in operators/bloom.py scales n_words with the key count,
# which only grows the broadcast, never the semantics.
BLOOM_WORDS = 1 << 16

_REL_BLOOM = f"""
SELECT strftime(l.l_shipdate, '%Y-%m') AS ship_month,
       CAST(count(*) AS BIGINT) AS n_items,
       round(CAST(sum(l.l_extendedprice::DECIMAL(18,2)
                      * (1::DECIMAL(18,2) - l.l_discount::DECIMAL(18,2)))
             AS DOUBLE), 4) AS revenue
FROM lineitem l
WHERE l.l_orderkey IN (
    SELECT o_orderkey FROM orders
    WHERE o_orderpriority = '{BLOOM_PRIO}'
      AND o_orderdate >= TIMESTAMP '{BLOOM_LO}'
      AND o_orderdate <  TIMESTAMP '{BLOOM_HI}'
)
GROUP BY 1
"""


def _bloom_keys(t) -> DataFrame:
    return (
        t["orders"]
        .filter(
            (F.col("o_orderpriority") == BLOOM_PRIO)
            & (F.col("o_orderdate") >= F.to_timestamp(F.lit(BLOOM_LO)))
            & (F.col("o_orderdate") < F.to_timestamp(F.lit(BLOOM_HI)))
        )
        .select("o_orderkey")
    )


@register("rel_bloom_semijoin", _REL_BLOOM)
def rel_bloom_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom semi-join reduction (TPC-H-flavored): prefilter lineitem with
    a broadcast split-block Bloom bitmap built over the urgent-1996
    orderkeys, THEN exact-join away the false positives (merge-hinted:
    the production shape assumes the key set is not broadcastable — that
    assumption is the reason the bloom exists), then a partial+final
    monthly aggregate. Filters push into the orders parquet scan; the
    bitmap build is one bounded aggregate (<= BLOOM_WORDS rows)
    memo-persisted per session; no false negatives by construction, so
    results match the plain semi-join oracle exactly.

    The exact join is INNER against the key set, not left_semi, on
    purpose: o_orderkey is the orders PK (unique — pinned in
    tests/test_prebuilt_r11.py), so inner == semi here, and Catalyst's
    PushLeftSemiThroughJoin would push a left_semi BELOW the bitmap
    join — the probe side would shuffle into the sort-merge join before
    the bloom was ever consulted, inverting the operator. Inner-join
    order is preserved (no CBO), keeping the prefilter map-side under
    the scan; the plan pin asserts the order."""
    t = load_tables(spark, sf_dir, "orders", "lineitem")
    keys = _bloom_keys(t)
    bitmap = memo_persist(
        spark,
        ("bloom_bitmap", sf_dir, BLOOM_PRIO, BLOOM_LO, BLOOM_HI, BLOOM_WORDS),
        lambda: bloom_build(keys, "o_orderkey", BLOOM_WORDS),
    )
    pref = bloom_prefilter(t["lineitem"], "l_orderkey", bitmap, BLOOM_WORDS)
    exact = pref.join(
        keys.hint("merge"),
        F.col("l_orderkey") == F.col("o_orderkey"),
        "inner",
    )
    return exact.groupBy(
        F.date_format("l_shipdate", "yyyy-MM").alias("ship_month")
    ).agg(
        F.count("*").cast("long").alias("n_items"),
        F.round(F.sum(_disc_price()).cast("double"), 4).alias("revenue"),
    )

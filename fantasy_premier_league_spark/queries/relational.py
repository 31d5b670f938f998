"""Relational operator inventory — scans, filters, joins, aggregations,
windows, set ops, scalar functions (SURVEY.md §2.2-§2.8).

Every query here maps one or more reference operators (cited per-query) onto
the driver's TPC-H-ish tables. The Spark side is the engine; the oracle SQL
is the spec. Aggregates over doubles are ROUNDed identically on both sides
so the order-insensitive value-hash is stable across summation orders.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load
from ..operators.asof import asof_join
from . import query

# --------------------------------------------------------------------------
# Aggregation / filter core
# --------------------------------------------------------------------------


@query(
    "v01_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                        AS sum_qty,
           round(sum(l_extendedprice), 2)                                   AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
           round(avg(l_quantity), 4)                                        AS avg_qty,
           round(avg(l_extendedprice), 4)                                   AS avg_price,
           round(avg(l_discount), 6)                                        AS avg_disc,
           count(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2024-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1 shape: filter P4 + multi-agg A1/A7. Reference: league-table "
    "group-sums etl/run_transform.py:434-440.",
    tags=("agg", "filter"),
)
def v01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2024-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "v02_revenue_by_nation",
    """
    SELECT n.n_name AS nation, r.r_name AS region,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           count(DISTINCT o.o_orderkey) AS n_orders
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY n.n_name, r.r_name
    """,
    doc="Fact-dim join chain J1-J5 with broadcast dims + agg A1/A10. "
    "Reference join chain: EDA.ipynb § 19-20; etl/run_transform.py:295-300.",
    tags=("join", "agg", "broadcast"),
)
def v02_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    # eager aggregation (a rewrite Catalyst does NOT do itself): collapse
    # lineitem to order grain BEFORE the join chain. The big shuffle drops
    # from lineitem-size to orders-size (~4x here, ~lineitems-per-order x
    # at any SF), and count(DISTINCT o_orderkey) — an expensive expand-based
    # two-phase agg — becomes a plain count because the stream is now
    # unique per order. Dims broadcast explicitly (tiny at any SF);
    # the orders/customer joins shuffle on key — at 100 TB this is the
    # intended hash-partitioned join.
    li_per_order = li.groupBy("l_orderkey").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("__order_rev")
    )
    return (
        li_per_order.join(orders, li_per_order.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"), F.col("r_name").alias("region"))
        .agg(
            F.round(F.sum("__order_rev"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@query(
    "v03_segment_share",
    """
    SELECT r.r_name AS region,
           round(sum(CASE WHEN c.c_mktsegment = 'BUILDING'
                          THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END), 2) AS building_revenue,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS total_revenue,
           round(sum(CASE WHEN c.c_mktsegment = 'BUILDING'
                          THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END)
                 / sum(l.l_extendedprice * (1 - l.l_discount)), 6) AS building_share
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
    doc="Conditional expression P9 (np.where etl/run_transform.py:358-360) as "
    "F.when inside aggregation; share-of-total A2 (modelling/helpers.py:30-37).",
    tags=("agg", "conditional"),
)
def v03_segment_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    building = F.when(F.col("c_mktsegment") == "BUILDING", rev).otherwise(F.lit(0.0))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            F.round(F.sum(building), 2).alias("building_revenue"),
            F.round(F.sum(rev), 2).alias("total_revenue"),
            F.round(F.sum(building) / F.sum(rev), 6).alias("building_share"),
        )
    )


@query(
    "v04_priority_with_late_line",
    """
    SELECT o.o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
    )
    GROUP BY o.o_orderpriority
    """,
    doc="Semi-join P6 (isin → left_semi, M1.ipynb § 4) + agg. TPC-H Q4 shape.",
    tags=("semi-join", "agg"),
)
def v04_priority_with_late_line(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    late = li.select("l_orderkey", "l_shipdate")
    return (
        orders.join(
            late,
            (orders.o_orderkey == late.l_orderkey)
            & (late.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@query(
    "r55_customers_without_orders",
    """
    SELECT c.c_custkey, c.c_name, c.c_nationkey
    FROM customer c
    ANTI JOIN orders o ON o.o_custkey = c.c_custkey
    """,
    doc="Anti-membership J13/U6 (incremental new-player subset, "
    "etl/additional_fifa.py:303-311) as left_anti join.",
    tags=("anti-join",),
)
def r55_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_nationkey"
    )


# --------------------------------------------------------------------------
# Windows
# --------------------------------------------------------------------------


@query(
    "v06_order_lag",
    """
    SELECT o_orderkey, o_custkey, o_orderdate,
           lag(o_orderdate) OVER w AS prev_orderdate,
           date_diff('day', lag(o_orderdate) OVER w, o_orderdate)::INT AS days_since_prev
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    doc="Lag-per-entity W1 + ordered diff W3 (EDA.ipynb § 24-25, 32: 24-col "
    "shift(1) per player). One shuffle on the entity key; frame-free lag.",
    tags=("window",),
)
def v06_order_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev = F.lag("o_orderdate").over(w)
    return orders.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        prev.alias("prev_orderdate"),
        F.datediff(F.col("o_orderdate"), prev).alias("days_since_prev"),
    )


@query(
    "v07_nation_revenue_rank",
    """
    WITH nat_rev AS (
        SELECT n.n_regionkey, n.n_name,
               round(sum(o.o_totalprice), 2) AS revenue
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_regionkey, n.n_name
    )
    SELECT n_regionkey, n_name, revenue,
           (row_number() OVER (PARTITION BY n_regionkey ORDER BY revenue DESC, n_name))::INT AS rank_in_region
    FROM nat_rev
    """,
    doc="Rank after multi-key sort W4/O2 — the league_table ranking "
    "(etl/run_transform.py:441-446) generalized to partitioned row_number "
    "(no single-partition global window).",
    tags=("window", "rank"),
)
def v07_nation_revenue_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    nat_rev = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_regionkey", "n_name")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )
    w = W.partitionBy("n_regionkey").orderBy(F.desc("revenue"), F.asc("n_name"))
    return nat_rev.withColumn("rank_in_region", F.row_number().over(w))


@query(
    "v08_acctbal_deciles",
    """
    SELECT c_custkey, c_nationkey,
           (ntile(10) OVER (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey))::INT AS bal_decile
    FROM customer
    """,
    doc="Decile bucketing A3 (per-gameweek quantile buckets EDA.ipynb § 27) "
    "expressed as ntile(10) — the Spark-native form of manual quantile edges.",
    tags=("window", "quantile"),
)
def v08_acctbal_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    w = W.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    return cust.select("c_custkey", "c_nationkey", F.ntile(10).over(w).alias("bal_decile"))


@query(
    "v85_json_props",
    """
    SELECT event_type,
           count(*) AS n,
           round(avg(CAST(json_extract_string(props, '$.k') AS INT)), 6) AS avg_k,
           max(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
    FROM events GROUP BY event_type
    """,
    doc="Semi-structured extraction (the schema-on-read edge, SURVEY §1.1 "
    "nested-JSON row): parse the props JSON string per row with get_json_"
    "object, aggregate the extracted field. At scale prefer parsing once "
    "into a typed column at ingestion (as etl/ingest.py does) over "
    "re-parsing per query.",
    tags=("json", "agg"),
)
def v85_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg(k), 6).alias("avg_k"),
        F.max(k).alias("max_k"),
    )


@query(
    "v80_decile_edges",
    """
    WITH q AS (
        SELECT c_mktsegment,
               generate_subscripts(quantile_cont(c_acctbal, [0.0,0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]), 1)::INT - 1 AS decile,
               unnest(quantile_cont(c_acctbal, [0.0,0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9])) AS lower
        FROM customer GROUP BY c_mktsegment
    )
    SELECT c_mktsegment, decile, round(lower, 4) AS lower,
           round(coalesce(lead(lower) OVER (PARTITION BY c_mktsegment ORDER BY decile), 9999999), 4) AS upper
    FROM q
    """,
    doc="Decile bucket edges A3+W2 (EDA.ipynb § 27: per-gameweek quantile "
    "lower bounds, upper = lead(lower) with a 9999-style sentinel): exact "
    "group quantile array → posexplode → lead window.",
    tags=("quantile", "window"),
)
def v80_decile_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    probs = F.array(*[F.lit(i / 10.0) for i in range(10)])
    q = cust.groupBy("c_mktsegment").agg(
        F.percentile("c_acctbal", probs).alias("qs")
    )
    exploded = q.select("c_mktsegment", F.posexplode("qs").alias("decile", "lower"))
    w = W.partitionBy("c_mktsegment").orderBy("decile")
    return exploded.select(
        "c_mktsegment",
        "decile",
        F.round("lower", 4).alias("lower"),
        F.round(F.coalesce(F.lead("lower").over(w), F.lit(9999999.0)), 4).alias("upper"),
    )


@query(
    "v09_argmax_customer",
    """
    SELECT c_nationkey, c_custkey, c_name, c_acctbal
    FROM (
        SELECT c_nationkey, c_custkey, c_name, c_acctbal,
               row_number() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rn
        FROM customer
    ) WHERE rn = 1
    """,
    doc="Group-max-as-transform argmax A4/A12 (best fuzzy match "
    "etl/additional_fifa.py:140-143,165-168) as row_number()=1.",
    tags=("window", "argmax"),
)
def v09_argmax_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    w = W.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        cust.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("c_nationkey", "c_custkey", "c_name", "c_acctbal")
    )


# --------------------------------------------------------------------------
# Set operations / unions
# --------------------------------------------------------------------------


@query(
    "r62_roleswap_union",
    """
    WITH balances AS (
        SELECT c_nationkey AS nationkey, 'customer' AS role, c_acctbal AS acctbal FROM customer
        UNION ALL
        SELECT s_nationkey AS nationkey, 'supplier' AS role, s_acctbal AS acctbal FROM supplier
    )
    SELECT nationkey, role, round(avg(acctbal), 4) AS avg_bal, count(*) AS n
    FROM balances GROUP BY nationkey, role
    """,
    doc="Self-union role-swap J14/U2/U3 (home/away perspective rows, "
    "etl/run_transform.py:385-419) via tagged unionByName.",
    tags=("union", "agg"),
)
def r62_roleswap_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    supp = load(spark, sf_dir, "supplier")
    c = cust.select(
        F.col("c_nationkey").alias("nationkey"), F.lit("customer").alias("role"), F.col("c_acctbal").alias("acctbal")
    )
    s = supp.select(
        F.col("s_nationkey").alias("nationkey"), F.lit("supplier").alias("role"), F.col("s_acctbal").alias("acctbal")
    )
    return (
        c.unionByName(s)
        .groupBy("nationkey", "role")
        .agg(F.round(F.avg("acctbal"), 4).alias("avg_bal"), F.count(F.lit(1)).alias("n"))
    )


@query(
    "r56_common_parts",
    """
    SELECT l_partkey FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
    INTERSECT
    SELECT l_partkey FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderpriority = '5-LOW'
    """,
    doc="INTERSECT J12/U4 (etl/additional_fifa.py:232-241).",
    tags=("setop",),
)
def r56_common_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    joined = li.join(orders, li.l_orderkey == orders.o_orderkey)
    urgent = joined.filter(F.col("o_orderpriority") == "1-URGENT").select("l_partkey")
    low = joined.filter(F.col("o_orderpriority") == "5-LOW").select("l_partkey")
    return urgent.intersect(low)


@query(
    "v12_duplicate_pairs",
    """
    SELECT l_partkey, l_suppkey, count(*) AS n_lines
    FROM lineitem
    GROUP BY l_partkey, l_suppkey
    HAVING count(*) > 1
    """,
    doc="Duplicate detection A11 (PK-dup groups etl/run_transform.py:366-370) "
    "as group-count>1 diagnostics.",
    tags=("agg", "dedup"),
)
def v12_duplicate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_partkey", "l_suppkey")
        .agg(F.count(F.lit(1)).alias("n_lines"))
        .filter(F.col("n_lines") > 1)
    )


# --------------------------------------------------------------------------
# As-of join (J10)
# --------------------------------------------------------------------------


@query(
    "v13_asof_last_order",
    """
    SELECT event_id, user_id, ts, last_order_key, last_order_date
    FROM (
        SELECT e.event_id, e.user_id, e.ts,
               o.o_orderkey AS last_order_key, o.o_orderdate AS last_order_date,
               row_number() OVER (PARTITION BY e.event_id ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
        FROM events e
        JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
    ) WHERE rn = 1
    """,
    doc="As-of join J10 (latest snapshot before gameweek deadline, M1.ipynb "
    "§ 20 get_closest_dates): each event picks the user's most recent order. "
    "Spark impl is the scalable union-merge form: one shuffle on the key, "
    "last_value over an ordered window — no per-key join blowup. Oracle is "
    "the equivalent join+row_number spec.",
    tags=("asof", "window", "join"),
)
def v13_asof_last_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    events = load(spark, sf_dir, "events")
    joined = asof_join(
        left=events.select("event_id", "user_id", "ts"),
        right=orders.select("o_custkey", "o_orderdate", "o_orderkey"),
        left_on="user_id",
        right_on="o_custkey",
        left_ts="ts",
        right_ts="o_orderdate",
        right_value_cols=("o_orderkey", "o_orderdate"),
        prefix="last_",
    )
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        F.col("last_o_orderkey").alias("last_order_key"),
        F.col("last_o_orderdate").alias("last_order_date"),
    ).filter(F.col("last_order_key").isNotNull())


@query(
    "r46_rolling_spend",
    """
    SELECT o_orderkey, o_custkey,
           round(avg(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                                         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS rolling_avg_3,
           round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
    FROM orders
    """,
    doc="Explicit window frames W6 (rows-between rolling average + running "
    "total per customer) — the frame-spec surface the reference leaves "
    "implicit; one shuffle on the entity key serves both frames.",
    tags=("window", "frames"),
)
def r46_rolling_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.round(F.avg("o_totalprice").over(w.rowsBetween(-2, 0)), 4).alias("rolling_avg_3"),
        F.round(F.sum("o_totalprice").over(w.rowsBetween(W.unboundedPreceding, 0)), 2).alias("running_total"),
    )


@query(
    "v86_asof_next_event",
    """
    SELECT o_orderkey, o_custkey, next_event_id, next_event_ts
    FROM (
        SELECT o.o_orderkey, o.o_custkey,
               e.event_id AS next_event_id, e.ts AS next_event_ts,
               row_number() OVER (PARTITION BY o.o_orderkey ORDER BY e.ts ASC, e.event_id ASC) AS rn
        FROM orders o
        JOIN events e ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    ) WHERE rn = 1
    """,
    doc="Forward as-of join (next-upcoming row per key): each order picks "
    "the customer's earliest event at-or-after the order date. Same "
    "union-merge plan as q13, reversed time. Oracle is the equivalent "
    "join+row_number spec.",
    tags=("asof", "window", "join"),
)
def v86_asof_next_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    events = load(spark, sf_dir, "events")
    joined = asof_join(
        left=orders.select("o_orderkey", "o_custkey", "o_orderdate"),
        right=events.select("user_id", "ts", "event_id"),
        left_on="o_custkey",
        right_on="user_id",
        left_ts="o_orderdate",
        right_ts="ts",
        right_value_cols=("event_id", "ts"),
        direction="forward",
        prefix="next_",
    )
    return joined.select(
        "o_orderkey",
        "o_custkey",
        F.col("next_event_id"),
        F.col("next_ts").alias("next_event_ts"),
    ).filter(F.col("next_event_id").isNotNull())


# --------------------------------------------------------------------------
# Pivot / one-hot, imputation, binning
# --------------------------------------------------------------------------

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@query(
    "v14_event_type_pivot",
    """
    SELECT user_id,
           count(*) FILTER (WHERE event_type = 'click')    AS n_click,
           count(*) FILTER (WHERE event_type = 'error')    AS n_error,
           count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
           count(*) FILTER (WHERE event_type = 'signup')   AS n_signup,
           count(*) FILTER (WHERE event_type = 'view')     AS n_view
    FROM events GROUP BY user_id
    """,
    doc="One-hot / pivot F20/U5 (get_dummies EDA.ipynb § 45,79) with an "
    "explicit category list (no extra distinct-discovery job).",
    tags=("pivot",),
)
def v14_event_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    piv = (
        ev.groupBy("user_id")
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.count(F.lit(1)))
    )
    out = piv.select(
        "user_id", *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}") for t in EVENT_TYPES]
    )
    return out


@query(
    "v15_value_imputation",
    """
    WITH base AS (
        SELECT event_id, user_id,
               CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
        FROM events
    ), stats AS (
        SELECT *, avg(v) OVER (PARTITION BY user_id) AS user_mean, avg(v) OVER () AS global_mean
        FROM base
    )
    SELECT event_id, user_id, round(coalesce(v, user_mean, global_mean), 6) AS value_imputed
    FROM stats
    """,
    doc="Group-mean cascade imputation A6/P8 (two-level transform-mean fillna, "
    "EDA.ipynb § 69; masked update etl/run_transform.py:399). Global mean via "
    "broadcast scalar join, not a single-partition window.",
    tags=("imputation", "window"),
)
def v15_value_imputation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    base = ev.select(
        "event_id",
        "user_id",
        F.when(F.col("event_type") == "error", F.lit(None).cast("double")).otherwise(F.col("value")).alias("v"),
    )
    user_mean = F.avg("v").over(W.partitionBy("user_id"))
    # global mean as a 1-row broadcast cross join — scales (a window over ()
    # would funnel 100 TB through one partition)
    global_mean = base.agg(F.avg("v").alias("global_mean"))
    return (
        base.withColumn("user_mean", user_mean)
        .crossJoin(F.broadcast(global_mean))
        .select(
            "event_id",
            "user_id",
            F.round(F.coalesce("v", "user_mean", "global_mean"), 6).alias("value_imputed"),
        )
    )


@query(
    "r57_balance_bins",
    """
    SELECT CASE WHEN c_acctbal < 0 THEN 'negative'
                WHEN c_acctbal < 1000 THEN 'low'
                WHEN c_acctbal < 5000 THEN 'mid'
                ELSE 'high' END AS bal_bin,
           count(*) AS n, round(avg(c_acctbal), 4) AS avg_bal
    FROM customer GROUP BY 1
    """,
    doc="Value binning F21 (bin_values thresholds, modelling/helpers.py:86-94) "
    "as a when-chain; plus group stats.",
    tags=("binning", "agg"),
)
def r57_balance_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    bin_col = (
        F.when(F.col("c_acctbal") < 0, "negative")
        .when(F.col("c_acctbal") < 1000, "low")
        .when(F.col("c_acctbal") < 5000, "mid")
        .otherwise("high")
    )
    return (
        cust.groupBy(bin_col.alias("bal_bin"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.avg("c_acctbal"), 4).alias("avg_bal"))
    )


@query(
    "v16_league_table",
    """
    WITH f AS (
        SELECT o_orderkey % 25 AS away_id,
               o_custkey % 25 AS home_id,
               (o_orderstatus = 'F') AS fin,
               CASE WHEN o_orderstatus = 'F' THEN o_orderkey % 5 END AS hs,
               CASE WHEN o_orderstatus = 'F' THEN o_custkey % 4 END AS aws
        FROM orders
    ),
    tr AS (
        SELECT home_id AS team_id, hs AS gs, aws AS gc, fin,
               (fin AND hs > aws) AS win, (fin AND hs = aws) AS draw,
               (fin AND hs < aws) AS loss
        FROM f
        UNION ALL
        SELECT away_id, aws, hs, fin,
               (fin AND aws > hs), (fin AND aws = hs), (fin AND aws < hs)
        FROM f
    ),
    agg AS (
        SELECT team_id,
               coalesce(sum(CASE WHEN win THEN 3 WHEN draw THEN 1 ELSE 0 END), 0)::BIGINT AS points,
               coalesce(sum(gs - gc), 0)::BIGINT AS goal_difference,
               coalesce(sum(fin::INT), 0)::BIGINT AS played,
               coalesce(sum(win::INT), 0)::BIGINT AS win,
               coalesce(sum(draw::INT), 0)::BIGINT AS draw,
               coalesce(sum(loss::INT), 0)::BIGINT AS loss,
               coalesce(sum(gs), 0)::BIGINT AS goals_scored,
               coalesce(sum(gc), 0)::BIGINT AS goals_conceded
        FROM tr GROUP BY team_id
    )
    SELECT (row_number() OVER (ORDER BY points DESC, goal_difference DESC,
                               goals_scored DESC, a.team_id ASC) - 1)::BIGINT AS table_position,
           a.team_id::BIGINT AS team_id, n.n_name AS team_name_long,
           points, goal_difference, played, win, draw, loss,
           goals_scored, goals_conceded
    FROM agg a JOIN nation n ON n.n_nationkey = a.team_id
    """,
    doc="ETL CAPSTONE through the reference-parity transform path "
    "(etl/transform.py::build_team_results + build_league_table — the "
    "reference's run_transform.py:373-447 league table): a fixtures-shaped "
    "frame is derived deterministically from `orders` (25 'teams' = "
    "nation keys; home/away scores from key arithmetic, NULL-masked on "
    "unfinished orders exactly like postponed fixtures), then the real "
    "J14 role-swap union, the A1 masked-null group-sums (win/draw/loss "
    "NULL on unplayed games, pandas-skipna semantics via coalesce), and "
    "the W4/O2 (points, goal_difference, goals_scored) desc ranking with "
    "0-based table_position run end-to-end. The oracle replays the "
    "derivation and the full aggregation in SQL, so the driver gate "
    "value-checks the ETL path the golden pytest suite previously "
    "covered alone.",
    tags=("etl", "league-table", "capstone"),
)
def v16_league_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..etl.transform import build_league_table, build_team_results

    orders = load(spark, sf_dir, "orders")
    fixtures = orders.select(
        F.col("o_orderkey").cast("long").alias("fixture_id_long"),
        F.col("o_orderkey").cast("int").alias("fixture_id"),
        F.month("o_orderdate").alias("gameweek_id"),
        F.col("o_orderdate").cast("timestamp").alias("fixture_kickoff_datetime"),
        (F.col("o_custkey") % 25).cast("long").alias("home_team_id"),
        (F.col("o_orderkey") % 25).cast("long").alias("away_team_id"),
        F.when(F.col("o_orderstatus") == "F", F.col("o_orderkey") % 5)
        .cast("long")
        .alias("home_team_score"),
        F.when(F.col("o_orderstatus") == "F", F.col("o_custkey") % 4)
        .cast("long")
        .alias("away_team_score"),
        (F.col("o_orderstatus") == "F").alias("fixture_finished"),
    )
    teams = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("team_id"),
        F.col("n_name").alias("team_name_long"),
    )
    table = build_league_table(build_team_results(fixtures), teams)
    return table.withColumn("table_position", F.col("table_position").cast("long"))


# --------------------------------------------------------------------------
# Scalar functions: strings, dates, math
# --------------------------------------------------------------------------


@query(
    "r38_string_normalize",
    """
    SELECT p_partkey,
           lower(regexp_replace(p_name, '[^a-zA-Z ]', '', 'g')) AS name_norm,
           split_part(p_type, ' ', 1) AS type_head,
           concat_ws('|', p_brand, p_type) AS brand_type,
           length(p_name)::INT AS name_len
    FROM part
    """,
    doc="String surface F3/F4/F7 (lower+regex strip etl/additional_fifa.py:"
    "193-201; split EDA.ipynb § 43; CONCAT_WS § 72).",
    tags=("strings",),
)
def r38_string_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.lower(F.regexp_replace("p_name", "[^a-zA-Z ]", "")).alias("name_norm"),
        F.split(F.col("p_type"), " ").getItem(0).alias("type_head"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.length("p_name").alias("name_len"),
    )


@query(
    "r39_time_features",
    """
    SELECT event_id,
           extract(hour FROM ts)::INT AS hr,
           (isodow(ts) - 1)::INT AS weekday_mon0,
           round(sin(2 * pi() * (extract(hour FROM ts) * 3600 + extract(minute FROM ts) * 60
                 + floor(extract(second FROM ts))) / 86400), 6) + 0.0 AS tod_sin,
           round(cos(2 * pi() * (extract(hour FROM ts) * 3600 + extract(minute FROM ts) * 60
                 + floor(extract(second FROM ts))) / 86400), 6) + 0.0 AS tod_cos,
           date_diff('day', TIMESTAMP '2024-01-01', ts)::BIGINT AS day_offset
    FROM events
    """,
    doc="Date parts + cyclical encodings F12-F14 (EDA.ipynb § 30-33): hour, "
    "Monday-0 weekday, sin/cos time-of-day, day offset from epoch start.",
    tags=("dates",),
)
def r39_time_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    sec_of_day = (
        F.hour("ts") * 3600 + F.minute("ts") * 60 + F.floor(F.second("ts"))
    ).cast("double")
    angle = 2 * 3.141592653589793 * sec_of_day / 86400
    return ev.select(
        "event_id",
        F.hour("ts").alias("hr"),
        F.weekday("ts").alias("weekday_mon0"),
        # + 0.0 collapses IEEE -0.0 (round of a tiny negative sin/cos) to
        # +0.0 on both engines — byte-level hash comparators see one value
        (F.round(F.sin(angle), 6) + F.lit(0.0)).alias("tod_sin"),
        (F.round(F.cos(angle), 6) + F.lit(0.0)).alias("tod_cos"),
        F.datediff("ts", F.lit("2024-01-01").cast("timestamp")).cast("long").alias("day_offset"),
    )


@query(
    "v19_corr_stats",
    """
    SELECT l_returnflag,
           round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
           round(avg(l_extendedprice), 4) AS mean_price,
           round(var_samp(l_extendedprice), 2) AS var_price
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Correlation + distribution stats A13/A14 (df.corr EDA.ipynb § 82-84; "
    "overdispersion § 11) via native corr/var_samp — no MLlib assembly needed "
    "for pairwise corr.",
    tags=("stats",),
)
def v19_corr_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.avg("l_extendedprice"), 4).alias("mean_price"),
        F.round(F.var_samp("l_extendedprice"), 2).alias("var_price"),
    )


@query(
    "v20_exact_quantiles",
    """
    SELECT c_mktsegment,
           round(quantile_cont(c_acctbal, 0.25), 4) AS p25,
           round(quantile_cont(c_acctbal, 0.50), 4) AS p50,
           round(quantile_cont(c_acctbal, 0.75), 4) AS p75,
           round(quantile_cont(c_acctbal, 0.90), 4) AS p90
    FROM customer GROUP BY c_mktsegment
    """,
    doc="Exact group quantiles A3 (per-gameweek quantile([0..0.9]) EDA.ipynb "
    "§ 27) via percentile(); at 100 TB swap to percentile_approx with a "
    "documented accuracy budget.",
    tags=("quantile", "agg"),
)
def v20_exact_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    return cust.groupBy("c_mktsegment").agg(
        F.round(F.percentile("c_acctbal", F.lit(0.25)), 4).alias("p25"),
        F.round(F.percentile("c_acctbal", F.lit(0.50)), 4).alias("p50"),
        F.round(F.percentile("c_acctbal", F.lit(0.75)), 4).alias("p75"),
        F.round(F.percentile("c_acctbal", F.lit(0.90)), 4).alias("p90"),
    )


@query(
    "v55_sampled_quantiles",
    """
    WITH keyed AS (
        SELECT l_returnflag, l_extendedprice,
               ('0x' || substr(md5('sampled_quantiles:' || l_orderkey::VARCHAR || '-'
                                   || l_linenumber::VARCHAR), 1, 8))::BIGINT
                   / 4294967296.0 < 0.05 AS in_sample
        FROM lineitem
    ),
    ex AS (
        SELECT l_returnflag,
               round(quantile_cont(l_extendedprice, 0.50), 4) AS p50_exact,
               round(quantile_cont(l_extendedprice, 0.95), 4) AS p95_exact,
               count(*)::BIGINT AS n_rows
        FROM keyed GROUP BY l_returnflag
    ),
    sm AS (
        SELECT l_returnflag,
               round(quantile_cont(l_extendedprice, 0.50), 4) AS p50_sampled,
               round(quantile_cont(l_extendedprice, 0.95), 4) AS p95_sampled,
               count(*)::BIGINT AS n_sampled
        FROM keyed WHERE in_sample GROUP BY l_returnflag
    )
    SELECT ex.l_returnflag, n_rows, n_sampled,
           p50_exact, p50_sampled,
           round(abs(p50_sampled - p50_exact) / p50_exact * 100, 4) AS err_p50_pct,
           p95_exact, p95_sampled,
           round(abs(p95_sampled - p95_exact) / p95_exact * 100, 4) AS err_p95_pct
    FROM ex JOIN sm USING (l_returnflag)
    ORDER BY ex.l_returnflag
    """,
    doc="Sampled quantiles — the PORTABLE scale path for q69's quantile "
    "sketch, under the full value-hash gate: a deterministic md5 5% row "
    "sample (operators/dedup.py::md5_fraction on the line PK, salt "
    "'sampled_quantiles:' — replayable in any engine, stable across partitionings) "
    "feeds an exact interpolated percentile, side-by-side with the full "
    "exact percentile and the realized error. Where q69's "
    "percentile_approx is engine-specific KLL registers (rows-only by "
    "necessity), the sample-then-exact form is the quantile estimate an "
    "external auditor can replay bit-for-bit. At 100 TB the exact "
    "columns drop away and the sample IS the profile: a p-fraction "
    "scan-side filter pushed to the parquet reader, sample-sized sort "
    "per group, error ~O(1/sqrt(p·n)) at the quantile density — the "
    "same hash-sampling contract as q11's ARI stratum and q02's recall "
    "anchors.",
    tags=("quantile", "sketch", "sampling", "agg"),
)
def v55_sampled_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import md5_fraction

    from ..catalog import spread_partitions

    li = load(spark, sf_dir, "lineitem")
    key = F.concat_ws(
        "-", F.col("l_orderkey").cast("string"), F.col("l_linenumber").cast("string")
    )
    # two aggregation stages, NOT one fused groupBy with conditional
    # percentile columns: measured A/B at sf0.1 shows the 4-imperative-
    # buffer fused form is 2x SLOWER (5.3-7.6s vs 2.5-2.8s warm) — with
    # that many TypedImperativeAggregates in one stage the planner
    # abandons ObjectHashAggregate; two 2-buffer stages win. r13 shape:
    # (a) spread the scan BEFORE the heavy work — the single-file scan
    # yields 3 input partitions, serializing md5 sampling and percentile
    # buffer-building onto 3 of 32 cores (profiled: the two partial-agg
    # stages were 2.4s of the 3.0s warm wall); (b) both aggregates read
    # ONE materialized (flag, price, in_sample) frame — column pruning
    # gives the two agg subtrees different projections, so exchange
    # reuse can never fire on a shared plan (profiled: the scan + md5
    # ran twice); the RDD-layer cut computes the scan + spread + md5
    # exactly once. Eager: two independent subtrees consume it inside
    # one action (the cache.py race contract). The sample restriction
    # folds into NULL-skipping percentile/count arguments instead of a
    # pre-aggregation filter; n_sampled > 0 preserves the filtered
    # form's semantics exactly (a group with zero sampled rows produced
    # no sm row, and the join dropped it).
    from ..operators.cache import tracked_local_checkpoint

    keyed = tracked_local_checkpoint(
        spread_partitions(
            li.select("l_returnflag", "l_extendedprice", "l_orderkey", "l_linenumber")
        ).select(
            "l_returnflag",
            "l_extendedprice",
            (md5_fraction(key, salt="sampled_quantiles:") < 0.05).alias("in_sample"),
        ),
        eager=True,
    )
    ex = keyed.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", F.lit(0.50)), 4).alias("p50_exact"),
        F.round(F.percentile("l_extendedprice", F.lit(0.95)), 4).alias("p95_exact"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    sampled_price = F.when(F.col("in_sample"), F.col("l_extendedprice"))
    sm = (
        keyed.groupBy("l_returnflag")
        .agg(
            F.round(F.percentile(sampled_price, F.lit(0.50)), 4).alias("p50_sampled"),
            F.round(F.percentile(sampled_price, F.lit(0.95)), 4).alias("p95_sampled"),
            F.count(sampled_price).alias("n_sampled"),
        )
        .filter(F.col("n_sampled") > 0)
    )
    return ex.join(sm, "l_returnflag").select(
        "l_returnflag",
        "n_rows",
        "n_sampled",
        "p50_exact",
        "p50_sampled",
        F.round(
            F.abs(F.col("p50_sampled") - F.col("p50_exact")) / F.col("p50_exact") * 100,
            4,
        ).alias("err_p50_pct"),
        "p95_exact",
        "p95_sampled",
        F.round(
            F.abs(F.col("p95_sampled") - F.col("p95_exact")) / F.col("p95_exact") * 100,
            4,
        ).alias("err_p95_pct"),
        # single-partition sort, NOT orderBy: the result is groups-sized
        # (one row per returnflag) at any scale, and a global orderBy's
        # RangePartitioning sampling pass RE-EXECUTES the whole join+merge
        # subtree before the real run (profiled: two 2.7s-taskrun final
        # percentile merges back to back, one writing zero bytes)
    ).repartition(1).sortWithinPartitions("l_returnflag")


@query(
    "r40_top_orders",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
    doc="Sorted limit / top-k O3 (head(10) EDA.ipynb § 83-84) — Spark "
    "optimizes to TakeOrderedAndProject (no global sort materialized).",
    tags=("topk",),
)
def r40_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
    )


@query(
    "v22_pk_quality",
    """
    SELECT 'orders' AS tbl, count(*) AS n_rows, count(DISTINCT o_orderkey) AS n_pk,
           count(*) FILTER (WHERE o_orderkey IS NULL) AS n_null_pk
    FROM orders
    UNION ALL
    SELECT 'lineitem' AS tbl, count(*) AS n_rows,
           count(DISTINCT l_orderkey * 100 + l_linenumber) AS n_pk,
           count(*) FILTER (WHERE l_orderkey IS NULL OR l_linenumber IS NULL) AS n_null_pk
    FROM lineitem
    """,
    doc="Data-quality constraint operators Q1/Q2 (dval_unique_index / "
    "dval_notnull_index, etl/transform.py:14-56): PK uniqueness + not-null "
    "counts as one unioned profile.",
    tags=("quality",),
)
def v22_pk_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    o = orders.agg(
        F.lit("orders").alias("tbl"),
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("o_orderkey").alias("n_pk"),
        F.sum(F.col("o_orderkey").isNull().cast("long")).alias("n_null_pk"),
    )
    l = li.agg(
        F.lit("lineitem").alias("tbl"),
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct(F.col("l_orderkey") * 100 + F.col("l_linenumber")).alias("n_pk"),
        F.sum((F.col("l_orderkey").isNull() | F.col("l_linenumber").isNull()).cast("long")).alias("n_null_pk"),
    )
    return o.unionByName(l)


def q69_sketch_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pytest-only demo since round 11 (was the rows-only q69 registry slot).

    The approximate-analytics toolbox every 100 TB profile job leans on,
    one row per order priority: approx_count_distinct customers (HLL, ~2%
    err), percentile_approx price p50/p95 (KLL-style quantile sketch), plus
    exact count for reference. All sketches are one-pass, partial-aggregated
    map-side, fixed memory per group — the scalable substitutes for q20's
    exact percentiles and exact countDistinct. The engine-internal registers
    are not DuckDB-replayable, so the same capability is covered under the
    full value-hash gate by the PORTABLE sketches instead (q03/q04 KMV
    distinct/resemblance, q05 sampled quantiles); this demo is pinned by
    tests/test_round5b_ext.py::TestSketchProfileDemo (determinism + error
    bounds vs exact, schema pinned).
    """
    orders = load(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.approx_count_distinct("o_custkey", 0.02).alias("n_cust_hll"),
        F.round(F.percentile_approx("o_totalprice", 0.5, 10000), 2).alias("p50_approx"),
        F.round(F.percentile_approx("o_totalprice", 0.95, 10000), 2).alias("p95_approx"),
    )


@query(
    "v78_unpivot_metrics",
    """
    SELECT o_orderkey, metric, value
    FROM (
        SELECT o_orderkey,
               o_totalprice AS total_price,
               o_custkey::DOUBLE AS cust_key,
               (length(o_orderpriority))::DOUBLE AS priority_len
        FROM orders WHERE o_orderkey < 1000
    )
    UNPIVOT (value FOR metric IN (total_price, cust_key, priority_len))
    """,
    doc="Unpivot / melt (wide -> long, the inverse of q14's pivot): three "
    "order metrics to (key, metric, value) triples via Spark's native "
    "unpivot (UNPIVOT in DuckDB). Narrow-scan friendly: only the melted "
    "columns are read; output partitioning stays on the row key.",
    tags=("unpivot", "reshape"),
)
def v78_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 1000)
    wide = orders.select(
        "o_orderkey",
        F.col("o_totalprice").alias("total_price"),
        F.col("o_custkey").cast("double").alias("cust_key"),
        F.length("o_orderpriority").cast("double").alias("priority_len"),
    )
    return wide.unpivot("o_orderkey", ["total_price", "cust_key", "priority_len"], "metric", "value")


@query(
    "v79_merge_upsert",
    """
    WITH updates AS (
        SELECT o_orderkey, 'P' AS o_orderstatus, o_totalprice * 2 AS o_totalprice,
               2 AS version
        FROM orders WHERE o_orderkey % 10 = 0
    ),
    base AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice, 1 AS version FROM orders
    ),
    unioned AS (
        SELECT * FROM base UNION ALL SELECT * FROM updates
    )
    SELECT o_orderkey, o_orderstatus, o_totalprice FROM (
        SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY version DESC) AS rn
        FROM unioned
    ) WHERE rn = 1
    """,
    doc="CDC merge / last-writer-wins upsert (MERGE INTO semantics as a "
    "dataflow): base table + change set -> union -> latest version per key "
    "via window. One shuffle on the merge key; at warehouse scale the same "
    "plan lands on the bucketed layout (sources/warehouse.py) so the "
    "shuffle disappears, and the anti-join variant handles delete rows.",
    tags=("upsert", "cdc", "merge"),
)
def v79_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey", "o_orderstatus", "o_totalprice", F.lit(1).alias("version")
    )
    updates = orders.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        F.lit("P").alias("o_orderstatus"),
        (F.col("o_totalprice") * 2).alias("o_totalprice"),
        F.lit(2).alias("version"),
    )
    unioned = base.unionByName(updates)
    w = W.partitionBy("o_orderkey").orderBy(F.desc("version"))
    return (
        unioned.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )


@query(
    "v81_full_outer_activity",
    """
    WITH cust_n AS (
        SELECT c_nationkey AS nationkey, count(*)::BIGINT AS n_customers
        FROM customer GROUP BY c_nationkey
    ),
    supp_n AS (
        SELECT s_nationkey AS nationkey, count(*)::BIGINT AS n_suppliers
        FROM supplier GROUP BY s_nationkey
    )
    SELECT coalesce(c.nationkey, s.nationkey) AS nationkey,
           coalesce(c.n_customers, 0) AS n_customers,
           coalesce(s.n_suppliers, 0) AS n_suppliers
    FROM cust_n c FULL OUTER JOIN supp_n s ON c.nationkey = s.nationkey
    """,
    doc="FULL OUTER join (both-sides-preserved reconciliation — the join "
    "type q05/q04's semi/anti family doesn't cover): customer vs supplier "
    "presence per nation with zero-fill. Aggregate-then-join: the outer "
    "join runs on two pre-shrunk group counts, not the raw tables.",
    tags=("join", "full-outer"),
)
def v81_full_outer_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = (
        load(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    supp = (
        load(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_suppliers"))
    )
    return (
        cust.join(supp, "nationkey", "full_outer")
        .select(
            "nationkey",
            F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
            F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
        )
    )


@query(
    "v83_vector_stats",
    """
    SELECT vec_id,
           round(sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))), 6) AS l2_norm,
           round(list_min(embedding::DOUBLE[]), 6) AS v_min,
           round(list_max(embedding::DOUBLE[]), 6) AS v_max,
           round(list_sum(embedding::DOUBLE[]) / len(embedding), 6) AS v_mean,
           len(list_filter(embedding::DOUBLE[], x -> x < 0))::INT AS n_negative
    FROM embeddings
    """,
    doc="Higher-order array functions F-family over the embedding column — "
    "transform/aggregate/filter/array_min/array_max entirely JVM-side "
    "(whole-stage codegen, no UDF): per-vector norm, range, mean, negative "
    "count. The per-element work that precedes any vector-pipeline step "
    "(normalization, clipping, quality filters) without leaving the scan.",
    tags=("array", "functions"),
)
def v83_vector_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    sq_sum = F.aggregate(F.transform(v, lambda x: x * x), F.lit(0.0), lambda a, x: a + x)
    total = F.aggregate(v, F.lit(0.0), lambda a, x: a + x)
    return emb.select(
        "vec_id",
        F.round(F.sqrt(sq_sum), 6).alias("l2_norm"),
        F.round(F.array_min(v), 6).alias("v_min"),
        F.round(F.array_max(v), 6).alias("v_max"),
        F.round(total / F.size(v), 6).alias("v_mean"),
        F.size(F.filter(v, lambda x: x < 0)).cast("int").alias("n_negative"),
    )


@query(
    "v84_rank_family",
    """
    SELECT o_orderkey, o_orderpriority,
           (rank() OVER w)::INT AS rnk,
           (dense_rank() OVER w)::INT AS drnk,
           (round(percent_rank() OVER w, 6) + 0.0) AS pct_rank,
           (round(cume_dist() OVER w, 6) + 0.0) AS cume,
           (ntile(4) OVER w)::INT AS quartile
    FROM orders
    WHERE o_orderkey < 2000
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey)
    """,
    doc="The complete ranking-window family W4+ in one pass: rank, "
    "dense_rank, percent_rank, cume_dist, ntile over one shared window "
    "spec — one shuffle on the partition key serves all five (Catalyst "
    "collapses same-spec window functions into a single Window node).",
    tags=("window", "rank"),
)
def v84_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000)
    w = W.partitionBy("o_orderpriority").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        (F.round(F.percent_rank().over(w), 6) + 0.0).alias("pct_rank"),
        (F.round(F.cume_dist().over(w), 6) + 0.0).alias("cume"),
        F.ntile(4).over(w).alias("quartile"),
    )


@query(
    "r43_cube_volume",
    """
    SELECT coalesce(o_orderstatus, 'ALL') AS status,
           coalesce(o_orderpriority, 'ALL') AS priority,
           lvl, n_orders, volume
    FROM (
        SELECT o_orderstatus, o_orderpriority,
               (CASE WHEN GROUPING(o_orderpriority) = 1 THEN 1 ELSE 0 END
                + CASE WHEN GROUPING(o_orderstatus) = 1 THEN 2 ELSE 0 END)::INT AS lvl,
               count(*)::BIGINT AS n_orders,
               round(sum(o_totalprice), 2) AS volume
        FROM orders
        GROUP BY CUBE (o_orderstatus, o_orderpriority)
    )
    """,
    doc="CUBE aggregate — all 2^2 grouping sets in one shuffle (the "
    "complement of q23's ROLLUP hierarchy): status x priority volume "
    "matrix with subtotals on both axes and the grand total, grouping_id "
    "level marker.",
    tags=("cube", "agg"),
)
def r43_cube_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    cubed = orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping_id().cast("int").alias("lvl"),
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("volume"),
    )
    return cubed.select(
        F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
        F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
        "lvl",
        "n_orders",
        "volume",
    )


@query(
    "v87_market_share",
    """
    SELECT year(o.o_orderdate)::INT AS yr,
           round(sum(CASE WHEN sn.n_name = 'NATION_0'
                          THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END), 2) AS nation0_rev,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS total_rev,
           round(sum(CASE WHEN sn.n_name = 'NATION_0'
                          THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END)
                 / sum(l.l_extendedprice * (1 - l.l_discount)), 6) AS share
    FROM lineitem l
    JOIN orders o    ON l.l_orderkey = o.o_orderkey
    JOIN customer c  ON o.o_custkey = c.c_custkey
    JOIN nation cn   ON c.c_nationkey = cn.n_nationkey
    JOIN supplier s  ON l.l_suppkey = s.s_suppkey
    JOIN nation sn   ON s.s_nationkey = sn.n_nationkey
    WHERE cn.n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
    GROUP BY year(o.o_orderdate)
    """,
    doc="TPC-H Q8-shaped market share: the nation dim joins TWICE under "
    "different roles (customer nation filters the market, supplier nation "
    "drives the share numerator) — the aliased-dim join-reordering shape. "
    "Only the genuinely bounded nation dims carry an explicit broadcast "
    "hint; customer/supplier grow with SF, so their joins are left to AQE "
    "(shuffle-hash or broadcast when actually small) rather than a forced "
    "hint that would OOM at 100x.",
    tags=("join", "agg", "star"),
)
def v87_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    supp = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    cn = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cn_name")
    )
    sn = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("sn_name")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    n0_rev = F.when(F.col("sn_name") == "NATION_0", rev).otherwise(F.lit(0.0))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .filter(F.col("cn_name").isin("NATION_1", "NATION_2", "NATION_3"))
        .groupBy(F.year("o_orderdate").cast("int").alias("yr"))
        .agg(
            F.round(F.sum(n0_rev), 2).alias("nation0_rev"),
            F.round(F.sum(rev), 2).alias("total_rev"),
            F.round(F.sum(n0_rev) / F.sum(rev), 6).alias("share"),
        )
    )

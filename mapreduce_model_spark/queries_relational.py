"""Relational operator surface (SURVEY.md §2 Table B) — driver-checkable.

Each query is a declarative DataFrame plan (Catalyst handles pushdown,
pruning, join strategy, AQE) paired with the equivalent DuckDB SQL. Hash-match
discipline (FIXTURES.md §4): identical aliases both sides, total-order
tie-breaks on every rank/limit, identical rounding on float aggregates,
timestamp comparisons in microseconds (Spark truncates parquet ns → µs).

Heritage: the reference has *no* relational operators beyond its fixed
pipeline (SURVEY.md §2 Table A) — this module is the generalized surface the
north star mandates, built on the same primitives (scan A2, filter A6,
distinct A7/A8, hash-agg A11, sort A12/A14, partition A10/A13).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from mapreduce_model_spark.functions.dedup_sql import words_sql
from mapreduce_model_spark.functions.rounding import rnd
from mapreduce_model_spark.operators.joins import (
    asof_join,
    broadcast_star_join,
    range_join,
)
from mapreduce_model_spark.operators.windows import sessionize, topk_per_group
from mapreduce_model_spark.registry import query, table


# --- scans / filters / distinct -------------------------------------------

@query(
    "scan_project",
    oracle="""
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
FROM lineitem
""",
)
def scan_project(spark, sf_dir):
    """Projection reaches the parquet scan (column pruning: ReadSchema shows
    only these 4 of 11 columns)."""
    return table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )


@query(
    "filter_pred",
    oracle="""
SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, l_shipdate
FROM lineitem
WHERE l_quantity > 30.0
  AND l_returnflag IN ('A', 'R')
  AND l_shipdate >= TIMESTAMP '1998-01-01'
  AND NOT (l_linestatus = 'O' AND l_quantity > 45.0)
""",
)
def filter_pred(spark, sf_dir):
    """Compound predicate — pushed to the parquet reader (PushedFilters)."""
    li = table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_quantity") > 30.0)
        & F.col("l_returnflag").isin("A", "R")
        & (F.col("l_shipdate") >= "1998-01-01")
        & ~((F.col("l_linestatus") == "O") & (F.col("l_quantity") > 45.0))
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_shipdate")


@query(
    "distinct_rows",
    oracle="SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
)
def distinct_rows(spark, sf_dir):
    """A7/A8 generalized: map-side partial distinct then exchange."""
    return table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus"
    ).distinct()


# --- aggregation ----------------------------------------------------------

@query(
    "groupby_agg",
    oracle="""
SELECT l_returnflag, l_linestatus,
       round(1e-9 + sum(l_quantity), 2)                                    AS sum_qty,
       round(1e-9 + sum(l_extendedprice), 2)                               AS sum_base_price,
       round(1e-9 + sum(l_extendedprice * (1 - l_discount)), 2)            AS sum_disc_price,
       round(1e-9 + sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(1e-9 + avg(l_quantity), 4)                                    AS avg_qty,
       round(1e-9 + avg(l_extendedprice), 4)                               AS avg_price,
       round(1e-9 + avg(l_discount), 4)                                    AS avg_disc,
       count(*)                                                     AS count_order,
       count(DISTINCT l_orderkey)                                   AS n_orders
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-09-01'
GROUP BY l_returnflag, l_linestatus
""",
)
def groupby_agg(spark, sf_dir):
    """TPC-H Q1 shape (A11 generalized): hash agg with map-side partials;
    one shuffle on the 2-col group key."""
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "2001-09-01")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        rnd(F.sum("l_quantity"), 2).alias("sum_qty"),
        rnd(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        rnd(F.sum(disc_price), 2).alias("sum_disc_price"),
        rnd(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
        rnd(F.avg("l_quantity"), 4).alias("avg_qty"),
        rnd(F.avg("l_extendedprice"), 4).alias("avg_price"),
        rnd(F.avg("l_discount"), 4).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )


@query(
    "collect_group",
    oracle="""
SELECT o_custkey, array_to_string(list_sort(list(DISTINCT o_orderkey)), ' ') AS orderkeys
FROM orders
GROUP BY o_custkey
""",
)
def collect_group(spark, sf_dir):
    """A11+A12: group → sorted distinct array (the postings-list shape),
    surfaced as a space-joined string so the driver's value hash is
    array-representation-independent."""
    return table(spark, sf_dir, "orders").groupBy("o_custkey").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_set("o_orderkey")), lambda x: x.cast("string")
            ),
            " ",
        ).alias("orderkeys")
    )


@query(
    "rollup_agg",
    oracle="""
SELECT l_returnflag, l_linestatus,
       round(1e-9 + sum(l_quantity), 2) AS sum_qty,
       count(*) AS n
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
)
def rollup_agg(spark, sf_dir):
    return table(spark, sf_dir, "lineitem").rollup("l_returnflag", "l_linestatus").agg(
        rnd(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "cube_agg",
    oracle="""
SELECT o_orderstatus, o_orderpriority,
       round(1e-9 + sum(o_totalprice), 2) AS sum_price,
       count(*) AS n
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
)
def cube_agg(spark, sf_dir):
    return table(spark, sf_dir, "orders").cube("o_orderstatus", "o_orderpriority").agg(
        rnd(F.sum("o_totalprice"), 2).alias("sum_price"),
        F.count(F.lit(1)).alias("n"),
    )


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

@query(
    "pivot_wide",
    oracle="""
SELECT user_id,
       round(1e-9 + sum(value) FILTER (WHERE event_type = 'click'), 2)    AS click,
       round(1e-9 + sum(value) FILTER (WHERE event_type = 'error'), 2)    AS error,
       round(1e-9 + sum(value) FILTER (WHERE event_type = 'purchase'), 2) AS purchase,
       round(1e-9 + sum(value) FILTER (WHERE event_type = 'signup'), 2)   AS signup,
       round(1e-9 + sum(value) FILTER (WHERE event_type = 'view'), 2)     AS "view"
FROM events
GROUP BY user_id
""",
)
def pivot_wide(spark, sf_dir):
    """Pivot with an explicit value list (no extra distinct-scan job, stable
    column order)."""
    return (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .agg(rnd(F.sum("value"), 2))
    )


@query("approx_distinct")  # approximate — rows-only check, no oracle
def approx_distinct(spark, sf_dir):
    """Sketch aggregates (HLL++, KLL): A9's distinct-vocabulary at the scale
    where exact distinct is a full shuffle. rsd=0.01 keeps the sketch small
    enough to broadcast-merge."""
    li = table(spark, sf_dir, "lineitem")
    return li.agg(
        F.approx_count_distinct("l_orderkey", rsd=0.01).alias("approx_orders"),
        F.approx_count_distinct("l_partkey", rsd=0.01).alias("approx_parts"),
        F.percentile_approx("l_extendedprice", 0.5).alias("median_price"),
    )


# --- joins ----------------------------------------------------------------

@query(
    "join_inner",
    oracle="""
SELECT o_orderkey, c_custkey, c_mktsegment, o_totalprice
FROM orders JOIN customer ON o_custkey = c_custkey
""",
)
def join_inner(spark, sf_dir):
    """Equi join; customer is the small side → broadcast hash join."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    return o.join(
        F.broadcast(c), o.o_custkey == c.c_custkey
    ).select("o_orderkey", "c_custkey", "c_mktsegment", "o_totalprice")


@query(
    "join_multi",
    oracle="""
SELECT n_name, r_name,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                      * (1 - CAST(l_discount AS DECIMAL(18,6)))), 2)
            AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY n_name, r_name
""",
)
def join_multi(spark, sf_dir):
    """TPC-H Q5 shape. orders is a FACT (≈¼ of lineitem — ~25 TB at target
    scale), so it joins without a broadcast hint: Catalyst/AQE picks
    broadcast at toy scale and shuffle join at real scale. Only the true
    dims (customer/nation/region — MBs to low GBs at any SF) are forced
    broadcast, so the fact side never shuffles for them.

    The revenue sum runs in DECIMAL on both engines — the scale-robust
    form. With double sums, cross-engine summation ORDER shifts the
    result by ~n·ulp: measured at the generated sf0.1 (600k lineitem,
    revenue ≈ 1.19e9) as a 2nd-decimal flip (…65.03 vs …65.02) that no
    rounding jitter can absorb, while the same double sum hash-matches
    at the driver scales. Decimal sums of bit-identical inputs are exact
    and engine-order-independent at ANY scale (38-digit headroom:
    ~24 digits at sf1000); this query is the demonstrated-divergent case
    and carries the recipe for every other revenue-style aggregate."""
    li = table(spark, sf_dir, "lineitem")
    with_orders = li.join(
        table(spark, sf_dir, "orders"), li.l_orderkey == F.col("o_orderkey")
    )
    joined = broadcast_star_join(
        with_orders,
        [
            (table(spark, sf_dir, "customer"), F.col("o_custkey") == F.col("c_custkey")),
            (table(spark, sf_dir, "nation"), F.col("c_nationkey") == F.col("n_nationkey")),
            (table(spark, sf_dir, "region"), F.col("n_regionkey") == F.col("r_regionkey")),
        ],
    )
    pd = F.col("l_extendedprice").cast("decimal(18,6)")
    dd = F.col("l_discount").cast("decimal(18,6)")
    return joined.groupBy("n_name", "r_name").agg(
        F.round(F.sum(pd * (F.lit(1).cast("decimal(18,6)") - dd)), 2)
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


@query(
    "join_salted",
    oracle="""
SELECT o_orderpriority AS priority,
       count(*) AS n_items,
       round(1e-9 + sum(l_extendedprice), 2) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1
""",
)
def join_salted(spark, sf_dir):
    """The skew-proof join AS a registered, hash-checked query: lineitem ⋈
    orders through operators.skew.salted_join (fact rows deterministically
    salted into 16 sub-keys, the other side replicated across all 16), then
    the priority roll-up. The oracle is the PLAIN join — identical results
    is salted_join's entire contract (each fact row lands in exactly one
    sub-key: no drops, no duplicates), so the hash check proves the
    rewrite's equivalence end to end, not just its plan shape.

    When to reach for it at 100 TB: the non-fact side is too big to
    broadcast AND single join keys are hot beyond AQE's skew splitting
    (AQE splits oversized partitions; it cannot split one hot KEY feeding
    a hash join). Cost is explicit: the replicated side shuffles ×16.
    Plain-join row parity is also pinned in test_skew.py; the salting
    exchange shape in test_plan_shape.py's registry walk."""
    from mapreduce_model_spark.operators.skew import salted_join

    fact = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    dim = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    joined = salted_join(fact, dim, key="l_orderkey", n_salts=16)
    return joined.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count(F.lit(1)).alias("n_items"),
        rnd(F.sum("l_extendedprice"), 2).alias("revenue"),
    )


@query(
    "join_semi",
    oracle="""
SELECT c_custkey, c_name FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""",
)
def join_semi(spark, sf_dir):
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@query(
    "join_anti",
    oracle="""
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""",
)
def join_anti(spark, sf_dir):
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@query(
    "join_left_outer",
    oracle="""
SELECT c_custkey,
       count(o_orderkey)                          AS n_orders,
       round(1e-9 + sum(coalesce(o_totalprice, 0)), 2)   AS total_spend
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey
""",
)
def join_left_outer(spark, sf_dir):
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            rnd(F.sum(F.coalesce(F.col("o_totalprice"), F.lit(0.0))), 2).alias(
                "total_spend"
            ),
        )
    )


@query(
    "join_full_outer",
    oracle="""
SELECT n_nationkey, n_name, s_suppkey, s_name
FROM nation FULL JOIN supplier ON n_nationkey = s_nationkey
""",
)
def join_full_outer(spark, sf_dir):
    n = table(spark, sf_dir, "nation")
    s = table(spark, sf_dir, "supplier")
    return n.join(s, n.n_nationkey == s.s_nationkey, "full").select(
        "n_nationkey", "n_name", "s_suppkey", "s_name"
    )


@query(
    "join_range",
    oracle="""
SELECT e1.user_id AS user_id, count(*) AS n_pairs
FROM events e1 JOIN events e2
  ON e1.user_id = e2.user_id
 AND epoch_us(e2.ts) >  epoch_us(e1.ts)
 AND epoch_us(e2.ts) <= epoch_us(e1.ts) + 300000000
GROUP BY e1.user_id
""",
)
def join_range(spark, sf_dir):
    """Interval self-join: follow-up events within 5 minutes, per user.
    Equi-key (user_id) bounds the per-key cross product; comparisons in
    microseconds to sidestep parquet-ns vs Spark-µs truncation."""
    ev = table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("us")
    )
    e1 = ev.alias("e1")
    e2 = ev.alias("e2")
    pairs = range_join(
        e1,
        e2,
        ["user_id"],
        (F.col("e2.us") > F.col("e1.us"))
        & (F.col("e2.us") <= F.col("e1.us") + 300_000_000),
    )
    return pairs.groupBy(F.col("e1.user_id").alias("user_id")).agg(
        F.count(F.lit(1)).alias("n_pairs")
    )


@query(
    "join_asof",
    oracle="""
SELECT e1.event_id AS event_id, e1.user_id AS user_id,
       epoch_us(e1.ts) AS ts_us,
       (SELECT max(epoch_us(e2.ts)) FROM events e2
         WHERE e2.user_id = e1.user_id
           AND e2.event_type = 'purchase'
           AND epoch_us(e2.ts) <= epoch_us(e1.ts)) AS asof_ts_us
FROM events e1
WHERE e1.event_type = 'click'
""",
)
def join_asof(spark, sf_dir):
    """As-of join (backward): each click matched to the user's latest
    purchase at-or-before it. Implemented as one per-user window over the
    union of both streams (operators.joins.asof_join) — no correlated
    subquery, one shuffle, scale-safe."""
    ev = table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts")
    out = asof_join(clicks, purchases, key="user_id")
    return out.select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us"), "asof_ts_us"
    )


# --- sort / limit / set ops ----------------------------------------------

@query(
    "sort_limit_topk",
    oracle="""
SELECT l_orderkey, l_linenumber, l_extendedprice
FROM lineitem
ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
LIMIT 100
""",
)
def sort_limit_topk(spark, sf_dir):
    """Global top-k: Spark plans TakeOrderedAndProject (per-partition top-k
    + driver merge of k·partitions rows), never a full global sort. Total
    order via tie-break keys (A14 discipline)."""
    return (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(
            F.col("l_extendedprice").desc(), "l_orderkey", "l_linenumber"
        )
        .limit(100)
    )


@query(
    "set_ops_union",
    oracle="""
SELECT o_custkey AS custkey FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01'
UNION
SELECT o_custkey AS custkey FROM orders WHERE o_orderdate >= TIMESTAMP '2001-01-01'
""",
)
def set_ops_union(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    early = o.filter(F.col("o_orderdate") < "1996-01-01").select(
        F.col("o_custkey").alias("custkey")
    )
    late = o.filter(F.col("o_orderdate") >= "2001-01-01").select(
        F.col("o_custkey").alias("custkey")
    )
    return early.unionByName(late).distinct()


@query(
    "set_ops_intersect",
    oracle="""
SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
INTERSECT
SELECT o_custkey AS custkey FROM orders
""",
)
def set_ops_intersect(spark, sf_dir):
    c = table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    ).select(F.col("c_custkey").alias("custkey"))
    o = table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("custkey"))
    return c.intersect(o)


@query(
    "set_ops_except",
    oracle="""
SELECT c_custkey AS custkey FROM customer
EXCEPT
SELECT o_custkey AS custkey FROM orders
""",
)
def set_ops_except(spark, sf_dir):
    """subtract == SQL EXCEPT (set semantics): a left row with ANY match on
    the right is eliminated entirely — exceptAll().distinct() would wrongly
    keep left rows whose duplicates merely outnumber the right's."""
    c = table(spark, sf_dir, "customer").select(F.col("c_custkey").alias("custkey"))
    o = table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("custkey"))
    return c.subtract(o)


# --- window functions -----------------------------------------------------

@query(
    "window_rank",
    oracle="""
SELECT * FROM (
    SELECT o_custkey, o_orderkey, o_totalprice,
           row_number() OVER w AS rn,
           rank()       OVER w AS rnk,
           dense_rank() OVER w AS drnk
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
) WHERE rn <= 3
""",
)
def window_rank(spark, sf_dir):
    """Top-3 orders per customer — generalizes the reference's per-letter
    (n_docs DESC, word ASC) ranking (main.cc:148-156). One shuffle on
    o_custkey; the rn<=3 filter prunes before anything downstream."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    )
    ranked = topk_per_group(
        o.select("o_custkey", "o_orderkey", "o_totalprice"),
        ["o_custkey"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey")],
        3,
    )
    return (
        ranked.withColumn("rn", F.col("rn").cast("long"))
        .withColumn("rnk", F.rank().over(w).cast("long"))
        .withColumn("drnk", F.dense_rank().over(w).cast("long"))
    )


@query(
    "window_analytic",
    oracle="""
SELECT event_id, user_id,
       round(1e-9 + value, 2)                                   AS value,
       round(1e-9 + lag(value)  OVER w, 2)                      AS prev_value,
       round(1e-9 + lead(value) OVER w, 2)                      AS next_value,
       round(1e-9 + sum(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_sum,
       round(1e-9 + avg(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2)         AS moving_avg3
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
""",
)
def window_analytic(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    order = [F.unix_micros("ts"), F.col("event_id")]
    w = Window.partitionBy("user_id").orderBy(*order)
    running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    moving = w.rowsBetween(-2, Window.currentRow)
    return ev.select(
        "event_id",
        "user_id",
        rnd("value", 2).alias("value"),
        rnd(F.lag("value").over(w), 2).alias("prev_value"),
        rnd(F.lead("value").over(w), 2).alias("next_value"),
        rnd(F.sum("value").over(running), 2).alias("running_sum"),
        rnd(F.avg("value").over(moving), 2).alias("moving_avg3"),
    )


@query(
    "sessionize_events",
    oracle="""
WITH e AS (
    SELECT user_id, event_id, epoch_us(ts) AS us FROM events
), flags AS (
    SELECT user_id,
           CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
                     IS NULL
                  OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
                     > 1800000000
                THEN 1 ELSE 0 END AS new_session
    FROM e
)
SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions
FROM flags GROUP BY user_id
""",
)
def sessionize_events(spark, sf_dir):
    """Batch sessionization (30-min gap) — the lag+cumsum construction;
    streaming analogue is session_window (queries_streaming)."""
    ev = table(spark, sf_dir, "events")
    s = sessionize(ev, key="user_id", ts_col="ts", gap_seconds=1800, tie_break="event_id")
    return s.groupBy("user_id").agg(
        F.max("session_id").cast("long").alias("n_sessions")
    )


# --- scalar function surface ---------------------------------------------

@query(
    "scalar_funcs",
    oracle="""
SELECT event_id,
       upper(event_type)                              AS type_upper,
       substr(event_type, 1, 3)                       AS type3,
       concat(event_type, '#', CAST(user_id AS VARCHAR)) AS tagged,
       length(props)                                  AS props_len,
       replace(event_type, 'i', '!')                  AS replaced,
       lpad(CAST(user_id AS VARCHAR), 6, '0')         AS user_pad,
       CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val,
       year(ts)                                       AS y,
       month(ts)                                      AS m,
       day(ts)                                        AS d,
       hour(ts)                                       AS h,
       CAST(date_trunc('day', ts) AS TIMESTAMP)       AS day_ts,
       abs(value - 100.0)                             AS dist100,
       round(1e-9 + sqrt(value), 4)                          AS sqrt_v,
       round(1e-9 + ln(value + 1.0), 4)                      AS log_v,
       CAST(floor(value) AS BIGINT)                   AS floor_v,
       CAST(ceil(value) AS BIGINT)                    AS ceil_v,
       CAST(event_id % 7 AS BIGINT)                   AS id_mod
FROM events
""",
)
def scalar_funcs(spark, sf_dir):
    """String/date/math/JSON scalar surface (A4/A5 generalized). All
    JVM-side built-ins — whole-stage-codegen, no Python in the hot path."""
    ev = table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.upper("event_type").alias("type_upper"),
        F.substring("event_type", 1, 3).alias("type3"),
        F.concat_ws("#", "event_type", F.col("user_id").cast("string")).alias("tagged"),
        F.length("props").cast("long").alias("props_len"),
        F.regexp_replace("event_type", "i", "!").alias("replaced"),
        F.lpad(F.col("user_id").cast("string"), 6, "0").alias("user_pad"),
        F.get_json_object("props", "$.k").cast("int").alias("k_val"),
        F.year("ts").cast("long").alias("y"),
        F.month("ts").cast("long").alias("m"),
        F.dayofmonth("ts").cast("long").alias("d"),
        F.hour("ts").cast("long").alias("h"),
        F.date_trunc("day", "ts").alias("day_ts"),
        F.abs(F.col("value") - 100.0).alias("dist100"),
        rnd(F.sqrt("value"), 4).alias("sqrt_v"),
        rnd(F.log(F.col("value") + 1.0), 4).alias("log_v"),
        F.floor("value").alias("floor_v"),
        F.ceil("value").alias("ceil_v"),
        (F.col("event_id") % 7).cast("long").alias("id_mod"),
    )


# --- grouping sets / statistics / SQL API ----------------------------------

@query(
    "grouping_sets",
    oracle="""
SELECT l_returnflag, l_linestatus,
       round(1e-9 + sum(l_quantity), 2) AS sum_qty,
       count(*) AS n
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
""",
)
def grouping_sets(spark, sf_dir):
    """Explicit grouping sets (beyond rollup/cube): one pass, Catalyst
    expands to a single Expand + hash aggregate — not three scans."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupingSets(
        [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
        "l_returnflag",
        "l_linestatus",
    ).agg(
        rnd(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "percentile_stats",
    oracle="""
SELECT l_returnflag,
       array_to_string(list_transform(quantile_cont(l_quantity, [0.25, 0.5, 0.75]),
                      x -> CAST(round(1e-9 + x, 4) AS DECIMAL(18,4))::VARCHAR), ',')
           AS qty_quartiles,
       round(1e-9 + median(l_extendedprice), 4) AS median_price
FROM lineitem GROUP BY l_returnflag
""",
)
def percentile_stats(spark, sf_dir):
    """Exact percentiles (continuous interpolation — identical definition in
    DuckDB's quantile_cont). The quartile triple is joined to a string via a
    fixed-scale DECIMAL cast (identical text in both engines). Exact
    percentile sorts within groups; at 100 TB prefer approx_percentile (see
    approx_distinct for the sketch pattern)."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.array_join(
            F.transform(
                F.expr("percentile(l_quantity, array(0.25D, 0.5D, 0.75D))"),
                lambda x: F.round(x + 1e-9, 4).cast("decimal(18,4)").cast("string"),
            ),
            ",",
        ).alias("qty_quartiles"),
        rnd(F.expr("percentile(l_extendedprice, 0.5D)"), 4).alias("median_price"),
    )


@query(
    "corr_stats",
    oracle="""
SELECT l_returnflag,
       round(1e-9 + corr(l_quantity, l_extendedprice), 4)       AS qty_price_corr,
       round(1e-9 + stddev_samp(l_quantity), 4)                 AS qty_sd,
       round(1e-9 + var_samp(l_discount), 6)                    AS disc_var,
       round(1e-9 + covar_samp(l_quantity, l_extendedprice), 2) AS qty_price_cov
FROM lineitem GROUP BY l_returnflag
""",
)
def corr_stats(spark, sf_dir):
    """Statistical aggregates — single-pass distributed moments (no second
    scan for the mean), identical estimator definitions in DuckDB."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        rnd(F.corr("l_quantity", "l_extendedprice"), 4).alias("qty_price_corr"),
        rnd(F.stddev_samp("l_quantity"), 4).alias("qty_sd"),
        rnd(F.var_samp("l_discount"), 6).alias("disc_var"),
        rnd(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias("qty_price_cov"),
    )


_Q3_SQL = """
SELECT l_orderkey,
       round(1e-9 + sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       o_orderdate
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-06-30'
  AND l_shipdate  > TIMESTAMP '1997-06-30'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey
LIMIT 20
"""


@query("sql_api_q3", oracle=_Q3_SQL)
def sql_api_q3(spark, sf_dir):
    """TPC-H Q3 shape through the SQL entry point: the engine surface is
    DataFrame AND SQL — one Catalyst plan either way. The exact same query
    text is the DuckDB oracle (dialect-neutral by construction)."""
    for t in ("customer", "orders", "lineitem"):
        table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_Q3_SQL)


_SCRIPTED_ORACLE = """
WITH thr AS (SELECT avg(o_totalprice) AS t FROM orders)
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_big,
       round(1e-9 + avg(o_totalprice), 2) AS avg_big
FROM orders CROSS JOIN thr
WHERE o_totalprice > t
GROUP BY o_orderpriority
"""


@query("sql_scripting_report", oracle=_SCRIPTED_ORACLE)
def sql_scripting_report(spark, sf_dir):
    """Spark 4 SQL scripting surface (BEGIN/DECLARE/SET compound
    statements): a two-step scripted analysis — derive a data-driven
    threshold (mean order value) into a session variable, then report
    above-threshold orders per priority using it. The script executes as
    ordinary Catalyst plans per statement (the variable re-enters as a
    literal), so the reporting SELECT gets the same pushdown/partial-agg
    plan the DataFrame form would; the DuckDB oracle is the equivalent
    scalar-subquery query. Scale: step 1 is a 1-row aggregate; step 2 is
    one scan + one group-key exchange — variables add driver-side
    sequencing, never a data-path change."""
    spark.conf.set("spark.sql.scripting.enabled", "true")
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
BEGIN
  DECLARE thr DOUBLE DEFAULT 0;
  SET thr = (SELECT avg(o_totalprice) FROM orders);
  SELECT o_orderpriority, count(*) AS n_big,
         round(avg(o_totalprice) + 1e-9, 2) AS avg_big
  FROM orders WHERE o_totalprice > thr GROUP BY o_orderpriority;
END
"""
    )


_PIPE_ORACLE = """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                      * (1 - CAST(l_discount AS DECIMAL(18,6)))), 2)
            AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
GROUP BY o_orderpriority
"""


@query("sql_pipe_report", oracle=_PIPE_ORACLE)
def sql_pipe_report(spark, sf_dir):
    """Spark 4 SQL pipe-operator surface (`|>` — SPARK-49555): the same
    filter → join → extend → aggregate report as a linear pipeline,
    completing the SQL-entry-point trio (plain SQL: sql_api_q3,
    scripting: sql_scripting_report, pipes: here). Pipe stages parse to
    the IDENTICAL Catalyst plan the nested form would — pushdown,
    broadcast choice, and partial aggregation are unchanged, so this is
    a parser surface, not an execution path. The revenue sum follows
    join_multi's DECIMAL recipe (exact, summation-order-independent at
    any scale); the DuckDB oracle is the equivalent nested-form SQL."""
    for t in ("lineitem", "orders"):
        table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(
        """
FROM lineitem
|> WHERE l_shipdate >= TIMESTAMP '1997-01-01'
|> JOIN orders ON l_orderkey = o_orderkey
|> EXTEND CAST(l_extendedprice AS DECIMAL(18,6))
          * (1 - CAST(l_discount AS DECIMAL(18,6))) AS disc_price
|> AGGREGATE count(*) AS n_items,
             CAST(round(sum(disc_price), 2) AS DOUBLE) AS revenue
   GROUP BY o_orderpriority
"""
    )


@query(
    "array_funcs",
    oracle="""
SELECT event_id,
       array_to_string(generate_series(1, 1 + event_id % 4), ',')       AS seq,
       list_contains(generate_series(1, 1 + event_id % 4), 3)           AS has3,
       array_to_string(generate_series(1, 1 + event_id % 4)[1:2], ',')  AS first2,
       list_max(generate_series(1, 1 + event_id % 4))                   AS seq_max,
       array_to_string(list_reverse(generate_series(1, 1 + event_id % 4)), ',') AS rev,
       CAST(list_sum(generate_series(1, 1 + event_id % 4)) AS BIGINT)   AS seq_sum,
       array_to_string(list_transform(generate_series(1, 1 + event_id % 4), x -> x * x), ',') AS squares,
       coalesce(array_to_string(list_filter(generate_series(1, 1 + event_id % 4), x -> x % 2 = 0), ','), '') AS evens,
       array_to_string(list_sort([event_id % 7, event_id % 3, event_id % 5]), ',') AS srt
FROM events
""",
)
def array_funcs(spark, sf_dir):
    """Array scalar surface: construction, membership, slicing, fold,
    higher-order transform/filter — all JVM built-ins (whole-stage codegen),
    the pattern every array<...> column op in the engine follows. Array
    results are comma-joined for hash-stable comparison."""
    ev = table(spark, sf_dir, "events")
    n = F.lit(1) + F.col("event_id") % 4
    seq = F.sequence(F.lit(1).cast("long"), n)

    def s(arr):
        return F.array_join(F.transform(arr, lambda x: x.cast("string")), ",")

    return ev.select(
        "event_id",
        s(seq).alias("seq"),
        F.array_contains(seq, 3).alias("has3"),
        s(F.slice(seq, 1, 2)).alias("first2"),
        F.array_max(seq).alias("seq_max"),
        s(F.reverse(seq)).alias("rev"),
        F.aggregate(seq, F.lit(0).cast("long"), lambda a, x: a + x).alias("seq_sum"),
        s(F.transform(seq, lambda x: x * x)).alias("squares"),
        s(F.filter(seq, lambda x: x % 2 == 0)).alias("evens"),
        s(
            F.sort_array(
                F.array(
                    F.col("event_id") % 7, F.col("event_id") % 3, F.col("event_id") % 5
                )
            )
        ).alias("srt"),
    )


@query(
    "unpivot_long",
    oracle="""
SELECT l_orderkey, l_linenumber, 'quantity' AS measure,
       round(1e-9 + l_quantity, 2) AS val
FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'price', round(1e-9 + l_extendedprice, 2)
FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'tax', round(1e-9 + l_tax, 2)
FROM lineitem
""",
)
def unpivot_long(spark, sf_dir):
    """Wide → long (the inverse of pivot_wide): one narrow pass, no shuffle
    — Catalyst expands to a generator, never N scans (the UNION ALL oracle
    is the dialect-neutral spelling, not the plan)."""
    li = table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        rnd("l_quantity", 2).alias("quantity"),
        rnd("l_extendedprice", 2).alias("price"),
        rnd("l_tax", 2).alias("tax"),
    ).unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["quantity", "price", "tax"],
        variableColumnName="measure",
        valueColumnName="val",
    )


@query(
    "datetime_funcs",
    oracle="""
SELECT o_orderkey,
       CAST(o_orderdate + INTERVAL 30 DAY AS TIMESTAMP)          AS due_date,
       date_diff('day', TIMESTAMP '1995-01-01', o_orderdate)     AS days_since_epoch_start,
       CAST(date_trunc('month', o_orderdate) AS TIMESTAMP)       AS order_month,
       CAST(last_day(o_orderdate) AS TIMESTAMP)                  AS month_end,
       dayofweek(o_orderdate) + 1                                AS dow,
       CAST(strftime(o_orderdate, '%Y-%m') AS VARCHAR)           AS ym,
       quarter(o_orderdate)                                      AS q,
       weekofyear(o_orderdate)                                   AS woy,
       regexp_extract(o_orderpriority, '^([0-9]+)-(.*)$', 1)     AS prio_num,
       regexp_extract(o_orderpriority, '^([0-9]+)-(.*)$', 2)     AS prio_name
FROM orders
""",
)
def datetime_funcs(spark, sf_dir):
    """Date/interval arithmetic + regexp group extraction — identical
    definitions both engines (DuckDB dayofweek is 0=Sunday vs Spark's
    1=Sunday — oracle shifts by one; weekofyear is ISO in both)."""
    o = table(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        (d + F.expr("INTERVAL 30 DAYS")).alias("due_date"),
        F.datediff(d, F.lit("1995-01-01").cast("timestamp_ntz")).cast("long").alias(
            "days_since_epoch_start"
        ),
        F.date_trunc("month", d).cast("timestamp_ntz").alias("order_month"),
        F.last_day(d).cast("timestamp_ntz").alias("month_end"),
        F.dayofweek(d).cast("long").alias("dow"),
        F.date_format(d, "yyyy-MM").alias("ym"),
        F.quarter(d).cast("long").alias("q"),
        F.weekofyear(d).cast("long").alias("woy"),
        F.regexp_extract("o_orderpriority", r"^([0-9]+)-(.*)$", 1).alias("prio_num"),
        F.regexp_extract("o_orderpriority", r"^([0-9]+)-(.*)$", 2).alias("prio_name"),
    )


@query(
    "map_funcs",
    oracle="""
SELECT event_id,
       map(['type','user'], [event_type, CAST(user_id AS VARCHAR)])['type'][1] AS m_type,
       CAST(cardinality(map(['type','user'], [event_type, CAST(user_id AS VARCHAR)])) AS BIGINT) AS m_size,
       array_to_string(map_keys(map(['type','user'],
                                    [event_type, CAST(user_id AS VARCHAR)])), ',') AS m_keys,
       map(['k'], [CAST(event_id % 10 AS BIGINT)])['k'][1] AS m_val
FROM events
""",
)
def map_funcs(spark, sf_dir):
    """MapType construction and access carried through projections. Output
    columns are scalars (map columns themselves are not hash-stable across
    engines — key order is undefined in both)."""
    ev = table(spark, sf_dir, "events")
    m = F.create_map(
        F.lit("type"), F.col("event_type"),
        F.lit("user"), F.col("user_id").cast("string"),
    )
    return ev.select(
        "event_id",
        F.element_at(m, "type").alias("m_type"),
        F.size(m).cast("long").alias("m_size"),
        F.array_join(F.map_keys(m), ",").alias("m_keys"),
        F.element_at(
            F.create_map(F.lit("k"), (F.col("event_id") % 10).cast("long")), "k"
        ).alias("m_val"),
    )


@query(
    "argminmax_agg",
    oracle="""
SELECT event_type,
       CAST(max_by(event_id, value * 100000000 + event_id) AS BIGINT) AS ev_at_max,
       CAST(min_by(event_id, value * 100000000 + event_id) AS BIGINT) AS ev_at_min,
       round(1e-9 + max(value), 2) AS v_max,
       round(1e-9 + min(value), 2) AS v_min
FROM events GROUP BY event_type
""",
)
def argminmax_agg(spark, sf_dir):
    """Arg-aggregates: WHICH row holds the extreme, not just the extreme —
    ``max_by``/``min_by`` (single-pass, pre-aggregable; replaces the
    self-join-on-max anti-pattern). Raw ``max_by(id, value)`` is
    nondeterministic under ties (engine keeps an arbitrary winner), and
    (event_type, value) ties are real in this data — so the ordering key
    composes value and id into one exact integer (value has 2 decimals;
    value*1e8 + id < 2^53), making the winner total-ordered in BOTH
    engines: highest id at the max, lowest id at the min."""
    ev = table(spark, sf_dir, "events")
    key = F.col("value") * 100000000 + F.col("event_id")
    return ev.groupBy("event_type").agg(
        F.max_by("event_id", key).cast("long").alias("ev_at_max"),
        F.min_by("event_id", key).cast("long").alias("ev_at_min"),
        rnd(F.max("value"), 2).alias("v_max"),
        rnd(F.min("value"), 2).alias("v_min"),
    )


@query(
    "map_hof_funcs",
    oracle="""
SELECT event_id,
       array_to_string([event_id % 5 * 2, user_id % 7 * 2], ',')      AS doubled,
       coalesce(array_to_string(
           list_transform(
               list_filter([struct_pack(k := 'a', v := event_id % 5),
                            struct_pack(k := 'b', v := user_id % 7)],
                           x -> x.v >= 3),
               x -> x.k), ','), '')                                   AS big_keys,
       array_to_string([event_id % 5 + 1, user_id % 7 + 2], ',')      AS zipped,
       CAST(3 AS BIGINT)                                              AS n_concat
FROM events
""",
)
def map_hof_funcs(spark, sf_dir):
    """Map higher-order functions — transform_values, map_filter,
    map_zip_with, map_concat — the lambda surface for map<k,v> columns
    (feature dicts, per-language token counts), all JVM codegen like the
    array HOFs. Spark map semantics are load-bearing here: create_map
    preserves insertion order, so value lists serialize deterministically;
    the DuckDB oracle computes the same results on entry lists (its maps
    have no lambda ops)."""
    ev = table(spark, sf_dir, "events")
    m1 = F.create_map(
        F.lit("a"), (F.col("event_id") % 5).cast("long"),
        F.lit("b"), (F.col("user_id") % 7).cast("long"),
    )
    m2 = F.create_map(F.lit("a"), F.lit(1).cast("long"), F.lit("b"), F.lit(2).cast("long"))

    def j(arr):
        return F.array_join(F.transform(arr, lambda x: x.cast("string")), ",")

    return ev.select(
        "event_id",
        j(F.map_values(F.transform_values(m1, lambda k, v: v * 2))).alias("doubled"),
        F.array_join(
            F.map_keys(F.map_filter(m1, lambda k, v: v >= 3)), ","
        ).alias("big_keys"),
        j(
            F.map_values(F.map_zip_with(m1, m2, lambda k, v1, v2: v1 + v2))
        ).alias("zipped"),
        F.size(
            F.map_concat(m1, F.create_map(F.lit("c"), F.lit(9).cast("long")))
        ).cast("long").alias("n_concat"),
    )


@query(
    "join_range_keyless",
    oracle="""
WITH e AS (
    SELECT event_id, user_id, epoch_us(ts) AS us FROM events WHERE event_type = 'purchase'
), s AS (
    SELECT event_id AS s_id, epoch_us(ts) AS s_us FROM events WHERE event_type = 'signup'
)
SELECT e.event_id, e.user_id, s.s_id,
       CAST(abs(e.us - s.s_us) AS BIGINT) AS gap_us
FROM e JOIN s ON abs(e.us - s.s_us) <= 30000000
""",
)
def join_range_keyless(spark, sf_dir):
    """Keyless time-proximity join (purchases within 30s of ANY signup) via
    interval bucketization — equi join on bucket + residual, never a
    cartesian product (plan-asserted in test_plan_shape)."""
    from mapreduce_model_spark.operators.joins import interval_bucket_join

    ev = table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.unix_micros("ts").alias("us")
    )
    signups = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("s_id"), F.unix_micros("ts").alias("s_us")
    )
    out = interval_bucket_join(purchases, signups, "us", "s_us", 30_000_000)
    # no dedup needed: a right row sits in exactly one bucket, so each
    # qualifying pair joins through exactly one of the three probe buckets
    return out.select(
        "event_id",
        "user_id",
        "s_id",
        F.abs(F.col("us") - F.col("s_us")).cast("long").alias("gap_us"),
    )


@query(
    "window_range_frame",
    oracle="""
WITH e AS (
    SELECT event_id, user_id, epoch_us(ts) AS us, value FROM events
)
SELECT event_id, user_id,
       CAST(count(*) OVER w AS BIGINT)       AS n_last_10min,
       round(1e-9 + sum(value) OVER w, 2)    AS sum_last_10min
FROM e
WINDOW w AS (PARTITION BY user_id ORDER BY us
             RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW)
""",
)
def window_range_frame(spark, sf_dir):
    """Value-RANGE window frames (vs window_analytic's ROW frames): per
    user, activity within the trailing 10 minutes of event time — the frame
    is defined by timestamp distance, not row count, so ties and gaps
    behave by value. One shuffle on user_id."""
    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.unix_micros("ts").alias("us"), "value"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-600_000_000, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).cast("long").alias("n_last_10min"),
        rnd(F.sum("value").over(w), 2).alias("sum_last_10min"),
    )


@query(
    "set_ops_bag",
    oracle="""
SELECT custkey, count(*) AS n FROM (
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    EXCEPT ALL
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
) GROUP BY custkey
""",
)
def set_ops_bag(spark, sf_dir):
    """Bag-semantics EXCEPT ALL (multiset subtraction: each right occurrence
    cancels ONE left occurrence — vs set_ops_except where any match
    eliminates all). Aggregated so the checked result is order-free."""
    o = table(spark, sf_dir, "orders")
    f = o.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    )
    open_ = o.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("custkey")
    )
    return f.exceptAll(open_).groupBy("custkey").agg(F.count(F.lit(1)).alias("n"))


@query(
    "null_semantics",
    oracle="""
WITH n AS (
    SELECT o_orderkey,
           nullif(o_orderstatus, 'O')                    AS status_n,
           CASE WHEN o_orderkey % 7 = 0 THEN NULL
                ELSE o_totalprice END                    AS price_n
    FROM orders
)
SELECT
    count(*)                                             AS n_rows,
    count(price_n)                                       AS n_price,
    count(DISTINCT status_n)                             AS n_status,
    CAST(sum(CASE WHEN price_n IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_price,
    round(1e-9 + avg(price_n), 4)                        AS avg_price_ignoring_nulls,
    round(1e-9 + avg(coalesce(price_n, 0.0)), 4)         AS avg_price_nulls_as_zero,
    CAST(sum(CASE WHEN status_n IS NOT DISTINCT FROM NULL
             THEN 1 ELSE 0 END) AS BIGINT)               AS n_nullsafe_eq_null
FROM n
""",
)
def null_semantics(spark, sf_dir):
    """Null behavior pinned down: count(col) vs count(*), aggregate null
    skipping, coalesce, and null-safe equality (<=> / IS NOT DISTINCT FROM)
    — the semantics every downstream op silently depends on. Nulls are
    minted deterministically (the source tables have none)."""
    o = table(spark, sf_dir, "orders")
    n = o.select(
        "o_orderkey",
        F.nullif(F.col("o_orderstatus"), F.lit("O")).alias("status_n"),
        F.when(F.col("o_orderkey") % 7 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("o_totalprice"))
        .alias("price_n"),
    )
    return n.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("price_n").alias("n_price"),
        F.countDistinct("status_n").alias("n_status"),
        F.sum(F.when(F.col("price_n").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_null_price"),
        rnd(F.avg("price_n"), 4).alias("avg_price_ignoring_nulls"),
        rnd(F.avg(F.coalesce("price_n", F.lit(0.0))), 4).alias(
            "avg_price_nulls_as_zero"
        ),
        F.sum(F.col("status_n").eqNullSafe(F.lit(None).cast("string")).cast("int"))
        .cast("long")
        .alias("n_nullsafe_eq_null"),
    )


@query(
    "global_row_ids",
    oracle="""
SELECT doc_id, source,
       row_number() OVER (ORDER BY source, doc_id) AS row_id
FROM documents
""",
)
def global_row_ids(spark, sf_dir):
    """Contiguous global ids in (source, doc_id) order WITHOUT a global
    window: range-partition + per-partition numbering + partition offsets
    (operators/ids.py). The oracle's OVER (ORDER BY …) is the semantic spec
    only — the Spark plan must never single-partition the data (asserted in
    test_plan_shape)."""
    from mapreduce_model_spark.operators.ids import global_ordered_ids

    docs = table(spark, sf_dir, "documents").select("doc_id", "source")
    return global_ordered_ids(docs, ["source", "doc_id"])


_PACK_CAP = 1024


@query(
    "sequence_packing_global",
    oracle=rf"""
WITH t AS (
    SELECT doc_id,
           len({words_sql("tk")}) AS n_tok
    FROM documents
), c AS (
    SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
           CAST(coalesce(sum(n_tok) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS cum_before
    FROM t
)
SELECT doc_id, n_tok,
       cum_before // {_PACK_CAP} AS seq_id,
       cum_before % {_PACK_CAP}  AS seq_pos,
       (cum_before % {_PACK_CAP}) + n_tok > {_PACK_CAP} AS straddles
FROM c
""",
)
def sequence_packing_global(spark, sf_dir):
    """GLOBAL training-sequence packing: ONE contiguous token stream (in
    deterministic doc_id order) laid out into fixed-capacity sequences —
    each doc gets its sequence id, its token offset within that sequence,
    and a straddle flag (the packer's split point when a doc crosses a
    sequence boundary). The single-stream complement of queries_text's
    per-source `sequence_packing`, and the concrete delivery of that
    query's deferred promise ("split by the two-phase pattern if one
    source dominates"): here there is no partition key AT ALL and the
    layout is still window-free. Deterministic on any cluster size, so an
    epoch is reproducible bit-for-bit.

    Scale: the running token count is the classic single-partition global
    window trap (the oracle's OVER (ORDER BY ...) is the semantic spec
    only). The engine uses operators/ids.py global_prefix_sums — ONE range
    exchange, per-partition token SUMS to the driver (a long per
    partition), then a narrow Arrow cumsum pass; everything after is a
    narrow projection (div/mod by the capacity). Plan-pinned: no Window,
    no single-partition exchange."""
    from mapreduce_model_spark.functions.text import words_array
    from mapreduce_model_spark.operators.ids import global_prefix_sums

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.size(words_array("text")).cast("long").alias("n_tok")
    )
    c = global_prefix_sums(docs, ["doc_id"], "n_tok")
    return c.select(
        "doc_id",
        "n_tok",
        F.expr(f"cum_before div {_PACK_CAP}").alias("seq_id"),
        (F.col("cum_before") % _PACK_CAP).alias("seq_pos"),
        ((F.col("cum_before") % _PACK_CAP) + F.col("n_tok") > _PACK_CAP).alias(
            "straddles"
        ),
    )


@query("sketch_mergeable_distinct")  # sketch estimates — rows-only check
def sketch_mergeable_distinct(spark, sf_dir):
    """Mergeable distinct-count sketches (Apache DataSketches HLL): one
    sketch per source over document words, then a sketch UNION for the
    corpus-wide estimate — the two-level pattern that lets 100 TB of
    per-partition/per-day sketches be pre-aggregated once and re-combined
    arbitrarily (per week, per source group) without rescanning data.
    Deterministic for fixed input (no RNG), but approximate ⇒ rows-only;
    error bounds for the same estimator family are pinned in
    test_sketch_accuracy.py."""
    from pyspark.sql import functions as F

    from mapreduce_model_spark.functions.partitioning import spread_for_fanout
    from mapreduce_model_spark.functions.text import words_array

    docs = table(spark, sf_dir, "documents")
    words = spread_for_fanout(docs, "doc_id").select(
        "source", F.explode(words_array("text")).alias("word")
    )
    per_source = words.groupBy("source").agg(
        F.hll_sketch_agg("word", 14).alias("sk")
    )
    merged = per_source.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("global_distinct_words"),
        F.count(F.lit(1)).alias("n_sources"),
    )
    return merged


@query(
    "json_struct_funcs",
    oracle="""
SELECT event_id,
       CAST(json_extract(props, '$.k') AS INTEGER)             AS k_parsed,
       json_extract_string(props, '$.missing') IS NULL         AS missing_is_null,
       to_json(struct_pack(t := event_type, u := user_id))     AS packed
FROM events
""",
)
def json_struct_funcs(spark, sf_dir):
    """Schema-full JSON: from_json into a typed struct (vs scalar
    get_json_object in scalar_funcs), absent-key null semantics, and
    struct→JSON serialization — identical compact rendering both engines."""
    from pyspark.sql import functions as F

    ev = table(spark, sf_dir, "events")
    parsed = F.from_json("props", "k INT")
    return ev.select(
        "event_id",
        parsed.getField("k").alias("k_parsed"),
        F.get_json_object("props", "$.missing").isNull().alias("missing_is_null"),
        F.to_json(
            F.struct(F.col("event_type").alias("t"), F.col("user_id").alias("u"))
        ).alias("packed"),
    )


@query(
    "variant_funcs",
    oracle="""
SELECT event_id,
       CAST(json_extract(props, '$.k') AS INTEGER)      AS k_var,
       json_extract_string(props, '$.missing') IS NULL  AS missing_is_null,
       CAST(json_extract(props, '$') AS VARCHAR)        AS vstr
FROM events
""",
)
def variant_funcs(spark, sf_dir):
    """Semi-structured VARIANT surface (Spark 4): ``parse_json`` into an
    open-schema VARIANT value, typed path extraction with ``variant_get``,
    absent-path null semantics, and VARIANT→string serialization (compact
    JSON — matches DuckDB's ``json_extract(..., '$')::VARCHAR`` rendering
    of the same payload). Unlike ``json_struct_funcs`` (from_json needs the
    schema up front), VARIANT carries arbitrary shapes through shuffles and
    parquet round-trips with a binary encoding — the 100 TB answer to
    schemaless event payloads: parse once at ingest, extract typed paths
    lazily at query time without re-tokenizing JSON text per access."""
    ev = table(spark, sf_dir, "events")
    v = F.parse_json("props")
    return ev.select(
        "event_id",
        F.expr("variant_get(parse_json(props), '$.k', 'int')").alias("k_var"),
        F.expr("variant_get(parse_json(props), '$.missing', 'string')")
        .isNull()
        .alias("missing_is_null"),
        v.cast("string").alias("vstr"),
    )


@query(
    "listagg_group",
    oracle="""
SELECT event_type,
       count(*) AS n,
       string_agg(CAST(user_id AS VARCHAR), ',' ORDER BY user_id, event_id)
           AS ids
FROM events
GROUP BY event_type
""",
)
def listagg_group(spark, sf_dir):
    """Ordered string aggregation (Spark 4 ``listagg ... WITHIN GROUP``) —
    the SQL-standard form of the reference's postings-list assembly
    (A11+A12: group, order within group, serialize). The WITHIN GROUP
    ordering carries a total order per group (user_id, then unique
    event_id), so the concatenation is deterministic under any parallelism
    — same discipline the reference enforces by sorting postings before
    writing (main.cc:143)."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(
            "listagg(cast(user_id as string), ',') "
            "WITHIN GROUP (ORDER BY user_id, event_id)"
        ).alias("ids"),
    )


@query(
    "mode_bitwise_stats",
    oracle="""
WITH freq AS (
    SELECT event_type, user_id, count(*) AS n
    FROM events GROUP BY event_type, user_id
),
md AS (
    SELECT event_type, min(user_id) AS mode_uid
    FROM (
        SELECT event_type, user_id, n,
               max(n) OVER (PARTITION BY event_type) AS mx
        FROM freq
    )
    WHERE n = mx
    GROUP BY event_type
),
agg AS (
    SELECT event_type,
           round(median(value) + 1e-9, 4)  AS med_v,
           bit_and(user_id)                AS band,
           bit_or(user_id)                 AS bor,
           bit_xor(user_id)                AS bxor,
           bool_and(value > 0)             AS all_pos,
           bool_or(value > 190)            AS any_hi
    FROM events GROUP BY event_type
)
SELECT agg.event_type, md.mode_uid, agg.med_v, agg.band, agg.bor, agg.bxor,
       agg.all_pos, agg.any_hi
FROM agg JOIN md USING (event_type)
""",
)
def mode_bitwise_stats(spark, sf_dir):
    """Holistic + bitwise + boolean aggregate surface: deterministic
    ``mode`` (ties → lowest value, so the result is stable under any
    partitioning — the oracle spells the same tie-break out as
    min-over-max-count), interpolated ``median``, ``bit_and/or/xor``, and
    ``every``/``any``. Median and mode are holistic (not pre-aggregable);
    at 100 TB both hash-shuffle on the group key and each group's values
    stream through one reducer — fine for low-cardinality group keys like
    event_type, and the skew-safe two-phase rewrite for hot keys lives in
    operators/skew.py."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.expr("mode(user_id, true)").alias("mode_uid"),
        rnd(F.expr("median(value)"), 4).alias("med_v"),
        F.expr("bit_and(user_id)").alias("band"),
        F.expr("bit_or(user_id)").alias("bor"),
        F.expr("bit_xor(user_id)").alias("bxor"),
        F.expr("every(value > 0)").alias("all_pos"),
        F.expr("any(value > 190)").alias("any_hi"),
    )


_RECURSIVE_SQL = """
WITH RECURSIVE tree AS (
    SELECT p_partkey AS node, 0 AS depth
    FROM part WHERE p_partkey = 1
    UNION ALL
    SELECT c.p_partkey, t.depth + 1
    FROM tree t JOIN part c
      ON CAST(floor(c.p_partkey / 2.0) AS BIGINT) = t.node
    WHERE c.p_partkey >= 2
)
SELECT depth, count(*) AS n,
       min(node) AS first_node, max(node) AS last_node,
       CAST(sum(node) AS BIGINT) AS node_sum
FROM tree
GROUP BY depth
"""


@query("recursive_hierarchy", oracle=_RECURSIVE_SQL)
def recursive_hierarchy(spark, sf_dir):
    """WITH RECURSIVE as a first-class query surface (Spark 4 UnionLoop):
    a hierarchical traversal — the implicit binary tree over part keys
    (children of n are 2n, 2n+1) walked from the root, aggregated per
    level. The fixpoint class (BOM explosion, org charts, reachability)
    expressed declaratively; the identical query text is the DuckDB
    oracle, like sql_api_q3. Each recursive step is one self-join against
    the (broadcastable) key table — depth is logarithmic in the key
    space, so 100 TB fact scale never touches the loop."""
    from pyspark.sql import functions as F  # noqa: F401  (parity with siblings)

    table(spark, sf_dir, "part").createOrReplaceTempView("part")
    return spark.sql(_RECURSIVE_SQL)


_PARAM_SQL = """
SELECT o_orderpriority,
       l_returnflag AS returnflag,
       count(*) AS n_items,
       CAST(round(sum(l_extendedprice * (1 - l_discount)) + 1e-9, 2) AS DOUBLE)
           AS revenue
FROM orders JOIN lineitem ON l_orderkey = o_orderkey
WHERE o_orderdate >= CAST(:start_ts AS TIMESTAMP)
  AND o_orderdate <  CAST(:end_ts AS TIMESTAMP)
  AND l_quantity >= :min_qty
GROUP BY ALL
"""

_PARAM_ARGS: dict[str, object] = {
    "start_ts": "1995-01-01",
    "end_ts": "1996-01-01",
    "min_qty": 10,
}


def _inline_params(sql: str, args: dict[str, object]) -> str:
    """Substitute ``:name`` markers with SQL literals (oracle side only —
    the Spark side binds them as real parameters)."""
    for k, v in args.items():
        lit = f"'{v}'" if isinstance(v, str) else str(v)
        sql = sql.replace(f":{k}", lit)
    return sql


@query("param_sql_groupby_all", oracle=_inline_params(_PARAM_SQL, _PARAM_ARGS))
def param_sql_groupby_all(spark, sf_dir):
    """Named-parameter SQL (Spark 4 parameter markers) + GROUP BY ALL:
    the templated-query surface a production pipeline uses instead of
    string interpolation — parameters bind as typed literals, so the plan
    is cacheable across parameter values and injection-proof. GROUP BY ALL
    infers the grouping keys from the non-aggregate select list (identical
    semantics in DuckDB, whose oracle gets the same text with the
    parameters inlined as literals). The plan is the Q3-class join-agg:
    filter pushdown to both parquet scans, hash join, partial+final agg."""
    for t in ("orders", "lineitem"):
        table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_PARAM_SQL, args=_PARAM_ARGS)


_LATERAL_SQL = """
SELECT n_name, t.c_custkey, t.c_acctbal
FROM nation, LATERAL (
    SELECT c_custkey, round(1e-9 + c_acctbal, 2) AS c_acctbal
    FROM customer
    WHERE c_nationkey = n_nationkey
    ORDER BY c_acctbal DESC, c_custkey
    LIMIT 3
) t
"""


@query("lateral_topn", oracle=_LATERAL_SQL)
def lateral_topn(spark, sf_dir):
    """Correlated LATERAL subquery with ORDER BY + LIMIT — top-3 customers
    per nation, the per-row-subquery surface (dependent join). Catalyst
    decorrelates to a ranked window under the hood; the identical query
    text is the DuckDB oracle."""
    table(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(_LATERAL_SQL)


# --- skyline (Pareto frontier) ---------------------------------------------

@query(
    "skyline_pareto",
    oracle="""
WITH pts AS (
    SELECT DISTINCT o_totalprice AS price,
           datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day_num
    FROM orders
), ranked AS (
    SELECT price, day_num,
           max(day_num) OVER (ORDER BY price DESC, day_num DESC
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_max
    FROM pts
)
SELECT price, day_num
FROM ranked
WHERE prev_max IS NULL OR day_num > prev_max
""",
)
def skyline_pareto(spark, sf_dir):
    """Skyline / Pareto frontier (maximize price AND recency): the distinct
    points no other point dominates in both dimensions. Ordering points by
    (price DESC, day DESC), a point survives iff its day exceeds every
    earlier point's — one running-max window, no O(n²) dominance self-join
    (the naive NOT EXISTS formulation is a cartesian product).

    Scale: a global running max is a single-partition sort, so the frontier
    is computed in two phases (operators/skyline.py) — phase 1 runs the
    SAME running-max filter per price-range bucket (a parallel window keyed
    on the bucket id; within one bucket every earlier row also precedes
    globally, so local survivors are a superset of the frontier — the
    standard distributed-skyline pruning); phase 2 re-applies the filter
    globally over the few bucket-survivors, the same small-tail merge as
    TakeOrderedAndProject. Property-tested against a brute-force dominance
    oracle in tests/test_round3_ops.py."""
    from mapreduce_model_spark.operators.skyline import pareto_frontier

    o = table(spark, sf_dir, "orders")
    pts = o.select(
        F.col("o_totalprice").alias("price"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date"))
        .alias("day_num"),
    )
    return pareto_frontier(pts, x="price", y="day_num")


@query(
    "quantile_mergeable_histogram",
    oracle="""
WITH lvl1 AS (
    SELECT l_returnflag, CAST(floor(l_extendedprice / 5000) AS BIGINT) AS bin,
           count(*) AS n
    FROM lineitem GROUP BY 1, 2
), merged AS (
    SELECT bin, CAST(sum(n) AS BIGINT) AS n FROM lvl1 GROUP BY bin
), cum AS (
    SELECT bin, n, CAST(sum(n) OVER (ORDER BY bin) AS BIGINT) AS cum FROM merged
), tot AS (
    SELECT CAST(sum(n) AS DOUBLE) AS n_total FROM merged
), ps AS (
    SELECT unnest([0.25, 0.5, 0.75, 0.95, 0.99]::DOUBLE[]) AS p
)
SELECT p, round(1e-9 + bin * 5000 + (p * n_total - (cum - n)) / n * 5000, 4) AS est
FROM ps, tot, cum
WHERE cum >= p * n_total AND cum - n < p * n_total
""",
)
def quantile_mergeable_histogram(spark, sf_dir):
    """Approximate quantiles from MERGEABLE fixed-width histograms — the
    oracle-checkable counterpart of sketch_mergeable_distinct's HLL
    pattern. Level 1 pre-aggregates (group, bin) counts (here per
    l_returnflag — per-day/per-partition in production); level 2 merges
    bins by SUM alone — the algebraic property that lets 100 TB of daily
    histograms be re-combined per week/source/anything without rescanning
    data; quantiles then interpolate linearly inside the covering bin.
    Max error = one bin width (asserted vs the exact percentile in
    test_sketch_accuracy.py). Every frame after level 1 is bins-sized —
    the windows and joins below run on a few dozen rows, never the fact
    table."""
    li = table(spark, sf_dir, "lineitem")
    lvl1 = (
        li.withColumn("bin", F.floor(F.col("l_extendedprice") / 5000).cast("long"))
        .groupBy("l_returnflag", "bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    merged = lvl1.groupBy("bin").agg(F.sum("n").alias("n"))
    cum = merged.withColumn(
        "cum",
        F.sum("n").over(
            Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    total = merged.agg(F.sum("n").cast("double").alias("n_total"))
    ps = spark.createDataFrame(
        [(0.25,), (0.5,), (0.75,), (0.95,), (0.99,)], "p double"
    )
    target = F.col("p") * F.col("n_total")
    return (
        ps.crossJoin(F.broadcast(total))
        .join(
            F.broadcast(cum),
            (F.col("cum") >= target) & (F.col("cum") - F.col("n") < target),
        )
        .select(
            "p",
            rnd(
                F.col("bin") * 5000
                + (target - (F.col("cum") - F.col("n"))) / F.col("n") * 5000,
                4,
            ).alias("est"),
        )
    )


@query(
    "robust_outliers",
    oracle="""
WITH med AS (
    SELECT l_returnflag, median(l_extendedprice) AS med
    FROM lineitem GROUP BY l_returnflag
), madt AS (
    SELECT l.l_returnflag, median(abs(l.l_extendedprice - m.med)) AS mad
    FROM lineitem l JOIN med m USING (l_returnflag)
    GROUP BY l.l_returnflag
)
SELECT l.l_returnflag,
       round(1e-9 + m.med, 4) AS med,
       round(1e-9 + d.mad, 4) AS mad,
       CAST(sum(CASE WHEN abs(l.l_extendedprice - m.med) > 3 * 1.4826 * d.mad
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       count(*) AS n
FROM lineitem l JOIN med m USING (l_returnflag) JOIN madt d USING (l_returnflag)
GROUP BY l.l_returnflag, m.med, d.mad
""",
)
def robust_outliers(spark, sf_dir):
    """Robust per-group outlier detection: median + MAD (median absolute
    deviation), flagging rows beyond 3 scaled-MADs — the quantile-based
    screen that survives the heavy tails that wreck mean/stddev z-scores
    (group_zscore's classical counterpart).

    Two lineitem scans, not three: the median pass scans once; the
    deviation frame (fact ⋈ broadcast medians, plus the |x−med| column)
    is persisted while the MAD aggregate materializes it, and the final
    flag count re-reads that cache instead of re-scanning the fact — a
    deliberate cache-vs-rescan trade on a 2-column projection (the MAD
    needs the deviations anyway, so caching them is the marginal cost of
    one write). Exact percentiles sort within groups — at 100 TB swap
    ``percentile`` for ``approx_percentile`` (same plan shape,
    sketch-mergeable) as approx_distinct documents; the plan pin in
    tests/test_plan_shape.py asserts exactly two lineitem scans and
    broadcast stats joins."""
    li = table(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    med = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, 0.5D)").alias("med")
    )
    dev = (
        li.join(F.broadcast(med), "l_returnflag")
        .withColumn("adev", F.abs(F.col("l_extendedprice") - F.col("med")))
        .persist()
    )
    madt = dev.groupBy("l_returnflag").agg(
        F.expr("percentile(adev, 0.5D)").alias("mad")
    )
    full = dev.join(F.broadcast(madt), "l_returnflag")
    return full.groupBy("l_returnflag").agg(
        rnd(F.first("med"), 4).alias("med"),
        rnd(F.first("mad"), 4).alias("mad"),
        F.sum((F.col("adev") > 3 * 1.4826 * F.col("mad")).cast("int"))
        .cast("long")
        .alias("n_outliers"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "join_asof_forward",
    oracle="""
SELECT e1.event_id AS event_id, e1.user_id AS user_id,
       epoch_us(e1.ts) AS ts_us,
       (SELECT min(epoch_us(e2.ts)) FROM events e2
         WHERE e2.user_id = e1.user_id
           AND e2.event_type = 'purchase'
           AND epoch_us(e2.ts) >= epoch_us(e1.ts)) AS asof_ts_us
FROM events e1
WHERE e1.event_type = 'click'
""",
)
def join_asof_forward(spark, sf_dir):
    """As-of join, FORWARD direction: each click matched to the user's
    EARLIEST purchase at-or-after it — time-to-conversion, next-event
    attribution. Same union-tag + per-key range window as the backward
    twin (operators.joins.asof_join flips the ordering sign); one shuffle
    on the key, no correlated subquery."""
    ev = table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts")
    out = asof_join(clicks, purchases, key="user_id", direction="forward")
    return out.select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us"), "asof_ts_us"
    )


@query(
    "max_concurrent_intervals",
    oracle="""
WITH pts AS (
    SELECT event_type, ts AS t, 1 AS d FROM events
    UNION ALL
    SELECT event_type, ts + INTERVAL 300 SECOND AS t, -1 AS d FROM events
), run AS (
    SELECT event_type,
           sum(d) OVER (PARTITION BY event_type ORDER BY t, d) AS c
    FROM pts
)
SELECT event_type, CAST(max(c) AS BIGINT) AS max_concurrent
FROM run GROUP BY event_type
""",
)
def max_concurrent_intervals(spark, sf_dir):
    """Sweep-line maximum concurrency: treating each event as a 5-minute
    interval [ts, ts+300s), the peak number of simultaneously-open
    intervals per event_type — the capacity-planning / peak-load question
    that naive interval self-joins answer in O(n²). Sweep line does it with
    zero joins: explode each interval into a +1 (open) and -1 (close)
    point, cumulative-sum in time order, take the max.

    Ordering contract: (t, d) with d=-1 sorting first makes the interval
    half-open — a close at time t releases before an open at t is counted.
    Ties beyond (t, d) need no break: the cumulative window's default RANGE
    frame gives all peer rows the post-peer-group sum, so max is
    deterministic in both engines.

    Scale: one exchange, keyed on event_type (the sweep key), carrying
    2 rows × (timestamp, ±1) per event — no raw payload. Per-key
    in-partition sort is the same discipline as any window agg; a skewed
    single key is bounded by the time-bucketed variant (partition the
    sweep by (event_type, day) and carry the opening balance forward, the
    standard parallel-prefix split)."""
    ev = table(spark, sf_dir, "events")
    opens = ev.select("event_type", F.col("ts").alias("t"), F.lit(1).alias("d"))
    closes = ev.select(
        "event_type",
        (F.col("ts") + F.expr("INTERVAL 300 SECOND")).alias("t"),
        F.lit(-1).alias("d"),
    )
    pts = opens.unionAll(closes)
    w = Window.partitionBy("event_type").orderBy("t", "d")
    run = pts.withColumn("c", F.sum("d").over(w))
    return run.groupBy("event_type").agg(
        F.max("c").cast("long").alias("max_concurrent")
    )


@query(
    "anomaly_seasonal",
    oracle="""
WITH stats AS (
    SELECT event_type, extract(hour FROM ts) AS hr,
           avg(value) AS mu, stddev_pop(value) AS sd
    FROM events GROUP BY 1, 2
), z AS (
    SELECT e.event_type,
           CASE WHEN s.sd > 0
                THEN round(abs(e.value - s.mu) / s.sd + 1e-9, 4) ELSE 0 END AS z
    FROM events e
    JOIN stats s ON e.event_type = s.event_type
                AND extract(hour FROM e.ts) = s.hr
)
SELECT event_type,
       CAST(count(*) AS BIGINT)                      AS n_events,
       CAST(sum(CASE WHEN z > 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
       max(z)                                        AS max_z
FROM z GROUP BY event_type
""",
)
def anomaly_seasonal(spark, sf_dir):
    """Seasonal-baseline anomaly screen: per (event_type, hour-of-day)
    mean/σ of the metric, then flag events beyond 3σ of their OWN seasonal
    cell — the data-quality monitor that catches a feed going bad at 3am
    without paging on the nightly batch spike (a global threshold can't
    separate the two). Output is the per-type incident summary.

    Scale: the baseline table is |event_types| × 24 rows — aggregated with
    one map-side-combining groupBy, then BROADCAST back onto the fact
    scan, so scoring is narrow. Two fact scans total (baseline + score);
    the single-scan window formulation would instead shuffle the entire
    fact table into (type, hour) partitions — strictly worse at 100 TB."""
    ev = table(spark, sf_dir, "events").select(
        "event_type", F.hour("ts").alias("hr"), "value"
    )
    stats = ev.groupBy("event_type", "hr").agg(
        F.avg("value").alias("mu"), F.stddev_pop("value").alias("sd")
    )
    z = (
        ev.join(F.broadcast(stats), ["event_type", "hr"])
        .withColumn(
            "z",
            # z is ROUNDED before thresholding/max: engines differ in the
            # low-order bits of avg/stddev, and a raw comparison at the 3.0
            # boundary would flip the hash-checked count between engines
            F.when(
                F.col("sd") > 0,
                rnd(F.abs(F.col("value") - F.col("mu")) / F.col("sd"), 4),
            ).otherwise(F.lit(0.0)),
        )
    )
    return z.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(F.col("z") > 3, 1).otherwise(0)).alias("n_anomalies"),
        F.max("z").alias("max_z"),
    )


@query(
    "basket_lift",
    oracle="""
WITH items AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), totals AS (
    SELECT count(DISTINCT l_orderkey) AS n_orders FROM items
), item_n AS (
    SELECT l_partkey, count(*) AS n_item FROM items GROUP BY 1
), pairs AS (
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           count(*) AS n_both
    FROM items a JOIN items b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
)
SELECT part_a, part_b,
       CAST(n_both AS BIGINT) AS n_both,
       round(n_both * n_orders / (na.n_item * 1.0 * nb.n_item) + 1e-9, 4) AS lift
FROM pairs
JOIN item_n na ON na.l_partkey = part_a
JOIN item_n nb ON nb.l_partkey = part_b
CROSS JOIN totals
WHERE n_both >= 3
ORDER BY lift DESC, part_a, part_b
LIMIT 20
""",
)
def basket_lift(spark, sf_dir):
    """Market-basket affinity: top-20 part pairs by LIFT (observed
    co-purchase rate over the rate independence predicts), min support 3
    orders — the classic MapReduce co-occurrence workload, reference A20's
    canonical use case, as one declarative plan.

    Scale: the pair join is keyed on l_orderkey and therefore bounded by
    max basket size squared per order (12² here), never corpus-quadratic;
    per-item counts join back by part key (the item dictionary is huge at
    100 TB — a key join, not a broadcast); the 1-row order total IS
    broadcast. Top-20 is TakeOrderedAndProject: per-partition heaps, no
    global sort."""
    items = (
        table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    )
    totals = items.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    item_n = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_item"))
    a = items.select(F.col("l_orderkey"), F.col("l_partkey").alias("part_a"))
    b = items.select(F.col("l_orderkey"), F.col("l_partkey").alias("part_b"))
    pairs = (
        a.join(b, "l_orderkey")
        .where(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
        .where(F.col("n_both") >= 3)
    )
    na = item_n.select(
        F.col("l_partkey").alias("part_a"), F.col("n_item").alias("n_a")
    )
    nb = item_n.select(
        F.col("l_partkey").alias("part_b"), F.col("n_item").alias("n_b")
    )
    lift = F.col("n_both") * F.col("n_orders") / (F.col("n_a") * F.lit(1.0) * F.col("n_b"))
    return (
        pairs.join(na, "part_a")
        .join(nb, "part_b")
        .crossJoin(F.broadcast(totals))
        .select(
            "part_a",
            "part_b",
            F.col("n_both").cast("long"),
            rnd(lift, 4).alias("lift"),
        )
        .orderBy(F.desc("lift"), "part_a", "part_b")
        .limit(20)
    )


@query(
    "mutual_information",
    oracle="""
WITH joint AS (
    SELECT l_returnflag AS a, l_linestatus AS b, count(*) AS n
    FROM lineitem GROUP BY 1, 2
), tot AS (SELECT sum(n) AS total FROM joint),
ma AS (SELECT a, sum(n) AS na FROM joint GROUP BY a),
mb AS (SELECT b, sum(n) AS nb FROM joint GROUP BY b)
SELECT CAST(total AS BIGINT) AS n,
       CAST(count(*) AS BIGINT) AS n_cells,
       round(sum((n / total) * ln((n * total) / (na * 1.0 * nb))) + 1e-9, 6) AS mi_nats
FROM joint JOIN ma USING (a) JOIN mb USING (b) CROSS JOIN tot
GROUP BY total
""",
)
def mutual_information(spark, sf_dir):
    """Mutual information between two categorical columns — the
    feature-selection / redundancy screen (is l_linestatus just a proxy
    for l_returnflag?). Everything reduces to the JOINT contingency table:
    one map-side-combining groupBy over the fact is the only data-sized
    work; marginals and the MI sum are computed ON the |A|x|B| cell table
    (6 rows here), so the fact table is scanned exactly once however large
    it is — the sufficient-statistics discipline of ab_test_welch applied
    to information theory."""
    joint = (
        table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_returnflag").alias("a"), F.col("l_linestatus").alias("b"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # "total", not "N": Spark's default case-insensitive resolution would
    # collide N with the per-cell n
    tot = joint.agg(F.sum("n").alias("total"))
    ma = joint.groupBy("a").agg(F.sum("n").alias("na"))
    mb = joint.groupBy("b").agg(F.sum("n").alias("nb"))
    cells = (
        joint.join(F.broadcast(ma), "a")
        .join(F.broadcast(mb), "b")
        .crossJoin(F.broadcast(tot))
    )
    contrib = (F.col("n") / F.col("total")) * F.log(
        (F.col("n") * F.col("total")) / (F.col("na") * F.lit(1.0) * F.col("nb"))
    )
    return cells.groupBy("total").agg(
        F.count(F.lit(1)).alias("n_cells"),
        rnd(F.sum(contrib), 6).alias("mi_nats"),
    ).select(F.col("total").cast("long").alias("n"), "n_cells", "mi_nats")


@query(
    "target_encode_smoothed",
    oracle="""
WITH g AS (SELECT avg(o_totalprice) AS mu FROM orders),
c AS (
    SELECT o_orderpriority AS category,
           count(*) AS n, sum(o_totalprice) AS s, avg(o_totalprice) AS raw_mean
    FROM orders GROUP BY 1
)
SELECT category,
       CAST(n AS BIGINT)       AS n,
       round(raw_mean + 1e-9, 4)      AS raw_mean,
       round((s + 10 * mu) / (n + 10) + 1e-9, 4) AS encoded
FROM c CROSS JOIN g
""",
)
def target_encode_smoothed(spark, sf_dir):
    """Smoothed target encoding — the category→number feature transform
    (mean target per category, shrunk toward the global mean with
    pseudo-count m=10 so rare categories don't memorize their few labels).
    The OUTPUT is the encoding table a training pipeline broadcasts back
    onto the fact; emitting the table itself keeps the query the reusable
    artifact.

    Scale: one map-side-combining aggregate builds per-category (n, sum);
    the global mean is a 1-row broadcast. The fact is scanned once; no
    shuffle carries a row, only partial states."""
    orders = table(spark, sf_dir, "orders")
    g = orders.agg(F.avg("o_totalprice").alias("mu"))
    c = orders.groupBy(F.col("o_orderpriority").alias("category")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("o_totalprice").alias("s"),
        F.avg("o_totalprice").alias("raw_mean"),
    )
    m = 10
    return c.crossJoin(F.broadcast(g)).select(
        "category",
        F.col("n").cast("long").alias("n"),
        rnd(F.col("raw_mean"), 4).alias("raw_mean"),
        rnd((F.col("s") + m * F.col("mu")) / (F.col("n") + m), 4).alias("encoded"),
    )


@query(
    "corr_matrix",
    oracle="""
WITH s AS (
    SELECT corr(l_quantity, l_extendedprice) AS qty_price,
           corr(l_quantity, l_discount)      AS qty_disc,
           corr(l_quantity, l_tax)           AS qty_tax,
           corr(l_extendedprice, l_discount) AS price_disc,
           corr(l_extendedprice, l_tax)      AS price_tax,
           corr(l_discount, l_tax)           AS disc_tax
    FROM lineitem
)
SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b, round(qty_price + 1e-9, 4) AS corr FROM s
UNION ALL SELECT 'l_quantity', 'l_discount', round(qty_disc + 1e-9, 4) FROM s
UNION ALL SELECT 'l_quantity', 'l_tax', round(qty_tax + 1e-9, 4) FROM s
UNION ALL SELECT 'l_extendedprice', 'l_discount', round(price_disc + 1e-9, 4) FROM s
UNION ALL SELECT 'l_extendedprice', 'l_tax', round(price_tax + 1e-9, 4) FROM s
UNION ALL SELECT 'l_discount', 'l_tax', round(disc_tax + 1e-9, 4) FROM s
""",
)
def corr_matrix(spark, sf_dir):
    """Pairwise Pearson correlation matrix over the numeric measure
    columns — the feature-redundancy triage that decides which columns an
    embedding/model pipeline keeps. All k(k-1)/2 correlations are
    ALGEBRAIC aggregates computed in ONE fact scan (a single HashAggregate
    carrying 6 corr states), then the 1-row result unpivots to the long
    (col_a, col_b, corr) form. Never a self-join, never k scans."""
    li = table(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    pairs = [
        (a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]
    ]
    s = li.agg(
        *[rnd(F.corr(a, b), 4).alias(f"c{i}") for i, (a, b) in enumerate(pairs)]
    )
    stack_args = ", ".join(
        f"'{a}', '{b}', c{i}" for i, (a, b) in enumerate(pairs)
    )
    return s.selectExpr(
        f"stack({len(pairs)}, {stack_args}) AS (col_a, col_b, corr)"
    )


@query(
    "sql_udf_surface",
    oracle="""
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(l_extendedprice * (1 - l_discount)) + 1e-9, 2) AS revenue,
       round(avg(greatest(0.0, least(1.0, l_discount * 10))) + 1e-9, 4)
           AS avg_clamped
FROM lineitem
GROUP BY l_returnflag
""",
)
def sql_udf_surface(spark, sf_dir):
    """SQL-defined scalar functions (Spark 4 `CREATE TEMPORARY FUNCTION
    ... RETURN <expr>`): reusable business logic declared IN SQL and
    inlined by Catalyst at plan time — zero runtime dispatch, full
    codegen, unlike a Python UDF. The oracle states the same expressions
    inline, proving the function bodies fold away semantically.

    Scale: inlining means these cost exactly what the raw expressions
    cost — the whole query stays one map-side-combining aggregate."""
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION disc_price(p DOUBLE, d DOUBLE) "
        "RETURNS DOUBLE RETURN p * (1 - d)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION clamp01(x DOUBLE) "
        "RETURNS DOUBLE RETURN greatest(0.0d, least(1.0d, x))"
    )
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_udf")
    return spark.sql(
        """
        SELECT l_returnflag,
               count(*) AS n,
               round(sum(disc_price(l_extendedprice, l_discount)) + 1e-9, 2) AS revenue,
               round(avg(clamp01(l_discount * 10)) + 1e-9, 4) AS avg_clamped
        FROM lineitem_udf
        GROUP BY l_returnflag
        """
    )

"""Driver-facing query registry: PySpark implementation + DuckDB oracle twin.

Each entry exercises one (or a tight cluster of) operator(s) from
SURVEY.md §2 on the driver testdata tables. Registered via the
``@query`` decorator; ``__spark_entry__.py`` re-exports ``QUERIES`` /
``ORACLES`` verbatim.

Cross-engine determinism rules (hash-compare survival):

- every aggregate / computed column is aliased identically on both sides;
- double-typed aggregates are ``round()``-ed (2dp money, 6dp ratios) so
  summation-order ulp noise cannot flip the hash;
- every top-k has a total-order tiebreaker;
- set-valued results are serialized as sorted, comma-joined strings;
- DuckDB ``regexp_replace`` needs the ``'g'`` flag to match Spark's
  replace-all semantics; DuckDB ``dayofweek`` is 0=Sunday while Spark is
  1=Sunday — oracles are written against these dialect differences.
"""

from __future__ import annotations

import os
import re
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from glamira_end_to_end_data_pipeline_spark.functions import (
    bq_week,
    date_key,
    ip_to_int,
    is_weekend,
    surrogate_key,
    ws_normalize,
)
from glamira_end_to_end_data_pipeline_spark.operators.geo import range_join_bucketed
from glamira_end_to_end_data_pipeline_spark.operators.skew import salted_join
from glamira_end_to_end_data_pipeline_spark.caching import (
    release_tracked,
    tracked_persist,
)
from glamira_end_to_end_data_pipeline_spark.session import ensure_runtime_confs
from glamira_end_to_end_data_pipeline_spark.sources import read_table
from glamira_end_to_end_data_pipeline_spark.sources.bucketing import (
    bucketed_table,
    write_bucketed,
)

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        import functools

        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            # The driver passes its own SparkSession — assert the dynamic
            # semantic confs (nanos-as-long, ANSI off, UTC) on every entry.
            ensure_runtime_confs(spark)
            # Drop cached blocks left by previously-run registry entries
            # (several pipelines persist shared intermediates for
            # diamond reuse; stale blocks from a prior query measurably
            # degrade later ones in a long single-session run). Scoped to
            # engine-tracked persists only — a host application's own
            # caches in the same session are never touched.
            release_tracked()
            return fn(spark, sf_dir)

        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLES[name] = oracle
        return wrapped

    return deco


# ===========================================================================
# Flagship + staging-style projection (SURVEY §2.2 P1/P2, §2.8 F1-F3)
# ===========================================================================


@query(
    "flagship_daily_events",
    """
    SELECT cast(ts AS date) AS event_date,
           event_type,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users,
           round(sum(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def flagship_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: daily event rollup (scan→project→agg; A3/A4-style).

    Scale: single hash-agg shuffle on (date, type) — low cardinality, so
    partial aggregation collapses almost everything map-side.
    """
    events = read_table(spark, sf_dir, "events")
    return events.groupBy(
        F.col("ts").cast("date").alias("event_date"),
        F.col("event_type"),
    ).agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


@query(
    "p1_typed_projection",
    """
    SELECT cast(event_id AS varchar) AS event_source_id,
           ts AS event_timestamp,
           cast(ts AS date) AS event_date,
           cast(floor(epoch(ts)) AS bigint) AS epoch_seconds,
           try_cast(user_id AS varchar) AS customer_source_id,
           json_extract_string(props, '$.k') AS prop_k,
           try_cast(json_extract_string(props, '$.k') AS double) AS prop_k_num,
           round(value, 2) AS value
    FROM events
    WHERE value IS NOT NULL AND event_type IS NOT NULL AND event_type <> ''
    """,
)
def p1_typed_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/P2 + F1/F2/F3 — typed projection with safe casts and a not-null/
    not-empty predicate, mirroring ``stg_summary.sql:4-31`` and the
    ``$match`` at ``ip_processor.py:78``. Filters + pruned columns reach
    the parquet scan (PushedFilters)."""
    events = read_table(spark, sf_dir, "events")
    return events.filter(
        F.col("value").isNotNull()
        & F.col("event_type").isNotNull()
        & (F.col("event_type") != "")
    ).select(
        F.col("event_id").cast("string").alias("event_source_id"),
        F.col("ts").alias("event_timestamp"),
        F.col("ts").cast("date").alias("event_date"),
        F.unix_timestamp("ts").alias("epoch_seconds"),
        F.col("user_id").cast("string").alias("customer_source_id"),
        F.get_json_object("props", "$.k").alias("prop_k"),
        F.get_json_object("props", "$.k").try_cast("double").alias("prop_k_num"),
        F.round(F.col("value"), 2).alias("value"),
    )


@query(
    "p6_p7_membership_coalesce",
    """
    SELECT event_id,
           event_type,
           coalesce(try_cast(json_extract_string(props, '$.k') AS bigint), user_id)
               AS effective_id,
           CASE WHEN event_type = 'purchase'
                THEN 'checkout' ELSE 'browse' END AS funnel_stage
    FROM events
    WHERE event_type IN ('click', 'view', 'purchase')
    """,
)
def p6_p7_membership_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 (IN-list membership, ref ``product_crawler.py:142-147``) +
    P7 (conditional coalesce, ref ``product_crawler.py:150-177``)."""
    events = read_table(spark, sf_dir, "events")
    return events.filter(F.col("event_type").isin("click", "view", "purchase")).select(
        "event_id",
        "event_type",
        F.coalesce(
            F.get_json_object("props", "$.k").try_cast("bigint"),
            F.col("user_id"),
        ).alias("effective_id"),
        F.when(F.col("event_type") == "purchase", F.lit("checkout"))
        .otherwise(F.lit("browse"))
        .alias("funnel_stage"),
    )


# ===========================================================================
# Classic analytics (agg / join / top-k: SURVEY §2.3 J1, §2.4 A3, §2.6 T1)
# ===========================================================================


@query(
    "q1_pricing_summary",
    """
    SELECT l_returnflag,
           l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)
               AS sum_charge,
           round(avg(l_quantity), 6) AS avg_qty,
           round(avg(l_extendedprice), 6) AS avg_price,
           round(avg(l_discount), 6) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE cast(l_shipdate AS date) <= DATE '2000-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary — the headline wide aggregation.

    Scale: the ship-date cut compares the raw timestamp against the
    exclusive day boundary (``< 2000-09-03``, identical to
    ``cast(date) <= 2000-09-02``) so the predicate reaches the parquet
    scan as a PushedFilter and prunes row groups — a cast-wrapped column
    is not pushable; partial agg map-side; group key cardinality ~6 so
    the shuffle is negligible at any SF."""
    li = read_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") < F.lit("2000-09-03 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "q3_shipping_priority",
    """
    SELECT o.o_orderkey,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           cast(o.o_orderdate AS date) AS order_date,
           o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY o.o_orderkey, order_date, o.o_orderpriority
    ORDER BY revenue DESC, o.o_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 + A3 + T1 — 3-way join, agg, deterministic top-k.

    Scale: customer filter first (selectivity ~1/5), broadcast the
    filtered customer side into orders, shuffle join lineitem on
    l_orderkey; top-k plans as TakeOrderedAndProject (no global sort)."""
    cust = read_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.join(
            orders.join(cust, orders.o_custkey == cust.c_custkey),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy(
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("order_date"),
            "o_orderpriority",
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select("o_orderkey", "revenue", "order_date", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


@query(
    "a1_a3_topk_event_types",
    """
    SELECT event_type,
           count(DISTINCT user_id) AS n_users,
           count(*) AS n_events
    FROM events
    GROUP BY event_type
    ORDER BY n_events DESC, event_type
    LIMIT 5
    """,
)
def a1_a3_topk_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A3/T1 — distinct-count + count + top-5, the
    ``ip_processor.py:282-287`` country rollup re-shaped."""
    events = read_table(spark, sf_dir, "events")
    return (
        events.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count("*").alias("n_events"),
        )
        .orderBy(F.desc("n_events"), F.asc("event_type"))
        .limit(5)
    )


@query(
    "a2_multicol_distinct",
    """
    SELECT DISTINCT o_custkey, o_orderstatus, o_orderpriority
    FROM orders
    WHERE o_custkey IS NOT NULL
    """,
)
def a2_multicol_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/P4 — multi-column DISTINCT under a not-null grain filter
    (``dim_customer.sql:2-8``, ``dim_session_context.sql:5-16``)."""
    orders = read_table(spark, sf_dir, "orders")
    return (
        orders.filter(F.col("o_custkey").isNotNull())
        .select("o_custkey", "o_orderstatus", "o_orderpriority")
        .distinct()
    )


@query(
    "a5_minmax_date_range",
    """
    SELECT cast(min(o_orderdate) AS date) - 30 AS start_date,
           cast(max(o_orderdate) AS date) + 30 AS end_date,
           count(*) AS n_rows
    FROM orders
    """,
)
def a5_minmax_date_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5/A4/F10 — min/max ±30-day padding (``stg_summary_date_range.sql``
    + ``dim_date.sql:5-8``). At scale this reads parquet footer stats,
    not data pages."""
    orders = read_table(spark, sf_dir, "orders")
    return orders.agg(
        F.date_sub(F.min(F.col("o_orderdate").cast("date")), 30).alias("start_date"),
        F.date_add(F.max(F.col("o_orderdate").cast("date")), 30).alias("end_date"),
        F.count("*").alias("n_rows"),
    )


@query(
    "a6_a7_worklist_pick",
    """
    WITH urls AS (
        SELECT user_id,
               'https://shop.example/' || event_type ||
                   CASE WHEN event_id % 3 = 0
                        THEN '/catalog/product/view/id/' || (event_id % 97)
                        ELSE '/p/' || (event_id % 97) END AS url
        FROM events
    )
    SELECT user_id,
           array_to_string(list_sort(list(DISTINCT url)), ',') AS all_urls,
           coalesce(
               list_sort(list_filter(list(DISTINCT url),
                         u -> NOT contains(u, '/catalog/product/view/id/')))[1],
               list_sort(list(DISTINCT url))[1]
           ) AS chosen_url
    FROM urls
    GROUP BY user_id
    """,
)
def a6_a7_worklist_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6/A7 — per-key URL set-collect + SEO-preferential representative
    pick (``product_crawler.py:153-191``), made deterministic via sorted
    sets (SURVEY §7 watch list)."""
    events = read_table(spark, sf_dir, "events")
    url = F.concat(
        F.lit("https://shop.example/"),
        F.col("event_type"),
        F.when(
            F.col("event_id") % 3 == 0,
            F.concat(
                F.lit("/catalog/product/view/id/"),
                (F.col("event_id") % 97).cast("string"),
            ),
        ).otherwise(F.concat(F.lit("/p/"), (F.col("event_id") % 97).cast("string"))),
    )
    with_urls = events.select("user_id", url.alias("url"))
    urls_sorted = F.array_sort(F.collect_set("url"))
    return with_urls.groupBy("user_id").agg(
        F.array_join(urls_sorted, ",").alias("all_urls"),
        F.coalesce(
            F.element_at(
                F.filter(
                    urls_sorted,
                    lambda u: ~u.contains("/catalog/product/view/id/"),
                ),
                1,
            ),
            F.element_at(urls_sorted, 1),
        ).alias("chosen_url"),
    )


# ===========================================================================
# Joins (SURVEY §2.3)
# ===========================================================================


@query(
    "j1_j5_star_join_defaults",
    """
    WITH dim_cust AS (
        SELECT c_custkey,
               md5(concat_ws('-',
                   coalesce(cast(c_custkey AS varchar), '_dbt_utils_surrogate_key_null_'),
                   coalesce(cast(c_name AS varchar), '_dbt_utils_surrogate_key_null_')
               )) AS customer_key,
               c_name, c_mktsegment
        FROM customer
        WHERE c_custkey % 3 <> 0
    )
    SELECT o.o_orderkey,
           coalesce(d.customer_key, '-1') AS customer_key,
           coalesce(d.c_mktsegment, 'UNKNOWN') AS mktsegment,
           round(o.o_totalprice, 2) AS total_price
    FROM orders o
    LEFT JOIN dim_cust d ON o.o_custkey = d.c_custkey
    """,
)
def j1_j5_star_join_defaults(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 + J5 + F4 — left equi-join to a dim with md5 surrogate keys and
    '-1' defaults for unmatched FKs (``fact_sales_order.sql:34-58``). The
    dim is deliberately filtered (c_custkey % 3 = 0 removed) so the
    unmatched path is exercised. The dim is customer-derived and thus
    SF-PROPORTIONAL — it carries NO broadcast hint: statistics/AQE pick
    broadcast at small SF and degrade to shuffle join at the 100 TB
    target instead of OOMing the driver (the static audit in
    tests/test_broadcast_audit.py fences this per enclosing function)."""
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer").filter(F.col("c_custkey") % 3 != 0)
    dim = cust.select(
        "c_custkey",
        surrogate_key("c_custkey", "c_name").alias("customer_key"),
        "c_name",
        "c_mktsegment",
    )
    return orders.join(
        dim, orders.o_custkey == dim.c_custkey, "left"
    ).select(
        "o_orderkey",
        F.coalesce(F.col("customer_key"), F.lit("-1")).alias("customer_key"),
        F.coalesce(F.col("c_mktsegment"), F.lit("UNKNOWN")).alias("mktsegment"),
        F.round("o_totalprice", 2).alias("total_price"),
    )


@query(
    "j3_computed_date_key_join",
    """
    WITH dim_date AS (
        SELECT DISTINCT cast(o_orderdate AS date) AS full_date,
               cast(strftime(cast(o_orderdate AS date), '%Y%m%d') AS bigint) AS date_key
        FROM orders
    )
    SELECT l.l_orderkey, l.l_linenumber,
           coalesce(d.date_key, -1) AS ship_date_key
    FROM lineitem l
    LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    LEFT JOIN dim_date d ON cast(l.l_shipdate AS date) = d.full_date
    """,
)
def j3_computed_date_key_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 — left join on a *computed* date key (``fact_sales_order.sql:64-66``),
    with the -1 long default for misses (ship dates outside order-date
    domain). dim_date is tiny → broadcast."""
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    dim_date = (
        orders.select(F.col("o_orderdate").cast("date").alias("full_date"))
        .distinct()
        .select("full_date", date_key("full_date").alias("date_key"))
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey, "left")
        .join(
            F.broadcast(dim_date),
            F.col("l_shipdate").cast("date") == dim_date.full_date,
            "left",
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            F.coalesce(F.col("date_key"), F.lit(-1).cast("long")).alias(
                "ship_date_key"
            ),
        )
    )


@query(
    "j4_composite_key_null_miss",
    """
    WITH fact AS (
        SELECT l_orderkey, l_linenumber,
               nullif(l_returnflag, 'N') AS rf,
               l_linestatus AS ls
        FROM lineitem
    ),
    dim AS (
        SELECT DISTINCT l_returnflag AS rf, l_linestatus AS ls,
               md5(concat_ws('-',
                   coalesce(cast(l_returnflag AS varchar), '_dbt_utils_surrogate_key_null_'),
                   coalesce(cast(l_linestatus AS varchar), '_dbt_utils_surrogate_key_null_')
               )) AS status_key
        FROM lineitem
    )
    SELECT f.l_orderkey, f.l_linenumber,
           coalesce(d.status_key, '-1') AS status_key
    FROM fact f
    LEFT JOIN dim d ON f.rf = d.rf AND f.ls = d.ls
    """,
)
def j4_composite_key_null_miss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 — composite-key left join with SQL `=` null-miss semantics
    (``fact_sales_order.sql:68-76``): NULLed keys must *not* match and
    fall back to '-1'. Null-safe `<=>` would be wrong here (SURVEY §7)."""
    li = read_table(spark, sf_dir, "lineitem")
    fact = li.select(
        "l_orderkey",
        "l_linenumber",
        F.nullif("l_returnflag", F.lit("N")).alias("rf"),
        F.col("l_linestatus").alias("ls"),
    )
    dim = (
        li.select("l_returnflag", "l_linestatus")
        .distinct()
        .select(
            F.col("l_returnflag").alias("rf"),
            F.col("l_linestatus").alias("ls"),
            surrogate_key("l_returnflag", "l_linestatus").alias("status_key"),
        )
    )
    return fact.join(
        F.broadcast(dim), (fact.rf == dim.rf) & (fact.ls == dim.ls), "left"
    ).select(
        "l_orderkey",
        "l_linenumber",
        F.coalesce(dim.status_key, F.lit("-1")).alias("status_key"),
    )


@query(
    "j7_anti_join_unprocessed",
    """
    SELECT c.c_custkey, c.c_name
    FROM customer c
    WHERE NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 150000
    )
    """,
)
def j7_anti_join_unprocessed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 — anti-join resume pattern (``ip_processor.py:329-331``):
    'keys not yet processed' as left_anti instead of a driver-side set.
    The processed side is filtered (totalprice > 150k) so both matched
    and unmatched paths are exercised."""
    cust = read_table(spark, sf_dir, "customer")
    processed = read_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 150000
    )
    return cust.join(
        processed, cust.c_custkey == processed.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@query(
    "j9_not_in_null_aware",
    """
    WITH probe AS (
        SELECT event_type,
               CASE WHEN event_id % 11 = 0 THEN NULL ELSE user_id END AS uid
        FROM events
    )
    SELECT event_type, count(*) AS n_unmatched
    FROM probe
    WHERE uid NOT IN (SELECT c_custkey FROM customer WHERE c_custkey < 50)
    GROUP BY event_type
    """,
)
def j9_not_in_null_aware(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN with nullable probe keys — null-aware anti-join
    semantics, deliberately DIFFERENT from j7's NOT EXISTS/left_anti:
    a NULL probe key is never 'not in' a non-empty list (three-valued
    logic drops it), while left_anti would keep it. Expressed through
    the SQL API (the DataFrame API has no null-aware anti); Spark plans
    a BroadcastHashJoin LeftAnti with isNullAware=true. Every 11th
    event's key is nulled so the dropped-row path is exercised."""
    read_table(spark, sf_dir, "events").createOrReplaceTempView("__naaj_events")
    read_table(spark, sf_dir, "customer").createOrReplaceTempView("__naaj_customer")
    return spark.sql(
        """
        WITH probe AS (
            SELECT event_type,
                   CASE WHEN event_id % 11 = 0 THEN NULL ELSE user_id END AS uid
            FROM __naaj_events
        )
        SELECT event_type, count(*) AS n_unmatched
        FROM probe
        WHERE uid NOT IN (SELECT c_custkey FROM __naaj_customer
                          WHERE c_custkey < 50)
        GROUP BY event_type
        """
    )


@query(
    "q4_semi_join_priority",
    """
    SELECT o.o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
      AND EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R'
      )
    GROUP BY o.o_orderpriority
    """,
)
def q4_semi_join_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape — EXISTS as a left-semi join (the one join
    variant j7's anti doesn't cover): 1996 orders with at least one
    returned line, counted by priority. Semi-join keeps only the probe
    side's columns and short-circuits on first match — at scale the
    build side ships only l_orderkey after the returnflag pushdown."""
    orders = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )
    returned = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    return (
        orders.join(
            returned, orders.o_orderkey == returned.l_orderkey, "left_semi"
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@query(
    "q6_forecast_revenue",
    """
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
           count(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 25
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 — the canonical predicate-pushdown showcase: three
    range predicates that must ALL reach the Parquet scan as
    PushedFilters (row-group pruning does the work; the agg is a
    single scalar). Plan-pinned in tests/test_plans.py."""
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 25)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "q5_local_supplier_volume",
    """
    SELECT n.n_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n.n_name
    ORDER BY revenue DESC, n.n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape — the 6-way join the optimizer has to get right.
    Plan strategy: region→nation→supplier collapse into one broadcast
    chain (tiny dims), the order-date filter is a pushed timestamp
    predicate (row-group pruning on the fact scan), and only the
    lineitem⋈orders join shuffles — on the join key both sides already
    need. The customer⋈supplier nation equality rides the same joined
    row, no extra join."""
    cust = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    li = read_table(spark, sf_dir, "lineitem")
    sup = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = read_table(spark, sf_dir, "nation")
    reg = read_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    dims = sup.join(
        F.broadcast(nat.join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)),
        sup.s_nationkey == nat.n_nationkey,
    )
    return (
        li.join(orders.join(cust, orders.o_custkey == cust.c_custkey),
                F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            dims,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


@query(
    "q18_large_volume_customers",
    """
    WITH big AS (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey HAVING sum(l_quantity) > 250
    )
    SELECT c.c_name, c.c_custkey, o.o_orderkey,
           cast(o.o_orderdate AS date) AS order_date,
           round(o.o_totalprice, 2) AS total_price,
           round(sum(l.l_quantity), 2) AS sum_qty
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (SELECT l_orderkey FROM big)
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, order_date, o.o_totalprice
    ORDER BY total_price DESC, o.o_orderkey
    LIMIT 20
    """,
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape — having-filtered semi-join into a rollup. The
    'big orders' set is a pre-aggregation of lineitem (map-side partial
    sum on the natural key), then a LEFT SEMI join prunes the fact
    before the expensive customer join — at 100 TB the semi-join output
    is a fraction of a percent of lineitem, so everything downstream is
    small."""
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("__sq"))
        .filter(F.col("__sq") > 250)
        .select("l_orderkey")
    )
    pruned = orders.join(
        big, orders.o_orderkey == big.l_orderkey, "left_semi"
    )
    return (
        li.join(pruned, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("order_date"),
            F.round("o_totalprice", 2).alias("total_price"),
        )
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .select(
            "c_name", "c_custkey", "o_orderkey", "order_date", "total_price", "sum_qty"
        )
        .orderBy(F.desc("total_price"), F.asc("o_orderkey"))
        .limit(20)
    )


@query(
    "q2_min_cost_supplier",
    """
    WITH eu AS (
        SELECT l.l_partkey, l.l_suppkey, l.l_extendedprice
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'EUROPE'
    )
    SELECT DISTINCT p.p_partkey, p.p_name, s.s_name, n.n_name,
           round(s.s_acctbal, 2) AS s_acctbal,
           round(e.l_extendedprice, 2) AS min_price
    FROM part p
    JOIN eu e ON p.p_partkey = e.l_partkey
    JOIN supplier s ON e.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE p.p_size <= 25
      AND e.l_extendedprice = (
          SELECT min(e2.l_extendedprice) FROM eu e2
          WHERE e2.l_partkey = p.p_partkey
      )
    ORDER BY s_acctbal DESC, p.p_partkey, s.s_name
    LIMIT 100
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape — correlated scalar MIN subquery, decorrelated.
    (No ``partsupp`` in the testdata, so lineitem stands in as the
    part×supplier price fact.) The correlated ``= (SELECT min(...))``
    becomes: aggregate min price per part over the regional fact (one
    shuffle on l_partkey, map-side partials), then an equi-join back on
    (partkey, price) — the standard decorrelation Catalyst itself applies
    to scalar subqueries. All dimension joins broadcast; the only
    big-side shuffles are the min-agg and the join-back, both keyed on
    l_partkey so AQE can plan them into one exchange reuse. Equality is
    on STORED doubles (no arithmetic before the compare) — exact
    cross-engine."""
    region = read_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    nation = read_table(spark, sf_dir, "nation")
    supplier = read_table(spark, sf_dir, "supplier")
    part = read_table(spark, sf_dir, "part").filter(F.col("p_size") <= 25)
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )

    eu_supp = (
        supplier.join(
            F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey
        )
        .join(F.broadcast(region), F.col("n_regionkey") == region.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    eu = li.join(
        eu_supp, li.l_suppkey == F.col("s_suppkey")
    ).select("l_partkey", "l_suppkey", "l_extendedprice")

    # min-per-part + join-back share the `eu` lineage — alias both sides
    # so the (partkey, price) equi-join resolves unambiguously.
    min_price = (
        eu.groupBy("l_partkey")
        .agg(F.min("l_extendedprice").alias("__min_price"))
        .alias("mp")
    )
    best = (
        eu.alias("eu")
        .join(
            min_price,
            (F.col("eu.l_partkey") == F.col("mp.l_partkey"))
            & (F.col("eu.l_extendedprice") == F.col("mp.__min_price")),
        )
        .select(
            F.col("eu.l_partkey").alias("l_partkey"),
            F.col("eu.l_suppkey").alias("l_suppkey"),
            F.col("eu.l_extendedprice").alias("l_extendedprice"),
        )
    )

    return (
        best.join(part, best.l_partkey == part.p_partkey)
        .join(eu_supp.alias("sup2"), best.l_suppkey == F.col("sup2.s_suppkey"))
        .select(
            "p_partkey",
            "p_name",
            "s_name",
            "n_name",
            F.round("s_acctbal", 2).alias("s_acctbal"),
            F.round("l_extendedprice", 2).alias("min_price"),
        )
        .distinct()
        .orderBy(F.desc("s_acctbal"), F.asc("p_partkey"), F.asc("s_name"))
        .limit(100)
    )


@query(
    "q21_waiting_suppliers",
    """
    SELECT s.s_name, count(*) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F'
      AND l1.l_returnflag = 'R'
      AND EXISTS (
          SELECT 1 FROM lineitem l2
          WHERE l2.l_orderkey = l1.l_orderkey
            AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
          SELECT 1 FROM lineitem l3
          WHERE l3.l_orderkey = l1.l_orderkey
            AND l3.l_suppkey <> l1.l_suppkey
            AND l3.l_returnflag = 'R'
      )
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 100
    """,
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape — the multi-semi/anti SELF-join pattern: among
    finalized ('F') orders, count per supplier the returned ('R') lines
    where the order involves ANOTHER supplier (EXISTS → left-semi) but
    no OTHER supplier's line was returned (NOT EXISTS → left-anti).
    (No receipt/commit dates in the testdata, so l_returnflag='R' is
    the fault marker.)

    Both correlated subqueries carry the non-equi ``suppkey <>``
    conjunct, so they plan as sort-merge semi/anti joins keyed on
    l_orderkey with the inequality as a post-join residual — all three
    lineitem branches shuffle on the SAME key, which at 100 TB is the
    case for bucketing lineitem by l_orderkey once and paying zero
    Exchange on every branch (see sources/bucketing.py)."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_returnflag"
    )
    orders_f = (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    supplier = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")

    l1 = li.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("sk")
    )
    l2 = li.select(
        F.col("l_orderkey").alias("ok2"), F.col("l_suppkey").alias("sk2")
    )
    l3 = li.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("ok3"), F.col("l_suppkey").alias("sk3")
    )

    waiting = (
        l1.join(orders_f, l1.ok == orders_f.o_orderkey, "left_semi")
        .join(
            l2,
            (F.col("ok") == l2.ok2) & (F.col("sk") != l2.sk2),
            "left_semi",
        )
        .join(
            l3,
            (F.col("ok") == l3.ok3) & (F.col("sk") != l3.sk3),
            "left_anti",
        )
    )
    return (
        waiting.join(supplier, waiting.sk == supplier.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(100)
    )


@query(
    "q7_volume_shipping",
    """
    SELECT supp_nation, cust_nation, l_year,
           round(sum(volume), 2) AS revenue
    FROM (
        SELECT n1.n_name AS supp_nation,
               n2.n_name AS cust_nation,
               year(l.l_shipdate) AS l_year,
               l.l_extendedprice * (1 - l.l_discount) AS volume
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
        JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
        WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
            OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape — bidirectional nation-pair revenue by ship year.
    The disjunctive two-nation predicate can't be pushed into either
    dimension alone, so the plan pre-filters BOTH nation-joined sides to
    the two-nation set (broadcast), then applies the pair condition as a
    post-join residual — lineitem shuffles once for the orders join and
    all dims broadcast."""
    two = ["NATION_1", "NATION_2"]
    nation = read_table(spark, sf_dir, "nation").filter(F.col("n_name").isin(two))
    supp = (
        read_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        read_table(spark, sf_dir, "customer")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    orders = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    return (
        li.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@query(
    "q10_returned_items",
    """
    SELECT c.c_custkey, c.c_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           round(c.c_acctbal, 2) AS c_acctbal,
           n.n_name
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-07-01'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, c_acctbal, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape — returned-item revenue ranking: returnflag and
    the order-date half-year window are pushed into the two fact scans
    BEFORE their join (both reach Parquet as PushedFilters), customer
    and nation broadcast onto the joined fact, and the top-20 is a
    TakeOrdered over the grouped result."""
    cust = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    orders = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-07-01")
    )
    li = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    return (
        li.join(
            orders.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(
            "c_custkey",
            "c_name",
            F.round("c_acctbal", 2).alias("c_acctbal"),
            "n_name",
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@query(
    "q14_promo_effect",
    """
    SELECT round(100.00 * sum(CASE WHEN p.p_type = 'PROMO'
                                   THEN l.l_extendedprice * (1 - l.l_discount)
                                   ELSE 0 END)
                 / sum(l.l_extendedprice * (1 - l.l_discount)), 4)
               AS promo_revenue_pct,
           count(*) AS n_lines
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-03-01'
      AND l.l_shipdate < TIMESTAMP '1996-04-01'
    """,
)
def q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape — promo revenue share for one ship month: the
    month window reaches the lineitem scan (row-group pruning cuts
    ~11/12 of the fact), part broadcasts, and the conditional share is
    a single scalar aggregate — no shuffle of the fact beyond the
    month's slice."""
    part = read_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-03-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", vol).otherwise(0.0))
                / F.sum(vol),
                4,
            ).alias("promo_revenue_pct"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "q20_excess_shippers",
    """
    SELECT s.s_name, round(s.s_acctbal, 2) AS s_acctbal
    FROM supplier s
    WHERE s.s_suppkey IN (
        SELECT l.l_suppkey
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_type = 'PROMO'
          AND l.l_shipdate >= TIMESTAMP '1996-01-01'
          AND l.l_shipdate < TIMESTAMP '1997-01-01'
        GROUP BY l.l_suppkey
        HAVING sum(l.l_quantity) > 400
    )
    ORDER BY s.s_name
    """,
)
def q20_excess_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape — nested grouped-HAVING IN-subquery as a
    left-semi join (no partsupp in the testdata, so shipped-quantity of
    PROMO parts stands in for excess stock): the inner aggregate prunes
    to a tiny supplier set (pre-aggregated before any supplier join),
    then a semi join keeps matching suppliers — the decorrelation
    pattern where the subquery output, not the fact, is the build
    side."""
    supplier = read_table(spark, sf_dir, "supplier")
    part = read_table(spark, sf_dir, "part").filter(
        F.col("p_type") == "PROMO"
    ).select("p_partkey")
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    heavy = (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("__sq"))
        .filter(F.col("__sq") > 400)
        .select("l_suppkey")
    )
    return (
        supplier.join(
            heavy, supplier.s_suppkey == heavy.l_suppkey, "left_semi"
        )
        .select("s_name", F.round("s_acctbal", 2).alias("s_acctbal"))
        .orderBy("s_name")
    )


@query(
    "q19_disjunctive_revenue",
    """
    SELECT round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           count(*) AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11 AND l.l_returnflag = 'N')
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20 AND l.l_returnflag = 'N')
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30 AND l.l_returnflag = 'N')
    """,
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape — discounted revenue under an OR-of-ANDs
    predicate spanning both join sides (brand/size terms on part,
    quantity/returnflag terms on lineitem). The optimizer pattern this
    exercises: Catalyst's CNF conversion extracts the single-side
    disjunctions — ``(qty∈[1,11] ∧ rf='N') ∨ (qty∈[10,20] ∧ rf='N') ∨
    ...`` pushes below the join into the lineitem scan and the
    brand/size disjunction into the part scan — so both scans prune
    BEFORE the join and the residual mixed predicate only filters
    already-matching rows (asserted by the plan test). No TPC-H
    container/shipmode columns in the testdata; brand/size/returnflag
    keep the three-branch disjunctive structure."""
    part = read_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size"
    )
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_returnflag", "l_extendedprice", "l_discount"
    )

    def branch(brand: str, size_hi: int, q_lo: int, q_hi: int):
        return (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(1, size_hi)
            & F.col("l_quantity").between(q_lo, q_hi)
            & (F.col("l_returnflag") == "N")
        )

    pred = (
        branch("Brand#1", 5, 1, 11)
        | branch("Brand#2", 10, 10, 20)
        | branch("Brand#3", 15, 20, 30)
    )
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .filter(pred)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "q22_dormant_balances",
    """
    WITH pool AS (
        SELECT c_custkey, c_nationkey, c_acctbal
        FROM customer WHERE c_nationkey BETWEEN 10 AND 16
    ),
    cutoff AS (
        SELECT avg(c_acctbal) AS avg_bal FROM pool WHERE c_acctbal > 0.0
    ),
    recent AS (
        SELECT DISTINCT o_custkey FROM orders
        WHERE o_orderdate >= TIMESTAMP '2001-01-01'
    )
    SELECT p.c_nationkey AS cntry,
           count(*) AS numcust,
           round(sum(p.c_acctbal), 2) AS totacctbal
    FROM pool p, cutoff
    WHERE p.c_acctbal > cutoff.avg_bal
      AND NOT EXISTS (SELECT 1 FROM recent r
                      WHERE r.o_custkey = p.c_custkey)
    GROUP BY p.c_nationkey
    ORDER BY p.c_nationkey
    """,
)
def q22_dormant_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape — dormant high-balance accounts: the scalar-avg
    subquery (mean positive balance over the nation pool) gates the
    pool via a one-row broadcast, and NOT EXISTS against recent orders
    decorrelates to a left-anti join. Every sf0.01 customer has SOME
    order, so the anti-join side is the *recent* (2001+) order slice
    (the date filter reaches the orders scan) rather than all orders — same
    anti + scalar-subquery optimizer pattern, non-degenerate result.
    The anti join build side is distinct custkeys of a date slice —
    orders never joins at full width."""
    pool = (
        read_table(spark, sf_dir, "customer")
        .filter(F.col("c_nationkey").between(10, 16))
        .select("c_custkey", "c_nationkey", "c_acctbal")
    )
    cutoff = pool.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    recent = (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= "2001-01-01")
        .select("o_custkey")
        .distinct()
    )
    return (
        pool.join(F.broadcast(cutoff))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, pool.c_custkey == recent.o_custkey, "left_anti")
        .groupBy(F.col("c_nationkey").alias("cntry"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("cntry")
    )


@query(
    "q8_market_share",
    """
    WITH all_sales AS (
        SELECT year(o.o_orderdate) AS o_year,
               l.l_extendedprice * (1 - l.l_discount) AS volume,
               n2.n_name AS supp_nation
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
        JOIN region r ON r.r_regionkey = n1.n_regionkey
        JOIN nation n2 ON n2.n_nationkey = s.s_nationkey
        WHERE r.r_name = 'ASIA' AND p.p_type = 'PROMO'
    )
    SELECT o_year,
           round(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume
                          ELSE 0 END) / sum(volume), 6) AS mkt_share,
           count(*) AS n_lines
    FROM all_sales
    GROUP BY o_year
    ORDER BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape — national market share: one nation's slice of a
    region's PROMO-part purchase volume per order year. Seven-table
    star: every dimension (part filtered to PROMO, supplier+nation,
    customer+nation+region filtered to ASIA) broadcasts onto the two
    fact tables, whose only shuffle is the lineitem↔orders key join;
    the share is a conditional-sum ratio in one aggregation."""
    part = read_table(spark, sf_dir, "part").filter(
        F.col("p_type") == "PROMO"
    ).select("p_partkey")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    cust_asia = (
        read_table(spark, sf_dir, "customer")
        .join(F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey)
        .join(F.broadcast(region), F.col("n_regionkey") == region.r_regionkey)
        .select("c_custkey")
    )
    supp = (
        read_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust_asia, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(0.0)
                )
                / F.sum(vol),
                6,
            ).alias("mkt_share"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("o_year")
    )


@query(
    "q13_customer_distribution",
    """
    SELECT c_count, count(*) AS custdist
    FROM (
        SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        FROM customer c
        LEFT JOIN orders o ON o.o_custkey = c.c_custkey
                          AND o.o_orderpriority <> '1-URGENT'
        GROUP BY c.c_custkey
    ) counts
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape — the two-level aggregation over an OUTER join:
    per-customer order counts (LEFT join keeps zero-order customers,
    with the filter in the JOIN CONDITION, not the WHERE — pushing it
    to WHERE would silently drop them), then the distribution of those
    counts. First agg shuffles on custkey; the second input is
    |customers| rows collapsing to a handful of count buckets —
    map-side partials make it almost free."""
    cust = read_table(spark, sf_dir, "customer").select("c_custkey")
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    counts = (
        cust.join(
            orders,
            (cust.c_custkey == orders.o_custkey)
            & (orders.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        counts.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@query(
    "q9_product_profit",
    """
    SELECT n.n_name AS nation,
           year(o.o_orderdate) AS o_year,
           cast(sum(cast(l.l_extendedprice * (1 - l.l_discount)
                         - 0.6 * p.p_retailprice * l.l_quantity
                         AS DECIMAL(18, 4))) AS double) AS sum_profit,
           count(*) AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE p.p_name LIKE '%ge%'
    GROUP BY 1, 2
    ORDER BY nation, o_year DESC
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape — product-type profit by nation and year: the
    widest join tree in the suite that has NO selective fact filter, so
    the plan quality rests entirely on build-side choice. part (name
    LIKE-filtered), supplier, orders, nation are all broadcast; lineitem
    never shuffles until the final (nation, year) hash-agg — which is
    ~|nations|x|years| groups, collapsed map-side. No partsupp table in
    the testdata, so supply cost is the 0.6*p_retailprice stand-in
    (keeps Q9's profit-expression shape: an arithmetic combination of
    columns from two different join inputs, which defeats
    pre-aggregation below the join).

    Scale: part/supplier/nation are dimension tables — broadcast by
    HINT (always correct). orders is fact-sized, so it carries NO hint:
    the optimizer broadcasts it at small scale (stats under the 64m
    threshold, which is what the plan test observes) and falls back to
    a shuffle join on the orderkey at real scale — an explicit
    F.broadcast there would be honored unconditionally and die at the
    8 GB broadcast limit long before 100 TB. The LIKE filter prunes
    part before broadcast.

    Determinism: the profit expression SUBTRACTS two same-magnitude
    products, so a double sum's order-dependent low bits can flip a 2dp
    round at a .xx5 boundary across engines (observed at sf0.01). The
    per-row double expression is engine-identical, so it is quantized
    to DECIMAL(18,4) per row and summed EXACTLY — order-independent,
    hash-stable — then surfaced as double.

    Parity: reference models compute per-product revenue rollups
    (models/sales_summary.sql shape); TPC-H Q9 is the standard
    benchmark expression of that multi-dim profit rollup."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_orderkey",
        "l_extendedprice", "l_discount", "l_quantity",
    )
    part = (
        read_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%ge%"))
        .select("p_partkey", "p_retailprice")
    )
    sup = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    orders = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    nation = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - 0.6 * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(
            F.sum(profit.cast("decimal(18,4)"))
            .cast("double")
            .alias("sum_profit"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("nation", F.desc("o_year"))
    )


@query(
    "q11_important_parts",
    """
    WITH ps AS (
        SELECT l.l_partkey AS partkey,
               sum(l.l_extendedprice) AS value
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        WHERE s.s_nationkey BETWEEN 0 AND 7
        GROUP BY l.l_partkey
    ),
    total AS (SELECT sum(value) AS tot FROM ps)
    SELECT ps.partkey, round(ps.value, 2) AS value
    FROM ps, total
    WHERE ps.value > 0.0009 * total.tot
    ORDER BY ps.value DESC, ps.partkey
    """,
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape — parts whose supplied value exceeds a fraction
    of the TOTAL supplied value: grouped agg reused twice, once re-
    aggregated to one row and broadcast back as the threshold. No
    partsupp table, so lineitem x nation-filtered suppliers stands in
    for the nation's part-supply values.

    Scale: the per-part agg is ONE shuffle and is persisted so the
    total is a re-agg of the (already small, |parts|-row) grouped
    result, not a second scan of lineitem; the threshold joins back as
    a single-row broadcast (BNLJ on one row — same allow-listed shape
    as q22's scalar cutoff). No global sort pressure: ORDER BY runs on
    the few surviving rows."""
    sup = (
        read_table(spark, sf_dir, "supplier")
        .filter(F.col("s_nationkey").between(0, 7))
        .select("s_suppkey")
    )
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )
    ps = tracked_persist(
        li.join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(F.sum("l_extendedprice").alias("value"))
    )
    total = ps.agg(F.sum("value").alias("tot"))
    return (
        ps.join(F.broadcast(total))
        .filter(F.col("value") > 0.0009 * F.col("tot"))
        .select("partkey", F.round("value", 2).alias("value"))
        .orderBy(F.desc("value"), "partkey")
    )


@query(
    "q12_priority_by_flag",
    """
    SELECT l.l_returnflag AS flag,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY 1
    ORDER BY 1
    """,
)
def q12_priority_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape — conditional CASE-sum pivot over a fact-dim
    join: counts of urgent vs non-urgent order priorities per lineitem
    class (l_returnflag stands in for the testdata's missing
    l_shipmode). Exercises the CASE-WHEN-inside-SUM aggregate pattern
    (a manual pivot — the same shape as a_pivot_daily_mix but driven
    through a join).

    Scale: the date filter reaches the lineitem scan (pushed), the
    pruned fact broadcasts nothing — orders joins shuffled-hash or
    broadcast per AQE stats — and the agg output is |returnflag| = 2
    rows with integer counts (hash-exact cross-engine)."""
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    li = (
        read_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= "1997-01-01")
            & (F.col("l_shipdate") < "1998-01-01")
        )
        .select("l_orderkey", "l_returnflag")
    )
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        orders.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(F.col("l_returnflag").alias("flag"))
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~is_high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("flag")
    )


@query(
    "q15_top_supplier",
    """
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               sum(l_extendedprice * (1 - l_discount)) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1997-04-01'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name,
           round(r.total_revenue, 2) AS total_revenue
    FROM supplier s
    JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
    ORDER BY s.s_suppkey
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape — the supplier(s) achieving the MAXIMUM quarterly
    revenue: a derived aggregate consumed twice, once reduced to a
    scalar max that gates the other use. The view-reuse query.

    Scale: revenue (one row per supplier with sales in the quarter) is
    persisted so the scalar max re-aggregates the small grouped result
    instead of re-scanning lineitem; the max joins back as a one-row
    broadcast (allow-listed single-row BNLJ, the q22 cutoff pattern) and
    supplier attaches via broadcast hash join. The max-equality
    comparison is within-engine on identically-derived doubles, so
    cross-engine summation-order noise cannot change the winner (ties
    would need two suppliers within one ulp)."""
    rev = tracked_persist(
        read_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= "1997-01-01")
            & (F.col("l_shipdate") < "1997-04-01")
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "total_revenue"
            )
        )
    )
    best = rev.agg(F.max("total_revenue").alias("__max_rev"))
    sup = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(best))
        .filter(F.col("total_revenue") == F.col("__max_rev"))
        .join(sup, F.col("supplier_no") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.round("total_revenue", 2).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


@query(
    "q16_supplier_part_counts",
    """
    WITH bridge AS (
        SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
    )
    SELECT p.p_brand, p.p_type, p.p_size,
           count(DISTINCT b.l_suppkey) AS supplier_cnt
    FROM bridge b
    JOIN part p ON p.p_partkey = b.l_partkey
    WHERE p.p_brand <> 'Brand#1'
      AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
      AND b.l_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0
      )
    GROUP BY 1, 2, 3
    ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
    """,
)
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape — how many DISTINCT suppliers can furnish each
    (brand, type, size) bucket, excluding a complained-about supplier
    set via NOT IN: distinct-projection of the fact as a part-supplier
    bridge (no partsupp table), negated membership as an anti join, and
    a count-distinct grouped by dim attributes.

    Scale: the bridge distinct is the one wide shuffle and it shrinks
    lineitem to |part x supplier| pairs first; the NOT IN set (negative-
    balance suppliers) is provably non-null so Catalyst plans a plain
    (not null-aware) broadcast anti join; part attributes broadcast.
    count(DISTINCT) re-shuffles only the already-distinct bridge."""
    bridge = (
        read_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    bad = (
        read_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0.0)
        .select("s_suppkey")
    )
    part = (
        read_table(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#1")
            & (F.col("p_type") != "PROMO")
            & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    return (
        bridge.join(bad, bridge.l_suppkey == bad.s_suppkey, "left_anti")
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


@query(
    "q17_small_quantity_revenue",
    """
    WITH avg_qty AS (
        SELECT l_partkey AS ap, 0.5 * avg(l_quantity) AS half_avg
        FROM lineitem GROUP BY l_partkey
    )
    SELECT round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly,
           count(*) AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN avg_qty a ON a.ap = l.l_partkey
    WHERE p.p_brand = 'Brand#3'
      AND l.l_quantity < a.half_avg
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape — revenue locked in below-half-average-quantity
    line items: the canonical CORRELATED scalar subquery (per-part avg
    quantity compared against each of that part's rows), decorrelated
    into a grouped agg joined back on the correlation key.

    Scale: the per-part avg is one shuffle producing |parts| rows —
    broadcast back onto the brand-filtered fact, so the fact itself
    never shuffles (brand filter is pushed to the scan, prunes ~1/25).
    Cross-engine safety: l_quantity is integer-valued, so sum/count (and
    hence avg and the 0.5x threshold) are EXACT doubles in both engines
    — the `<` comparison cannot flip on summation order.

    Reference parity: the dbt models' per-entity average-vs-row
    comparisons (models/marts shape); Q17 is the benchmark form."""
    avg_qty = (
        read_table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_partkey").alias("ap"))
        .agg((0.5 * F.avg("l_quantity")).alias("half_avg"))
    )
    part = (
        read_table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#3")
        .select("p_partkey")
    )
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(avg_qty, F.col("l_partkey") == F.col("ap"))
        .filter(F.col("l_quantity") < F.col("half_avg"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "j_skew_salted",
    """
    WITH l AS (
        SELECT CASE WHEN l_linenumber <= 4 THEN 1 ELSE l_suppkey END AS skew_key,
               l_quantity
        FROM lineitem
    )
    SELECT s_name,
           count(*) AS n_lines,
           round(sum(l_quantity), 2) AS sum_qty
    FROM l JOIN supplier s ON l.skew_key = s.s_suppkey
    GROUP BY s_name
    """,
)
def j_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted equi-join (SURVEY §4): a synthetic pathological key
    (~⅔ of lineitem collapses onto supplier 1 — the shape of a null
    user / bot IP in a clickstream) is spread across 8 salts on the big
    side with the matching dim rows replicated per salt, then joined on
    (key, salt). The oracle is the PLAIN unsalted join — salting must be
    invisible in the result set, hot key included."""
    li = read_table(spark, sf_dir, "lineitem").select(
        F.when(F.col("l_linenumber") <= 4, F.lit(1))
        .otherwise(F.col("l_suppkey"))
        .alias("skew_key"),
        "l_quantity",
        "l_orderkey",
        "l_linenumber",
    )
    sup = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    joined = salted_join(
        li,
        sup,
        "skew_key",
        "s_suppkey",
        hot_keys=[1],
        n_salts=8,
        salt_from=["l_orderkey", "l_linenumber"],
    )
    return joined.groupBy("s_name").agg(
        F.count("*").alias("n_lines"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


@query(
    "a_skewed_salted_agg",
    """
    WITH l AS (
        SELECT CASE WHEN l_linenumber <= 4 THEN 1 ELSE l_suppkey END AS skew_key,
               l_quantity
        FROM lineitem
    )
    SELECT skew_key,
           count(*) AS n_lines,
           round(sum(l_quantity), 2) AS sum_qty,
           round(min(l_quantity), 2) AS min_qty,
           round(max(l_quantity), 2) AS max_qty
    FROM l GROUP BY skew_key
    """,
)
def a_skewed_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted aggregation (SURVEY §4) over the same
    pathological key as j_skew_salted (~2/3 of lineitem on one key):
    partials on (key, salt) spread the hot key across 8 reducers, a
    tiny second shuffle merges |keys|x8 partial rows. The oracle is the
    plain one-stage GROUP BY — the decomposition must be invisible."""
    li = read_table(spark, sf_dir, "lineitem").select(
        F.when(F.col("l_linenumber") <= 4, F.lit(1))
        .otherwise(F.col("l_suppkey"))
        .alias("skew_key"),
        "l_quantity",
        "l_orderkey",
        "l_linenumber",
    )
    from glamira_end_to_end_data_pipeline_spark.operators.skew import salted_agg

    agged = salted_agg(
        li,
        "skew_key",
        {
            "n_lines": "count",
            "sum_qty": "sum:l_quantity",
            "min_qty": "min:l_quantity",
            "max_qty": "max:l_quantity",
        },
        n_salts=8,
        salt_from=["l_orderkey", "l_linenumber"],
    )
    return agged.select(
        "skew_key",
        "n_lines",
        F.round("sum_qty", 2).alias("sum_qty"),
        F.round("min_qty", 2).alias("min_qty"),
        F.round("max_qty", 2).alias("max_qty"),
    )


@query(
    "j_bucketed_colocated",
    """
    SELECT o_orderpriority,
           count(*) AS n_lines,
           round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def j_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exchange-free co-located join (SURVEY §4): orders and lineitem
    are materialized as parquet tables bucketed 8-ways on the order key
    (``sources/bucketing.py``) — the write pays the shuffle once, and
    the sort-merge join then runs with NO Exchange on either side
    (plan-shape asserted in tests/test_scale_ops.py). This is the
    recurring-join strategy for the fact build at 100 TB."""
    tag = re.sub(r"[^a-zA-Z0-9_]", "_", os.path.basename(os.path.normpath(sf_dir)))
    base = os.path.join(tempfile.gettempdir(), f"spark_graft_bucketed_{tag}")
    write_bucketed(
        read_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority"),
        f"bt_orders_{tag}",
        os.path.join(base, "orders"),
        ["o_orderkey"],
        n_buckets=8,
    )
    write_bucketed(
        read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity"),
        f"bt_lineitem_{tag}",
        os.path.join(base, "lineitem"),
        ["l_orderkey"],
        n_buckets=8,
    )
    o = bucketed_table(spark, f"bt_orders_{tag}")
    li = bucketed_table(spark, f"bt_lineitem_{tag}")
    joined = li.hint("merge").join(o, li.l_orderkey == o.o_orderkey)
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_lines"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


@query(
    "j6_value_range_join",
    """
    WITH ranges AS (
        SELECT i AS bucket_id, i * 10.0 AS lo, (i + 1) * 10.0 AS hi,
               'b' || lpad(cast(i AS varchar), 2, '0') AS bucket
        FROM range(50) t(i)
    )
    SELECT r.bucket,
           count(*) AS n_events,
           round(sum(e.value), 2) AS total_value
    FROM events e
    JOIN ranges r ON e.value >= r.lo AND e.value < r.hi
    GROUP BY r.bucket
    """,
)
def j6_value_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 — range (interval) join: probe rows against [lo,hi) ranges, the
    IP2Location lookup shape (``ip_processor.py:161-174``). Small range
    side → broadcast nested-loop with the band predicate; see
    operators/geo.py for the prefix-bucketed variant used at scale."""
    events = read_table(spark, sf_dir, "events")
    ranges = spark.range(50).select(
        F.col("id").alias("bucket_id"),
        (F.col("id") * 10.0).alias("lo"),
        ((F.col("id") + 1) * 10.0).alias("hi"),
        F.concat(
            F.lit("b"), F.lpad(F.col("id").cast("string"), 2, "0")
        ).alias("bucket"),
    )
    return (
        events.join(
            F.broadcast(ranges),
            (events.value >= ranges.lo) & (events.value < ranges.hi),
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


# ===========================================================================
# Windows / spine (SURVEY §2.5)
# ===========================================================================


@query(
    "w1_dedup_latest",
    """
    SELECT user_id, event_id, event_type, ts AS last_seen
    FROM (
        SELECT user_id, event_id, event_type, ts,
               row_number() OVER (
                   PARTITION BY user_id
                   ORDER BY ts DESC, event_id DESC
               ) AS rn
        FROM events
    )
    WHERE rn = 1
    """,
)
def w1_dedup_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1/W2 — dedup-to-latest via row_number + qualify=1
    (``dim_customer.sql:18``, ``dim_location.sql:21``), with event_id as
    total-order tiebreaker for cross-engine determinism."""
    events = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type", F.col("ts").alias("last_seen"))
    )


@query(
    "w3_date_spine",
    """
    WITH bounds AS (
        SELECT cast(min(o_orderdate) AS date) - 30 AS lo,
               cast(max(o_orderdate) AS date) + 29 AS hi
        FROM orders
    )
    SELECT cast(d AS date) AS full_date,
           cast(strftime(cast(d AS date), '%Y%m%d') AS bigint) AS date_key
    FROM (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS d FROM bounds)
    """,
)
def w3_date_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3/F12 — contiguous date spine [min-30, max+30) (``dim_date.sql:1-11``
    + dbt date_spine macro; the macro is exclusive of end_date, so the
    last row is max+29). Spark-first: sequence+explode, no global
    window; generates distributed, not driver-side."""
    orders = read_table(spark, sf_dir, "orders")
    bounds = orders.agg(
        F.date_sub(F.min(F.col("o_orderdate").cast("date")), 30).alias("lo"),
        F.date_add(F.max(F.col("o_orderdate").cast("date")), 29).alias("hi"),
    )
    return bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 day"))).alias("full_date")
    ).select("full_date", date_key("full_date").alias("date_key"))


@query(
    "w6_forward_fill",
    """
    WITH daily AS (
        SELECT user_id, cast(ts AS date) AS day,
               round(sum(value), 2) AS v
        FROM events GROUP BY 1, 2
    ),
    b AS (SELECT min(cast(ts AS date)) AS lo,
                 max(cast(ts AS date)) AS hi FROM events),
    spine AS (
        SELECT cast(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS date)
            AS day FROM b
    ),
    grid AS (
        SELECT u.user_id, s.day
        FROM (SELECT DISTINCT user_id FROM events) u, spine s
    ),
    j AS (
        SELECT g.user_id, g.day, d.v
        FROM grid g LEFT JOIN daily d
          ON d.user_id = g.user_id AND d.day = g.day
    )
    SELECT user_id, day,
           round(coalesce(last_value(v IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ), 0), 2) AS filled_value,
           (v IS NOT NULL) AS was_observed
    FROM j
    """,
)
def w6_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6 — time-series gap filling: the (user × day) grid from a date
    spine, daily totals forward-filled across silent days via
    ``last(v, ignorenulls)`` (leading gaps → 0). The spine is bounded
    (days between min and max) so the grid cross-join broadcasts it —
    at 100 TB the users side streams and the grid is |users|·|days|
    rows with no shuffle until the fill window's own key shuffle."""
    events = read_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(F.round(F.sum("value"), 2).alias("v"))
    bounds = events.agg(
        F.min(F.to_date("ts")).alias("lo"), F.max(F.to_date("ts")).alias("hi")
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 day"))).alias("day")
    )
    grid = events.select("user_id").distinct().crossJoin(F.broadcast(spine))
    j = grid.join(daily, ["user_id", "day"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        "user_id",
        "day",
        F.round(
            F.coalesce(F.last("v", ignorenulls=True).over(w), F.lit(0.0)), 2
        ).alias("filled_value"),
        F.col("v").isNotNull().alias("was_observed"),
    )


@query(
    "w7_new_vs_returning",
    """
    WITH first_seen AS (
        SELECT user_id, min(cast(ts AS date)) AS first_day FROM events
        GROUP BY user_id
    ),
    daily AS (
        SELECT cast(e.ts AS date) AS day,
               count(DISTINCT e.user_id) AS n_active,
               count(DISTINCT CASE WHEN f.first_day = cast(e.ts AS date)
                              THEN e.user_id END) AS n_new
        FROM events e JOIN first_seen f ON f.user_id = e.user_id
        GROUP BY 1
    )
    SELECT day, n_active, n_new,
           (n_active - n_new) AS n_returning,
           cast(sum(n_new) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS bigint) AS cumulative_users
    FROM daily
    """,
)
def w7_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-vs-returning daily actives + the cumulative acquisition
    curve: first-seen day per user (one agg), joined back to the daily
    grain, running sum over the bounded day axis. The final window is
    a GLOBAL ordered frame — safe ONLY because its input is |days|
    rows (pre-aggregated), never raw events; the heavy lifting stays
    in keyed aggregations."""
    events = read_table(spark, sf_dir, "events")
    ev = events.select("user_id", F.col("ts").cast("date").alias("day"))
    first_seen = ev.groupBy("user_id").agg(F.min("day").alias("first_day"))
    daily = (
        ev.join(first_seen, "user_id")
        .groupBy("day")
        .agg(
            F.countDistinct("user_id").alias("n_active"),
            F.countDistinct(
                F.when(F.col("first_day") == F.col("day"), F.col("user_id"))
            ).alias("n_new"),
        )
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return daily.select(
        "day",
        "n_active",
        "n_new",
        (F.col("n_active") - F.col("n_new")).alias("n_returning"),
        F.sum("n_new").over(w).alias("cumulative_users"),
    )


@query(
    "a_cohort_retention",
    """
    WITH first_seen AS (
        SELECT user_id, min(date_trunc('week', cast(ts AS date))) AS cohort_week
        FROM events GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT e.user_id, f.cohort_week,
               date_trunc('week', cast(e.ts AS date)) AS active_week
        FROM events e JOIN first_seen f ON f.user_id = e.user_id
    )
    SELECT cast(cohort_week AS date) AS cohort_week,
           cast(floor(date_diff('day', cohort_week, active_week) / 7)
               AS bigint) AS weeks_since,
           count(*) AS n_users
    FROM activity
    GROUP BY 1, 2
    """,
)
def a_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users bucketed by first-seen week, one
    row per (cohort, weeks-since-acquisition) with the count still
    active — THE product-analytics rollup. Two keyed aggregations and
    a distinct; the matrix is |weeks|² rows regardless of event
    volume."""
    events = read_table(spark, sf_dir, "events")
    ev = events.select(
        "user_id", F.date_trunc("week", F.col("ts").cast("date")).cast("date").alias("week")
    )
    first_seen = ev.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    activity = ev.join(first_seen, "user_id").select(
        "user_id", "cohort_week", F.col("week").alias("active_week")
    ).distinct()
    return activity.groupBy(
        "cohort_week",
        F.floor(F.datediff("active_week", "cohort_week") / 7).alias("weeks_since"),
    ).agg(F.count(F.lit(1)).alias("n_users"))


@query(
    "a_funnel_conversion",
    """
    WITH stage_times AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
               min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
               min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_buy
        FROM events GROUP BY user_id
    )
    SELECT count(*) AS n_users,
           cast(sum(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END)
               AS bigint) AS reached_view,
           cast(sum(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                    THEN 1 ELSE 0 END) AS bigint) AS clicked_after_view,
           cast(sum(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                         AND t_buy > t_click
                    THEN 1 ELSE 0 END) AS bigint) AS bought_after_click
    FROM stage_times
    """,
)
def a_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view → click → purchase): per-user first-touch
    time per stage via conditional min — ONE aggregation pass over
    events, no joins, no per-user sorting — then strict time-ordered
    conversion counts. The conditional-min trick is the scalable funnel
    shape: |users| rows of state regardless of event volume."""
    events = read_table(spark, sf_dir, "events")
    stages = events.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t_buy"),
    )
    viewed = F.col("t_view").isNotNull()
    clicked = viewed & (F.col("t_click") > F.col("t_view"))
    bought = clicked & (F.col("t_buy") > F.col("t_click"))
    return stages.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.when(viewed, 1).otherwise(0)).cast("long").alias("reached_view"),
        F.sum(F.when(clicked, 1).otherwise(0))
        .cast("long")
        .alias("clicked_after_view"),
        F.sum(F.when(bought, 1).otherwise(0))
        .cast("long")
        .alias("bought_after_click"),
    )


@query(
    "w8_event_transitions",
    """
    WITH ordered AS (
        SELECT user_id, event_type,
               lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS next_type
        FROM events
    )
    SELECT event_type AS from_type, next_type AS to_type,
           count(*) AS n_transitions
    FROM ordered WHERE next_type IS NOT NULL
    GROUP BY 1, 2
    """,
)
def w8_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral transition matrix (Markov bigrams): each user's
    event stream ordered by time, lead() pairs consecutive events, one
    count per (from, to). One shuffle on user_id for the window, then
    a low-cardinality agg that collapses map-side."""
    events = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        events.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )


@query(
    "w9_ntile_quartiles",
    """
    WITH t AS (
        SELECT event_type, value, event_id,
               ntile(4) OVER (
                   PARTITION BY event_type ORDER BY value, event_id
               ) AS quartile
        FROM events
    )
    SELECT event_type, quartile,
           count(*) AS n_events,
           round(min(value), 2) AS min_value,
           round(max(value), 2) AS max_value
    FROM t GROUP BY 1, 2
    """,
)
def w9_ntile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE bucketing: equal-count quartiles of value within each
    event type (event_id tiebreak makes the boundary assignment
    total-order deterministic), summarized per bucket — the windowed
    complement of a_exact_percentiles' point estimates."""
    events = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return (
        events.select(
            "event_type", "value", F.ntile(4).over(w).alias("quartile")
        )
        .groupBy("event_type", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.min("value"), 2).alias("min_value"),
            F.round(F.max("value"), 2).alias("max_value"),
        )
    )


# Shared SCD2 CTE chain (DuckDB): events → change points → deduped
# version starts. Twin of operators/scd.py::scd2_versions. The source
# predicate is injectable so the as-of entry can version a sub-stream.
_SCD2_STARTS_CTES_TPL = """
ordered AS (
    SELECT user_id, event_type AS segment, ts, event_id,
           lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS prev_seg
    FROM events WHERE {where}
),
changed AS (
    SELECT user_id, segment, ts AS valid_from, event_id
    FROM ordered
    WHERE prev_seg IS NULL OR prev_seg <> segment
),
starts AS (
    SELECT user_id, segment, valid_from
    FROM (
        SELECT *, row_number() OVER (
                   PARTITION BY user_id, valid_from ORDER BY event_id DESC
               ) AS rn
        FROM changed
    )
    WHERE rn = 1
)
"""


@query(
    "w5_scd2_user_segments",
    f"""
    WITH {_SCD2_STARTS_CTES_TPL.format(where="true").strip()}
    SELECT user_id, segment, valid_from,
           lead(valid_from) OVER w AS valid_to,
           cast(row_number() OVER w AS int) AS version_no,
           (lead(valid_from) OVER w IS NULL) AS is_current
    FROM starts
    WINDOW w AS (PARTITION BY user_id ORDER BY valid_from)
    """,
)
def w5_scd2_user_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension build (dbt-snapshot shape): collapse the event
    stream into per-user segment version rows with validity intervals.

    Scale: output is |changes| not |events|; lag/dedup/lead windows share
    one Exchange on user_id (see operators/scd.py)."""
    from glamira_end_to_end_data_pipeline_spark.operators.scd import scd2_versions

    events = read_table(spark, sf_dir, "events")
    return scd2_versions(events, "user_id", "event_type", "ts", "event_id")


@query(
    "j8_asof_event_segments",
    f"""
    WITH {_SCD2_STARTS_CTES_TPL.format(where="event_id % 2 = 0").strip()}
    SELECT p.event_id, p.user_id, p.ts,
           coalesce(s.segment, 'none') AS segment_at_event
    FROM (
        SELECT event_id, user_id, ts FROM events WHERE event_id % 2 = 1
    ) p
    ASOF LEFT JOIN starts s
      ON p.user_id = s.user_id AND p.ts >= s.valid_from
    """,
)
def j8_asof_event_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join between two interleaved streams: the even-event_id
    sub-stream is the dimension-update feed (SCD2-versioned), and every
    odd-event_id row probes "which segment version was active at my
    timestamp?" — 'none' before the user's first update.

    Spark-first: union-window merge (operators/scd.py::asof_join) — one
    shuffle on the key, linear in |states|+|probes|, no inequality-join
    explosion; the DuckDB oracle uses its native ASOF LEFT JOIN, so the
    hash match proves the union-window trick IS as-of semantics."""
    from glamira_end_to_end_data_pipeline_spark.operators.scd import (
        asof_join,
        scd2_versions,
    )

    events = read_table(spark, sf_dir, "events")
    starts = scd2_versions(
        events.filter(F.col("event_id") % 2 == 0),
        "user_id",
        "event_type",
        "ts",
        "event_id",
    ).select("user_id", "segment", "valid_from")
    probes = events.filter(F.col("event_id") % 2 == 1).select(
        "event_id", "user_id", "ts"
    )
    return asof_join(
        probes,
        starts,
        key_col="user_id",
        probe_ts_col="ts",
        state_ts_col="valid_from",
        value_col="segment",
        default="none",
    ).withColumnRenamed("segment", "segment_at_event")


@query(
    "w4_rolling_user_value",
    """
    SELECT user_id, event_id,
           cast(count(*) OVER w AS bigint) AS n_events_1h,
           round(sum(value) OVER w, 2) AS value_1h
    FROM events
    WINDOW w AS (
        PARTITION BY user_id
        ORDER BY cast(floor(epoch(ts)) AS bigint)
        RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW
    )
    """,
)
def w4_rolling_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 — event-time rolling window: per user, count/sum of events in
    the trailing hour (RANGE frame on epoch seconds, peers included).

    Scale: one shuffle on user_id, then a per-partition ordered sweep —
    Spark's range-frame window is O(n) per key with a sliding aggregate
    buffer, never materializing the frame."""
    events = read_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").cast("long"))
        .rangeBetween(-3599, Window.currentRow)
    )
    return events.select(
        "user_id",
        "event_id",
        F.count("*").over(w).alias("n_events_1h"),
        F.round(F.sum("value").over(w), 2).alias("value_1h"),
    )


@query(
    "dq_schema_checks",
    """
    WITH staged AS (
        SELECT * FROM events
        UNION ALL
        SELECT -1, NULL, NULL, 'bogus', 0.0, NULL FROM range(2)
    ),
    okeys AS (
        SELECT o_custkey FROM orders
        UNION ALL SELECT 999999999
    )
    SELECT 'events_ts_not_null' AS check_name,
           (SELECT count(*) FROM staged WHERE ts IS NULL) AS failures,
           (SELECT count(*) FROM staged WHERE ts IS NULL) = 0 AS passed
    UNION ALL
    SELECT 'events_user_id_not_null',
           (SELECT count(*) FROM staged WHERE user_id IS NULL),
           (SELECT count(*) FROM staged WHERE user_id IS NULL) = 0
    UNION ALL
    SELECT 'events_type_accepted',
           (SELECT count(*) FROM staged WHERE event_type NOT IN
               ('click', 'view', 'purchase', 'signup', 'error')),
           (SELECT count(*) FROM staged WHERE event_type NOT IN
               ('click', 'view', 'purchase', 'signup', 'error')) = 0
    UNION ALL
    SELECT 'events_event_id_unique',
           (SELECT count(*) FROM
               (SELECT event_id FROM staged GROUP BY 1 HAVING count(*) > 1)),
           (SELECT count(*) FROM
               (SELECT event_id FROM staged GROUP BY 1 HAVING count(*) > 1)) = 0
    UNION ALL
    SELECT 'orders_orderkey_unique',
           (SELECT count(*) FROM
               (SELECT o_orderkey FROM orders GROUP BY 1 HAVING count(*) > 1)),
           (SELECT count(*) FROM
               (SELECT o_orderkey FROM orders GROUP BY 1 HAVING count(*) > 1)) = 0
    UNION ALL
    SELECT 'orders_custkey_relationship',
           (SELECT count(*) FROM okeys WHERE o_custkey IS NOT NULL
               AND o_custkey NOT IN (SELECT c_custkey FROM customer)),
           (SELECT count(*) FROM okeys WHERE o_custkey IS NOT NULL
               AND o_custkey NOT IN (SELECT c_custkey FROM customer)) = 0
    """,
)
def dq_schema_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt-style schema tests as one report query (the `dbt test`
    surface the reference's dbt project names but never declares —
    SURVEY §5): unique / not_null / accepted_values / relationships
    with dbt's exact failure semantics. Deterministic violations are
    injected (two bogus event rows, one orphan order key) so every
    failure path is exercised, not just the green ones.

    Scale: the three row-predicate checks fuse into ONE scan of events
    (operators/dq.py::row_checks); unique and relationships each cost
    one shuffle — same as dbt, minus the N separate queries."""
    from glamira_end_to_end_data_pipeline_spark.operators import dq

    events = read_table(spark, sf_dir, "events")
    bad = spark.range(2).select(
        F.lit(-1).cast("long").alias("event_id"),
        F.lit(None).cast("timestamp").alias("ts"),
        F.lit(None).cast("long").alias("user_id"),
        F.lit("bogus").alias("event_type"),
        F.lit(0.0).alias("value"),
        F.lit(None).cast("string").alias("props"),
    )
    staged = events.select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    ).unionByName(bad)

    orders = read_table(spark, sf_dir, "orders")
    okeys = orders.select("o_custkey").unionByName(
        spark.range(1).select(F.lit(999999999).cast("long").alias("o_custkey"))
    )
    customer = read_table(spark, sf_dir, "customer")

    parts = [
        dq.row_checks(
            staged,
            {
                "events_ts_not_null": F.col("ts").isNull(),
                "events_user_id_not_null": F.col("user_id").isNull(),
                "events_type_accepted": ~F.col("event_type").isin(
                    "click", "view", "purchase", "signup", "error"
                ),
            },
        ),
        dq.unique_check(staged, "events_event_id_unique", "event_id"),
        dq.unique_check(orders, "orders_orderkey_unique", "o_orderkey"),
        dq.relationship_check(
            okeys, customer, "orders_custkey_relationship", "o_custkey", "c_custkey"
        ),
    ]
    return dq.dq_report(parts)


@query(
    "dq_volume_anomaly",
    """
    WITH daily AS (
        SELECT cast(ts AS date) AS event_date, count(*) AS n_events
        FROM events GROUP BY 1
    ),
    stats AS (
        SELECT event_date, n_events,
               avg(n_events) OVER w AS mu,
               stddev_samp(n_events) OVER w AS sigma
        FROM daily
        WINDOW w AS (ORDER BY event_date ROWS BETWEEN 7 PRECEDING
                     AND 1 PRECEDING)
    )
    SELECT event_date, n_events,
           round(mu, 2) AS trailing_mean,
           round((n_events - mu) / sigma, 3) AS z_score,
           CASE WHEN sigma IS NULL OR sigma = 0 THEN false
                ELSE abs((n_events - mu) / sigma) > 2.5 END AS is_anomaly
    FROM stats
    ORDER BY event_date
    """,
)
def dq_volume_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-anomaly monitoring (the dq check a production load adds
    after schema checks): each day's event count z-scored against its
    7-day trailing window; |z| > 2.5 flags a broken upstream or a
    double-load. The window input is the DAILY rollup (one row per
    date), so the ordered single-partition window is over a few hundred
    rows no matter how big events is — the heavy lifting is the
    map-side-partial date rollup."""
    daily = (
        read_table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("event_date"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    w = Window.orderBy("event_date").rowsBetween(-7, -1)
    mu = F.avg("n_events").over(w)
    sigma = F.stddev_samp("n_events").over(w)
    z = (F.col("n_events") - mu) / sigma
    return daily.select(
        "event_date",
        "n_events",
        F.round(mu, 2).alias("trailing_mean"),
        F.round(z, 3).alias("z_score"),
        F.when(sigma.isNull() | (sigma == 0), F.lit(False))
        .otherwise(F.abs(z) > 2.5)
        .alias("is_anomaly"),
    ).orderBy("event_date")


@query(
    "f_json_parse_corrupt",
    """
    WITH staged AS (
        SELECT event_type,
               CASE WHEN event_id % 9 = 0 THEN '{' || props
                    ELSE props END AS props
        FROM events
    )
    SELECT event_type,
           count(*) AS n_rows,
           cast(sum(CASE WHEN json_valid(props)
                    THEN 0 ELSE 1 END) AS bigint) AS n_corrupt,
           cast(sum(CASE WHEN json_valid(props)
                    THEN cast(props ->> 'k' AS bigint) ELSE 0 END)
               AS bigint) AS sum_k
    FROM staged
    GROUP BY event_type
    """,
)
def f_json_parse_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-record tolerance (the PERMISSIVE-parse contract every
    raw-JSON ingest needs): every 9th props value is prefix-corrupted
    (invalid from the first token — Jackson tolerates TRAILING garbage
    after a complete object, so suffix corruption would not register),
    parsed with ``from_json`` (NULL on malformed, never a task
    failure), and the per-type report counts corrupt rows and sums the
    surviving payloads. Oracle uses DuckDB's ``json_valid`` — the hash
    match pins Spark's corrupt-detection to an independent JSON
    validator."""
    events = read_table(spark, sf_dir, "events")
    staged = events.select(
        "event_type",
        F.when(
            F.col("event_id") % 9 == 0, F.concat(F.lit("{"), F.col("props"))
        )
        .otherwise(F.col("props"))
        .alias("props"),
    )
    parsed = staged.withColumn(
        "__p", F.from_json("props", "struct<k: bigint>")
    )
    # PERMISSIVE from_json yields a struct with NULL FIELDS on malformed
    # input (not a NULL struct) — corrupt ⟺ k is null, since every
    # well-formed props carries k.
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("__p.k").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_corrupt"),
        F.sum(F.coalesce(F.col("__p.k"), F.lit(0))).cast("long").alias("sum_k"),
    )


# ===========================================================================
# Scalar-function showcases (SURVEY §2.8)
# ===========================================================================


@query(
    "f_date_parts_dim",
    """
    WITH days AS (SELECT DISTINCT cast(o_orderdate AS date) AS d FROM orders)
    SELECT cast(strftime(d, '%Y%m%d') AS bigint) AS date_key,
           d AS full_date,
           dayofmonth(d) AS day_of_month,
           month(d) AS month_num,
           year(d) AS year_num,
           quarter(d) AS quarter_num,
           dayofweek(d) + 1 AS day_of_week,
           dayname(d) AS day_name,
           monthname(d) AS month_name,
           CASE WHEN dayofweek(d) IN (0, 6) THEN true ELSE false END AS is_weekend,
           weekofyear(d) AS iso_week,
           CASE WHEN dayofyear(d) < 1 + (8 - (dayofweek(date_trunc('year', d)) + 1)) % 7
                THEN 0
                ELSE cast(floor((dayofyear(d)
                     - (1 + (8 - (dayofweek(date_trunc('year', d)) + 1)) % 7)) / 7)
                     AS bigint) + 1 END AS bq_week
    FROM days
    """,
)
def f_date_parts_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6-F9 — the full dim_date column set (``dim_date.sql:13-26``),
    including BigQuery WEEK semantics (Sunday-start, week 0 before the
    first Sunday) which differ from Spark/ISO weekofyear; oracle written
    against DuckDB's 0=Sunday dayofweek."""
    orders = read_table(spark, sf_dir, "orders")
    days = orders.select(F.col("o_orderdate").cast("date").alias("d")).distinct()
    return days.select(
        date_key("d").alias("date_key"),
        F.col("d").alias("full_date"),
        F.dayofmonth("d").alias("day_of_month"),
        F.month("d").alias("month_num"),
        F.year("d").alias("year_num"),
        F.quarter("d").alias("quarter_num"),
        F.dayofweek("d").alias("day_of_week"),
        F.date_format("d", "EEEE").alias("day_name"),
        F.date_format("d", "MMMM").alias("month_name"),
        is_weekend("d").alias("is_weekend"),
        F.weekofyear("d").alias("iso_week"),
        bq_week("d").cast("long").alias("bq_week"),
    )


@query(
    "f_surrogate_keys",
    """
    SELECT c_custkey,
           md5(concat_ws('-',
               coalesce(cast(c_custkey AS varchar), '_dbt_utils_surrogate_key_null_'),
               coalesce(cast(nullif(c_mktsegment, 'BUILDING') AS varchar),
                        '_dbt_utils_surrogate_key_null_'),
               coalesce(cast(c_nationkey AS varchar), '_dbt_utils_surrogate_key_null_')
           )) AS composite_key,
           md5(concat_ws('-',
               coalesce(cast(c_name AS varchar), '_dbt_utils_surrogate_key_null_')
           )) AS name_key
    FROM customer
    """,
)
def f_surrogate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 — dbt_utils.generate_surrogate_key byte-parity, including the
    NULL sentinel path (nullif injects NULLs). Hash equality across
    engines is the whole point (SURVEY §7 watch list)."""
    cust = read_table(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        surrogate_key(
            "c_custkey",
            "nullif(c_mktsegment, 'BUILDING')",
            "c_nationkey",
        ).alias("composite_key"),
        surrogate_key("c_name").alias("name_key"),
    )


@query(
    "f_ip_enrichment",
    """
    WITH ips AS (
        SELECT DISTINCT
               ((user_id * 2654435761) % 223 + 1) || '.' ||
               ((user_id * 40503) % 256) || '.' ||
               ((user_id * 65537) % 256) || '.' ||
               ((user_id * 97) % 256) AS ip
        FROM events WHERE user_id IS NOT NULL
    ),
    ip_nums AS (
        SELECT ip,
               ((user_part[1] * 256 + user_part[2]) * 256 + user_part[3]) * 256
                   + user_part[4] AS ip_num
        FROM (SELECT ip, list_transform(string_split(ip, '.'),
                     x -> cast(x AS bigint)) AS user_part FROM ips)
    ),
    geo AS (
        SELECT i * 16777216 AS start_ip_num,
               (i + 1) * 16777216 - 1 AS end_ip_num,
               'C' || lpad(cast(i % 50 AS varchar), 2, '0') AS country_code
        FROM range(256) t(i)
    )
    SELECT g.country_code,
           count(*) AS n_ips,
           min(n.ip) AS sample_ip
    FROM ip_nums n
    JOIN geo g ON n.ip_num >= g.start_ip_num AND n.ip_num <= g.end_ip_num
    GROUP BY g.country_code
    """,
)
def f_ip_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F26 + J6 + A1 — the reference's headline path (distinct IPs →
    geo range lookup → per-country rollup, ``ip_processor.py``) on
    synthesized dotted-quads, via the bucketed range join
    (operators/geo.py): ranges exploded over /16 buckets → hash join on
    the bucket + residual band filter, the plan that survives 10⁹
    distinct IPs (a broadcast nested-loop band join would scan every
    range per probe row). BASELINE comparison point: reference does
    ~1,350-1,800 lookups/s single-core; Spark is the ≥10× answer."""
    events = read_table(spark, sf_dir, "events")
    ip = F.concat_ws(
        ".",
        ((F.col("user_id") * 2654435761) % 223 + 1).cast("string"),
        ((F.col("user_id") * 40503) % 256).cast("string"),
        ((F.col("user_id") * 65537) % 256).cast("string"),
        ((F.col("user_id") * 97) % 256).cast("string"),
    )
    ips = (
        events.filter(F.col("user_id").isNotNull())
        .select(ip.alias("ip"))
        .distinct()
    )
    geo = spark.range(256).select(
        (F.col("id") * 16777216).alias("start_ip_num"),
        ((F.col("id") + 1) * 16777216 - 1).alias("end_ip_num"),
        F.concat(
            F.lit("C"), F.lpad((F.col("id") % 50).cast("string"), 2, "0")
        ).alias("country_code"),
    )
    return (
        range_join_bucketed(ips, geo, how="inner")
        .groupBy("country_code")
        .agg(F.count("*").alias("n_ips"), F.min("ip").alias("sample_ip"))
    )


@query(
    "f_string_cleaning",
    """
    SELECT doc_id,
           nullif(trim(regexp_replace(text, '\\s+', ' ', 'g')), '') AS normalized,
           substr(text, 1, 80) AS excerpt,
           length(text) AS text_len,
           nullif(regexp_replace('  ' || source || '   -   ', '\\s+', ' ', 'g'), '')
               AS src_padded
    FROM documents
    """,
)
def f_string_cleaning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F13/F19 — whitespace normalization + truncation
    (``product_crawler.py:235-240,454``). DuckDB regexp_replace needs the
    'g' flag to match Spark's replace-all."""
    docs = read_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        ws_normalize("text").alias("normalized"),
        F.substring("text", 1, 80).alias("excerpt"),
        F.length("text").alias("text_len"),
        F.nullif(
            F.regexp_replace(
                F.concat(F.lit("  "), F.col("source"), F.lit("   -   ")),
                r"\s+",
                " ",
            ),
            F.lit(""),
        ).alias("src_padded"),
    )


@query(
    "f_misc_scalars",
    """
    SELECT doc_id,
           try_strptime(
               CASE WHEN doc_id % 3 = 1 THEN 'not-a-date'
                    ELSE '2024' || lpad((doc_id % 12 + 1)::VARCHAR, 2, '0')
                               || lpad((doc_id % 28 + 1)::VARCHAR, 2, '0')
               END, '%Y%m%d')::DATE AS part_date,
           nullif(CASE WHEN doc_id % 5 = 0 THEN '-' ELSE source END, '-')
               AS src_clean,
           array_to_string(
               ['Home', source, 'Item ' || (doc_id % 10)::VARCHAR], ' > ')
               AS crumb_path,
           'Item ' || (doc_id % 10)::VARCHAR AS crumb_leaf,
           strftime(make_timestamp((1704067200 + doc_id) * 1000000),
                    '%Y-%m-%dT%H:%M:%S') AS iso_ts
    FROM documents
    """,
)
def f_misc_scalars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11 + F20 + F21 + F25 in one oracle-checked pass over documents:

    - F11 safe parse_date (``stg_summary_date_range.sql:13-14``):
      ``to_date(s, 'yyyyMMdd')`` NULLs the injected garbage rows
      (non-ANSI mode = BigQuery SAFE. semantics engine-wide);
    - F20 sentinel→NULL (``ip_processor.py:167-170``);
    - F21 breadcrumb join + leaf (``product_crawler.py:426-430``);
    - F25 ISO-8601 timestamp formatting (``ip_processor.py:171``) over a
      deterministic doc_id-derived timestamp (current_timestamp would
      never hash-match across engines).
    """
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "source")
    ymd = F.concat(
        F.lit("2024"),
        F.lpad((F.col("doc_id") % 12 + 1).cast("string"), 2, "0"),
        F.lpad((F.col("doc_id") % 28 + 1).cast("string"), 2, "0"),
    )
    part_str = F.when(F.col("doc_id") % 3 == 1, F.lit("not-a-date")).otherwise(ymd)
    sentinel_src = F.when(F.col("doc_id") % 5 == 0, F.lit("-")).otherwise(
        F.col("source")
    )
    crumbs = F.array(
        F.lit("Home"),
        F.col("source"),
        F.concat(F.lit("Item "), (F.col("doc_id") % 10).cast("string")),
    )
    from glamira_end_to_end_data_pipeline_spark.functions import (
        breadcrumb_join,
        breadcrumb_leaf,
        nullify_sentinel,
    )

    return docs.select(
        "doc_id",
        F.to_date(part_str, "yyyyMMdd").alias("part_date"),
        nullify_sentinel(sentinel_src).alias("src_clean"),
        breadcrumb_join(crumbs).alias("crumb_path"),
        breadcrumb_leaf(crumbs).alias("crumb_leaf"),
        F.date_format(
            F.timestamp_seconds(F.lit(1704067200).cast("long") + F.col("doc_id")),
            "yyyy-MM-dd'T'HH:mm:ss",
        ).alias("iso_ts"),
    )


@query(
    "a8_running_counters",
    """
    WITH per AS (
        SELECT event_id // 1000 AS batch,
               count(*) AS n_rows,
               CAST(sum(CASE WHEN user_id IS NOT NULL AND value IS NOT NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_success
        FROM events GROUP BY 1
    )
    SELECT batch, n_rows, n_success,
           n_rows - n_success AS n_failed,
           CAST(sum(n_rows) OVER (ORDER BY batch) AS BIGINT) AS cum_processed
    FROM per
    """,
)
def a8_running_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 — running counters (``ip_processor.py:386-388``,
    ``product_crawler.py:560-572``): the reference folds
    ``processed_count += len(batch)`` and success/failed tallies in the
    driver loop; declaratively that is a per-batch agg plus a running
    sum over the batch sequence. The window is over the *batch* table
    (one row per thousand events), so the unpartitioned running-sum
    window is tiny at any SF — the raw events never pass through a
    single-partition window."""
    ev = read_table(spark, sf_dir, "events").select(
        F.floor(F.col("event_id") / 1000).alias("batch"),
        F.col("user_id"),
        F.col("value"),
    )
    ok = F.col("user_id").isNotNull() & F.col("value").isNotNull()
    per = ev.groupBy("batch").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.when(ok, 1).otherwise(0)).alias("n_success"),
    )
    running = Window.orderBy("batch").rowsBetween(Window.unboundedPreceding, 0)
    return per.select(
        "batch",
        "n_rows",
        "n_success",
        (F.col("n_rows") - F.col("n_success")).alias("n_failed"),
        F.sum("n_rows").over(running).alias("cum_processed"),
    )


@query(
    "a_histogram",
    """
    SELECT cast(floor(value / 5.0) AS bigint) AS bin,
           cast(floor(value / 5.0) AS bigint) * 5.0 AS bin_lo,
           count(*) AS n,
           round(sum(value), 2) AS bin_sum
    FROM events
    WHERE value IS NOT NULL
    GROUP BY 1, 2
    ORDER BY 1
    """,
)
def a_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram over a numeric column (the profiling
    rollup every data-quality dashboard starts with): bin =
    floor(value/width). Pure map-side expression into a partial-agg
    groupBy — the shuffle moves |bins| rows per partition regardless of
    table size. (width_bucket semantics; floor-division keeps the bin
    id exact on both engines since value/5 never hits a representable-
    boundary ambiguity after floor.)"""
    events = read_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    bin_col = F.floor(F.col("value") / 5.0).cast("long")
    return (
        events.groupBy(
            bin_col.alias("bin"), (bin_col * 5.0).alias("bin_lo")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("bin_sum"),
        )
        .orderBy("bin")
    )


@query(
    "lake_zorder_codes",
    """
    WITH keyed AS (
        SELECT event_id,
               user_id % 1024 AS x,
               cast(floor(value) AS bigint) % 1024 AS y
        FROM events
    ),
    bits AS (SELECT unnest(generate_series(0, 9)) AS i),
    z AS (
        SELECT event_id, x, y,
               sum((((x >> i) & 1) << (2 * i))
                 + (((y >> i) & 1) << (2 * i + 1))) AS z_code
        FROM keyed, bits
        GROUP BY event_id, x, y
    )
    SELECT event_id, x, y, cast(z_code AS bigint) AS z_code
    FROM z
    ORDER BY z_code, event_id
    LIMIT 1000
    """,
)
def lake_zorder_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over two dimensions — the lake
    layout (Delta/Iceberg Z-ORDER shape) that lets Parquet min/max
    stats prune range predicates on BOTH columns after one write
    (``sources/lake.py::write_zordered``). The code is a plain sum of
    shift/mask expressions (codegen'd, exact); the oracle rebuilds the
    interleave with the same integer ops. Locality of the layout is
    pinned in tests/test_scale_ops.py."""
    from glamira_end_to_end_data_pipeline_spark.sources.lake import morton_code

    events = read_table(spark, sf_dir, "events")
    keyed = events.select(
        "event_id",
        (F.col("user_id") % 1024).alias("x"),
        (F.floor("value").cast("long") % 1024).alias("y"),
    )
    return (
        keyed.select(
            "event_id", "x", "y", morton_code("x", "y", bits=10).alias("z_code")
        )
        .orderBy("z_code", "event_id")
        .limit(1000)
    )


@query(
    "a_approx_sketches",
    """
    SELECT event_type,
           count(DISTINCT user_id) AS n_users_exact,
           TRUE AS approx_distinct_ok,
           round(median(value), 2) AS median_value,
           TRUE AS approx_median_ok
    FROM events GROUP BY event_type
    """,
)
def a_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregates — the 100 TB form of A1/A2's distinct counts:
    HyperLogLog++ (``approx_count_distinct``, constant memory per group
    vs a distinct shuffle) and KLL-style quantiles
    (``percentile_approx``). Sketches differ across engines by design,
    so the oracle checks the *error envelope*: the entry emits booleans
    asserting the approximation lands within 10% of the exact value it
    also computes — an engine whose sketch drifts out of contract
    hash-mismatches the oracle's TRUE."""
    events = read_table(spark, sf_dir, "events")
    agged = events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users_exact"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("__approx_users"),
        F.median("value").alias("__median_exact"),
        F.percentile_approx("value", 0.5, 10000).alias("__median_approx"),
    )
    return agged.select(
        "event_type",
        "n_users_exact",
        (
            F.abs(F.col("__approx_users") - F.col("n_users_exact"))
            <= 0.1 * F.col("n_users_exact")
        ).alias("approx_distinct_ok"),
        F.round("__median_exact", 2).alias("median_value"),
        (
            F.abs(F.col("__median_approx") - F.col("__median_exact"))
            <= 0.1 * F.abs(F.col("__median_exact")) + F.lit(0.01)
        ).alias("approx_median_ok"),
    )


@query(
    "a_exact_percentiles",
    """
    SELECT event_type,
           round(quantile_cont(value, 0.25), 6) AS p25,
           round(quantile_cont(value, 0.5), 6) AS p50,
           round(quantile_cont(value, 0.9), 6) AS p90
    FROM events GROUP BY event_type
    """,
)
def a_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (the non-sketch complement of
    a_approx_sketches): Spark's ``percentile`` and DuckDB's
    ``quantile_cont`` share the linear-interpolation-at-(n-1)p
    definition, so the values hash-match exactly. Exact percentiles
    need the full group sorted — the 100 TB answer is the sketch entry;
    this one exists because sub-percent finals (pricing reports) still
    need the exact form on filtered slices."""
    events = read_table(spark, sf_dir, "events")
    pct = F.expr("percentile(value, array(0.25D, 0.5D, 0.9D))")
    return (
        events.groupBy("event_type")
        .agg(pct.alias("__p"))
        .select(
            "event_type",
            F.round(F.element_at("__p", 1), 6).alias("p25"),
            F.round(F.element_at("__p", 2), 6).alias("p50"),
            F.round(F.element_at("__p", 3), 6).alias("p90"),
        )
    )


@query(
    "f_pandas_udaf_robust_stats",
    """
    WITH med AS (
        SELECT event_type, median(value) AS m FROM events GROUP BY 1
    )
    SELECT e.event_type,
           round(any_value(med.m), 6) AS median_value,
           round(median(abs(e.value - med.m)), 6) AS mad_value
    FROM events e JOIN med USING (event_type)
    GROUP BY e.event_type
    """,
)
def f_pandas_udaf_robust_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 UDAF surface — Arrow-batched grouped-agg Pandas UDFs
    (median + median-absolute-deviation per event type). Median is
    sort-based, so numpy and DuckDB agree bit-for-bit — a custom
    aggregate whose cross-engine correctness is still hash-checkable.

    Scale: grouped-agg pandas UDFs hash-shuffle rows to their group
    like any agg, then evaluate per group over Arrow batches — fine
    for bounded group counts; a_approx_sketches is the unbounded-
    cardinality path."""
    from glamira_end_to_end_data_pipeline_spark.functions.udafs import (
        mad_udaf,
        median_udaf,
    )

    events = read_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.round(median_udaf("value"), 6).alias("median_value"),
        F.round(mad_udaf("value"), 6).alias("mad_value"),
    )


@query(
    "a_multigrain_rollup",
    """
    WITH e AS (
        SELECT event_type, CAST(ts AS DATE) AS event_date, value FROM events
    )
    SELECT coalesce(event_type, 'ALL') AS event_type_g,
           coalesce(CAST(event_date AS VARCHAR), 'ALL') AS event_date_g,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM e GROUP BY ROLLUP (event_type, event_date)
    """,
)
def a_multigrain_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-grain aggregation via ``rollup`` — (type, day), (type),
    and grand-total grains in ONE pass instead of three queries over
    the fact table (at 100 TB, one scan instead of three). Subtotal
    rows label their rolled-up grain 'ALL' (the fixture has no NULL
    keys, so the label is unambiguous)."""
    events = read_table(spark, sf_dir, "events")
    return (
        events.select(
            "event_type", F.to_date("ts").alias("event_date"), "value"
        )
        .rollup("event_type", "event_date")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.coalesce(F.col("event_type"), F.lit("ALL")).alias("event_type_g"),
            F.coalesce(F.col("event_date").cast("string"), F.lit("ALL")).alias(
                "event_date_g"
            ),
            "n_events",
            "total_value",
        )
    )


@query(
    "a_cube_weekday_mix",
    """
    WITH e AS (
        SELECT event_type,
               dayofweek(CAST(ts AS DATE)) + 1 AS dow,
               value
        FROM events
    )
    SELECT coalesce(event_type, 'ALL') AS event_type_g,
           coalesce(CAST(dow AS VARCHAR), 'ALL') AS dow_g,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM e
    GROUP BY CUBE (event_type, dow)
    """,
)
def a_cube_weekday_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE — all four grains of (type, weekday) in one scan: the full
    cross of subtotals that rollup's hierarchy misses ((dow) alone is a
    cube-only grain). Same single-pass-at-100TB rationale as
    a_multigrain_rollup; weekday via dayofweek with the Spark 1=Sunday
    convention (DuckDB is 0=Sunday, adjusted in the oracle)."""
    events = read_table(spark, sf_dir, "events")
    return (
        events.select("event_type", F.dayofweek(F.to_date("ts")).alias("dow"), "value")
        .cube("event_type", "dow")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.coalesce(F.col("event_type"), F.lit("ALL")).alias("event_type_g"),
            F.coalesce(F.col("dow").cast("string"), F.lit("ALL")).alias("dow_g"),
            "n_events",
            "total_value",
        )
    )


@query(
    "a_pivot_daily_mix",
    """
    WITH w AS (
        SELECT CAST(ts AS DATE) AS event_date,
               count(*) FILTER (event_type = 'click')    AS click,
               count(*) FILTER (event_type = 'error')    AS error,
               count(*) FILTER (event_type = 'purchase') AS purchase,
               count(*) FILTER (event_type = 'signup')   AS signup,
               count(*) FILTER (event_type = 'view')     AS view
        FROM events GROUP BY 1
    )
    SELECT event_date, event_type, n_events FROM (
        SELECT event_date, 'click' AS event_type, click AS n_events FROM w
        UNION ALL SELECT event_date, 'error', error FROM w
        UNION ALL SELECT event_date, 'purchase', purchase FROM w
        UNION ALL SELECT event_date, 'signup', signup FROM w
        UNION ALL SELECT event_date, 'view', view FROM w
    ) WHERE n_events IS NOT NULL
    """,
)
def a_pivot_daily_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot → unpivot round trip: per-day event-type counts pivoted
    into a wide frame (explicit value list — no extra distinct pass, a
    scale requirement: ``pivot(col)`` without values runs a collect),
    then melted back long via ``unpivot``. The oracle builds the same
    wide table with FILTER aggregates and unions it back — the round
    trip must reproduce the plain groupBy exactly."""
    types = ["click", "error", "purchase", "signup", "view"]
    events = read_table(spark, sf_dir, "events")
    wide = (
        events.select(F.to_date("ts").alias("event_date"), "event_type")
        .groupBy("event_date")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
    )
    return wide.unpivot(
        ids=["event_date"],
        values=types,
        variableColumnName="event_type",
        valueColumnName="n_events",
    ).filter(F.col("n_events").isNotNull())


# ===========================================================================
# Set operations (SURVEY §2.7 — engine completeness)
# ===========================================================================


@query(
    "setops_users_vs_customers",
    """
    WITH ev_ids AS (SELECT DISTINCT user_id AS id FROM events),
         cust_ids AS (SELECT DISTINCT c_custkey AS id FROM customer)
    SELECT 'union' AS op, count(*) AS n FROM (SELECT id FROM ev_ids UNION SELECT id FROM cust_ids)
    UNION ALL
    SELECT 'intersect' AS op, count(*) AS n FROM (SELECT id FROM ev_ids INTERSECT SELECT id FROM cust_ids)
    UNION ALL
    SELECT 'except' AS op, count(*) AS n FROM (SELECT id FROM ev_ids EXCEPT SELECT id FROM cust_ids)
    """,
)
def setops_users_vs_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 — UNION / INTERSECT / EXCEPT (absent from the reference's SQL
    but part of the engine's completeness surface)."""
    ev = read_table(spark, sf_dir, "events").select(F.col("user_id").alias("id")).distinct()
    cu = (
        read_table(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("id"))
        .distinct()
    )

    def count_of(df: DataFrame, op: str) -> DataFrame:
        return df.agg(F.count("*").alias("n")).select(F.lit(op).alias("op"), "n")

    return (
        count_of(ev.union(cu).distinct(), "union")
        .unionByName(count_of(ev.intersect(cu), "intersect"))
        .unionByName(count_of(ev.exceptAll(cu).distinct(), "except"))
    )


# ===========================================================================
# Multi-grain GROUPING SETS, statistical aggregates, iterative graph rank
# (SURVEY §2.6 completeness + engine analytics surface)
# ===========================================================================


@query(
    "a_grouping_sets",
    """
    SELECT coalesce(cast(cast(year(o_orderdate) AS int) AS varchar), 'ALL')
               AS order_year,
           coalesce(o_orderpriority, 'ALL') AS priority,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM orders
    GROUP BY GROUPING SETS ((year(o_orderdate), o_orderpriority),
                            (year(o_orderdate)), (o_orderpriority), ())
    """,
)
def a_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the grains CUBE/ROLLUP can't pick à la
    carte): (year, priority), (year), (priority), and the grand total in
    ONE pass — Spark plans a single Expand + hash-aggregate, so the scan
    is read once for all four grains instead of four times. Superset
    grains are labeled 'ALL' via coalesce (both engines agree on NULL
    for the rolled-up column, sidestepping grouping_id dialect
    differences). Scale: Expand multiplies rows 4× map-side but partial
    aggregation collapses them before the (low-cardinality) shuffle."""
    orders = read_table(spark, sf_dir, "orders").select(
        F.year("o_orderdate").alias("order_year"),
        F.col("o_orderpriority").alias("priority"),
        "o_totalprice",
    )
    grouped = orders.groupingSets(
        [
            [F.col("order_year"), F.col("priority")],
            [F.col("order_year")],
            [F.col("priority")],
            [],
        ],
        F.col("order_year"),
        F.col("priority"),
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )
    return grouped.select(
        F.coalesce(F.col("order_year").cast("string"), F.lit("ALL")).alias(
            "order_year"
        ),
        F.coalesce(F.col("priority"), F.lit("ALL")).alias("priority"),
        "n_orders",
        "total_price",
    )


@query(
    "a_corr_stats",
    """
    SELECT l_returnflag,
           count(*) AS n_rows,
           round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
           round(corr(l_discount, l_extendedprice), 6) AS corr_disc_price,
           round(covar_samp(l_quantity, l_extendedprice), 2) AS covar_qty_price,
           round(stddev_samp(l_quantity), 4) AS std_qty,
           round(var_samp(l_discount), 6) AS var_disc
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def a_corr_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment statistical aggregates per return flag: Pearson
    correlation, sample covariance, stddev, variance — all computed by
    Spark's single-pass co-moment (Welford-merge) aggregates, so one
    scan + one tiny shuffle regardless of data size. Rounding is sized
    to each statistic's magnitude (corr∈[-1,1] → 6dp; covariance ~1e4 →
    2dp) so partial-aggregation merge order can't flip the hash at
    100× the partition count."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.corr("l_discount", "l_extendedprice"), 6).alias("corr_disc_price"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias(
            "covar_qty_price"
        ),
        F.round(F.stddev_samp("l_quantity"), 4).alias("std_qty"),
        F.round(F.var_samp("l_discount"), 6).alias("var_disc"),
    )


@query(
    "graph_pagerank",
    """
    WITH e AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM lineitem a
        JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    ),
    deg AS (SELECT u, count(*) AS outdeg FROM e GROUP BY u),
    nodes AS (SELECT DISTINCT u AS node FROM e),
    r0 AS (SELECT node, 1.0e0 AS rank FROM nodes),
    r1 AS (
        SELECT n.node,
               0.15e0 + 0.85e0 * coalesce(sum(r.rank / d.outdeg), 0.0e0) AS rank
        FROM nodes n
        LEFT JOIN e ON e.v = n.node
        LEFT JOIN r0 r ON r.node = e.u
        LEFT JOIN deg d ON d.u = e.u
        GROUP BY n.node
    ),
    r2 AS (
        SELECT n.node,
               0.15e0 + 0.85e0 * coalesce(sum(r.rank / d.outdeg), 0.0e0) AS rank
        FROM nodes n
        LEFT JOIN e ON e.v = n.node
        LEFT JOIN r1 r ON r.node = e.u
        LEFT JOIN deg d ON d.u = e.u
        GROUP BY n.node
    ),
    r3 AS (
        SELECT n.node,
               0.15e0 + 0.85e0 * coalesce(sum(r.rank / d.outdeg), 0.0e0) AS rank
        FROM nodes n
        LEFT JOIN e ON e.v = n.node
        LEFT JOIN r2 r ON r.node = e.u
        LEFT JOIN deg d ON d.u = e.u
        GROUP BY n.node
    )
    SELECT r3.node AS part_id,
           cast(deg.outdeg AS bigint) AS outdeg,
           round(r3.rank, 6) AS rank
    FROM r3 JOIN deg ON deg.u = r3.node
    """,
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Damped PageRank (3 rounds, d=0.85) over the part co-purchase
    graph — parts appearing in the same order are linked both ways. The
    iterative weighted-propagation loop is the graph family connected
    components (operators/dedup.py) doesn't cover; each round is one
    edge⋈rank join + one destination-keyed sum, with the edge list
    persisted once and ranks localCheckpoint-ed so the plan stays flat
    (operators/graph.py). Edge building is ONE orderkey shuffle: each
    order's part set collects map-side-combined, ordered pairs expand
    MAP-SIDE via an O(k²)-per-order HOF (k = parts/order, small), and
    only the pair DISTINCT shuffles — the former lineitem⋈lineitem
    formulation shuffled the fact table twice before that distinct
    (plans/extra_queries.py:copurchase_edges has the measurements).
    The oracle unrolls the same three rounds as chained CTEs."""
    from glamira_end_to_end_data_pipeline_spark.operators.graph import pagerank

    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    parts = li.groupBy("l_orderkey").agg(
        F.collect_set("l_partkey").alias("ps")
    )
    edges = (
        parts.select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("ps"),
                        lambda x: F.filter(
                            F.transform(
                                F.col("ps"),
                                lambda y: F.when(
                                    x != y,
                                    F.struct(
                                        x.alias("src"), y.alias("dst")
                                    ),
                                ),
                            ),
                            lambda s: s.isNotNull(),
                        ),
                    )
                )
            ).alias("p")
        )
        .select("p.src", "p.dst")
        .distinct()
    )
    ranks = pagerank(edges, iters=3, damping=0.85)
    return ranks.select(
        F.col("node").alias("part_id"),
        F.col("outdeg").cast("bigint").alias("outdeg"),
        F.round("rank", 6).alias("rank"),
    )


@query(
    "w_sessionize_batch",
    """
    WITH flagged AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR cast(floor(epoch(ts)) AS bigint)
                            - cast(floor(epoch(lag(ts) OVER w)) AS bigint) > 1800
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
        SELECT user_id, ts, value,
               sum(new_session) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS session_idx
        FROM flagged
    )
    SELECT user_id,
           cast(session_idx AS int) AS session_idx,
           count(*) AS n_events,
           min(ts) AS session_start,
           max(ts) AS session_end,
           cast(floor(epoch(max(ts))) - floor(epoch(min(ts))) AS bigint)
               AS duration_s,
           round(sum(value), 2) AS session_value
    FROM numbered
    GROUP BY user_id, session_idx
    """,
)
def w_sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch/backfill sessionization — the classic lag→flag→running-sum
    composition (30-min inactivity gap), the twin of the streaming
    session_window/applyInPandasWithState pair for reprocessing history:
    a gap-start flag from lag(ts), a running sum turning flags into
    per-user session ordinals, then one aggregate per session. Both
    window specs share (user_id; ts, event_id) partitioning+order, so
    Spark plans ONE exchange and ONE sort for the whole chain — at
    100 TB the operator costs a single user-keyed shuffle, and no
    unpartitioned window appears anywhere."""
    events = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = events.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.col("ts").cast("long") - F.lag("ts").over(w).cast("long")
                > 1800
            ),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("new_session"),
    )
    numbered = flagged.select(
        "user_id",
        "ts",
        "value",
        F.sum("new_session")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("int")
        .alias("session_idx"),
    )
    return numbered.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        (F.max("ts").cast("long") - F.min("ts").cast("long"))
        .cast("bigint")
        .alias("duration_s"),
        F.round(F.sum("value"), 2).alias("session_value"),
    )

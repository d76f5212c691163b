"""The reference's star schema as composable DataFrame model functions.

Each function mirrors one dbt model (SURVEY.md §2, §3.1): ``ref()`` is a
function argument, ``source()`` is a caller-supplied DataFrame, dbt's
``view`` materialization is Spark laziness. The DAG is the call graph of
``build_star``.

Model parity notes (byte-exact intent):

- surrogate keys follow dbt_utils.generate_surrogate_key's md5 recipe
  (``functions.surrogate_key``), including the NULL sentinel;
- dedup-to-latest windows get deterministic tiebreakers *beyond* the
  reference's ordering — the reference (BigQuery ``qualify row_number()``
  with a non-unique ORDER BY, ``dim_customer.sql:18``) is
  tie-nondeterministic, so any total order is a valid refinement and a
  required one for cross-engine hash equality;
- all fact joins use ``=`` (null keys miss → '-1' defaults), never
  null-safe equality (``fact_sales_order.sql:52-76``).

Scale: dims are orders-of-magnitude smaller than the fact → broadcast
them. The 7-column session join keys can skew on popular sessions
(NULL-heavy rows are filtered before the dim, and fact-side NULL keys
never shuffle to a hot partition since `=` misses are resolved by the
join itself); AQE skew-join handles residual hot keys.

Models that run on every landed chunk (``stg_summary``,
``fact_sales_order``, and ``plans.star_queries.summary_from_events``
upstream of them) are SQL expression text (``selectExpr`` /
``F.expr``), the dbt models' own language. Built from PySpark
``Column`` nodes, every node cost about three py4j round trips, plus
one more when Python freed its JVM reference: building one chunk's
summary, stg and fact took 1,361–1,676, 332 and about 900 round trips,
against 21, 21 and 90 from text, for the same analyzed plan
(``sameSemantics``). The dims, built once per set-up, stay in the DSL.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from glamira_end_to_end_data_pipeline_spark.functions import (
    bq_week,
    date_key,
    is_weekend,
    safe_cast,
    surrogate_key,
    surrogate_key_sql,
)

SESSION_COLS = (
    "ip_address",
    "user_agent",
    "resolution",
    "referrer_url",
    "current_url",
    "store_id",
    "api_version",
)


# ref ``stg_summary.sql:1-31``, one SQL expression per output column
STG_SUMMARY_EXPRS = (
    "timestamp_seconds(time_stamp) AS event_timestamp",
    "local_time",
    "try_cast(user_id_db AS string) AS customer_source_id",
    "try_cast(product_id AS string) AS product_source_id",
    "try_cast(order_id AS string) AS order_source_id",
    "device_id",
    "ip AS ip_address",
    "user_agent",
    "resolution",
    "referrer_url",
    "current_url",
    "store_id",
    "api_version",
    "email_address",
    "try_cast(price AS double) AS price",
    "currency",
)


def stg_summary(summary: DataFrame) -> DataFrame:
    """Typed projection over raw clickstream (ref ``stg_summary.sql:1-31``):
    epoch seconds → timestamp, ids safe-cast to string, price to double."""
    return summary.selectExpr(*STG_SUMMARY_EXPRS)


def stg_summary_date_range(
    stg: DataFrame, current_date: Column | None = None
) -> DataFrame:
    """Event-date min/max (ref ``stg_summary_date_range.sql``). The
    reference reads BigQuery partition metadata; the Spark-first
    equivalent is min/max over the partition column, served by parquet
    footer stats. NULL bounds coalesce to the current date (pass
    ``current_date`` to pin it in tests)."""
    today = current_date if current_date is not None else F.current_date()
    return stg.agg(
        F.coalesce(F.min(F.to_date("event_timestamp")), today).alias("start_date"),
        F.coalesce(F.max(F.to_date("event_timestamp")), today).alias("end_date"),
    )


def dim_customer(stg: DataFrame) -> DataFrame:
    """SCD-1 customer dim (ref ``dim_customer.sql``): distinct grain →
    newest record per customer_source_id. Tiebreakers (email, device)
    make BigQuery's arbitrary tie choice deterministic."""
    distinct = (
        stg.filter(F.col("customer_source_id").isNotNull())
        .select("customer_source_id", "email_address", "device_id", "event_timestamp")
        .distinct()
    )
    w = Window.partitionBy("customer_source_id").orderBy(
        F.desc_nulls_last("event_timestamp"),
        F.desc_nulls_last("email_address"),
        F.desc_nulls_last("device_id"),
    )
    return (
        distinct.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            surrogate_key("customer_source_id").alias("customer_key"),
            "customer_source_id",
            "email_address",
            "device_id",
            F.to_date("event_timestamp").alias("insert_date"),
        )
    )


def dim_location(ip_locations: DataFrame) -> DataFrame:
    """SCD-1 geo dim (ref ``dim_location.sql``): newest record per
    ip_address; epoch-seconds insert_date → timestamp."""
    w = Window.partitionBy("ip_address").orderBy(
        F.desc_nulls_last("insert_date"),
        F.desc_nulls_last("city_name"),
        F.desc_nulls_last("country_code"),
    )
    return (
        ip_locations.select(
            "ip_address",
            "city_name",
            "country_code",
            "country_name",
            "region_name",
            F.col("processed_at").alias("insert_date"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            surrogate_key("ip_address").alias("location_key"),
            "ip_address",
            "city_name",
            "country_code",
            "country_name",
            "region_name",
            F.timestamp_seconds("insert_date").alias("insert_timestamp"),
        )
    )


def dim_product(product_details: DataFrame) -> DataFrame:
    """Product dim (ref ``dim_product.sql``): straight projection + key;
    crawled_at ISO string cast to timestamp."""
    return product_details.select(
        surrogate_key("product_id").alias("product_key"),
        F.col("product_id").alias("product_source_id"),
        "product_name",
        F.col("price").alias("list_price"),
        F.col("currency").alias("currency_code"),
        "category",
        "category_path",
        "description",
        "image_url",
        "rating",
        safe_cast("crawled_at", "timestamp").alias("insert_timestamp"),
    )


def dim_session_context(stg: DataFrame) -> DataFrame:
    """Composite-key session dim (ref ``dim_session_context.sql``):
    7-column distinct, keeping rows where ip or user_agent is present."""
    distinct = (
        stg.filter(
            F.col("ip_address").isNotNull() | F.col("user_agent").isNotNull()
        )
        .select(*SESSION_COLS)
        .distinct()
    )
    return distinct.select(
        surrogate_key(*SESSION_COLS).alias("session_context_key"), *SESSION_COLS
    )


def dim_date(date_range: DataFrame) -> DataFrame:
    """Generated date dim (ref ``dim_date.sql``): spine over
    [start-30d, end+30d) via sequence+explode (replaces dbt date_spine's
    global-window series — distributed, no shuffle), then BigQuery-parity
    date parts including Sunday-week-0 ``calendar_week``.

    dbt_utils.date_spine is EXCLUSIVE of its end_date, so the last row
    is end+29d — Spark's ``sequence`` is end-inclusive, hence the +29
    upper bound here (round-1 ADVICE parity fix)."""
    spine = date_range.select(
        F.explode(
            F.sequence(
                F.date_sub(F.least("start_date", "end_date"), 30),
                F.date_add(F.greatest("start_date", "end_date"), 29),
                F.expr("interval 1 day"),
            )
        ).alias("date_day")
    )
    d = F.col("date_day")
    return spine.select(
        date_key(d).alias("date_key"),
        d.alias("full_date"),
        F.dayofmonth(d).alias("day_of_month"),
        F.month(d).alias("month_of_year"),
        F.year(d).alias("calendar_year"),
        F.quarter(d).alias("calendar_quarter"),
        F.date_format(d, "EEEE").alias("day_name"),
        F.date_format(d, "EEE").alias("day_name_short"),
        F.date_format(d, "MMMM").alias("month_name"),
        F.date_format(d, "MMM").alias("month_name_short"),
        F.dayofweek(d).alias("day_of_week"),
        bq_week(d).cast("long").alias("calendar_week"),
        is_weekend(d).alias("is_weekend"),
    )


def fact_sales_order(
    stg: DataFrame,
    product: DataFrame,
    customer: DataFrame,
    location: DataFrame,
    date: DataFrame,
    session: DataFrame,
) -> DataFrame:
    """5-way left-join fact (ref ``fact_sales_order.sql``): order grain,
    '-1' defaults for unmatched FKs, `=` null-miss join semantics.

    Only the *bounded* dims carry an explicit broadcast hint:
    ``dim_date`` (|days| rows forever) and ``dim_product`` (catalog-
    bounded). ``dim_session_context``, ``dim_customer`` and
    ``dim_location`` all grow with the raw event stream (the session
    dim is a 7-column DISTINCT over it; the reference's own corpus has
    3.2M distinct IPs) — forcing those into broadcast OOMs executors at
    100× scale, so AQE decides from runtime stats instead: at small SF
    it still picks broadcast-hash, at web scale it falls back to
    shuffled-hash on the join keys."""
    # Each side is aliased ABOVE its broadcast hint, so the line under
    # every ResolvedHint in the analyzed plan is the dim's projection;
    # the session dim's columns take an sc_ prefix, so its seven-column
    # condition names them unqualified.
    f = stg.filter("order_source_id IS NOT NULL").alias("f")
    on_session = " AND ".join(f"f.{c} = sc_{c}" for c in SESSION_COLS)
    j = (
        f.join(
            F.broadcast(
                product.selectExpr("product_key", "product_source_id")
            ).alias("p"),
            F.expr("f.product_source_id = p.product_source_id"),
            "left",
        )
        .join(
            customer.selectExpr("customer_key", "customer_source_id").alias("c"),
            F.expr("f.customer_source_id = c.customer_source_id"),
            "left",
        )
        .join(
            location.selectExpr("location_key", "ip_address").alias("l"),
            F.expr("f.ip_address = l.ip_address"),
            "left",
        )
        .join(
            F.broadcast(date.selectExpr("date_key", "full_date")).alias("d"),
            F.expr("to_date(f.event_timestamp) = d.full_date"),
            "left",
        )
        .join(
            session.selectExpr(
                "session_context_key", *(f"{c} AS sc_{c}" for c in SESSION_COLS)
            ),
            F.expr(on_session),
            "left",
        )
    )
    sales_order_key = surrogate_key_sql(
        "cast(f.order_source_id AS string)", "cast(f.product_source_id AS string)"
    )
    return j.selectExpr(
        f"{sales_order_key} AS sales_order_key",
        "coalesce(product_key, '-1') AS product_key",
        "coalesce(customer_key, '-1') AS customer_key",
        "coalesce(location_key, '-1') AS location_key",
        "coalesce(session_context_key, '-1') AS session_context_key",
        "coalesce(date_key, cast(-1 AS bigint)) AS date_key",
        "f.price AS sales_amount",
        "f.order_source_id",
        "f.ip_address",
        "f.local_time",
        "f.currency",
        "f.event_timestamp AS order_timestamp",
    )


def build_star(
    summary: DataFrame,
    ip_locations: DataFrame,
    product_details: DataFrame,
    current_date: Column | None = None,
) -> dict[str, DataFrame]:
    """Evaluate the full model DAG in dbt's topological order; returns
    every model keyed by its dbt name. All frames are lazy."""
    stg = stg_summary(summary)
    rng = stg_summary_date_range(stg, current_date)
    models = {
        "stg_summary": stg,
        "stg_summary_date_range": rng,
        "dim_customer": dim_customer(stg),
        "dim_location": dim_location(ip_locations),
        "dim_product": dim_product(product_details),
        "dim_session_context": dim_session_context(stg),
        "dim_date": dim_date(rng),
    }
    models["fact_sales_order"] = fact_sales_order(
        stg,
        models["dim_product"],
        models["dim_customer"],
        models["dim_location"],
        models["dim_date"],
        models["dim_session_context"],
    )
    return models

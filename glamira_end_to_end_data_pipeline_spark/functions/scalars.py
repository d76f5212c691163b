"""Scalar function library (SURVEY.md §2.8, F1-F26).

Every function here is a pure ``Column`` expression — JVM-side,
whole-stage-codegen friendly, zero Python in the executor hot path.
The reference implemented these as BigQuery SQL / dbt macros / ad-hoc
Python string munging; here they are first-class reusable expressions.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# casts / keys
# ---------------------------------------------------------------------------

_DBT_NULL_SENTINEL = "_dbt_utils_surrogate_key_null_"


def safe_cast(col: Column | str, to: str) -> Column:
    """F2 — BigQuery ``SAFE_CAST``: cast, NULL on failure
    (ref ``stg_summary.sql:10-12,28``)."""
    return (F.col(col) if isinstance(col, str) else col).try_cast(to)


def surrogate_key(*exprs: str) -> Column:
    """F4 — byte-exact ``dbt_utils.generate_surrogate_key``:
    ``md5(concat_ws('-', coalesce(cast(f as string), sentinel), ...))``
    (dbt_utils 1.3.2 macro, invoked in every ref dim/fact, e.g.
    ``fact_sales_order.sql:28-31``). Key equality across engines requires
    the exact same string bytes, so NULLs become the dbt sentinel.

    ``exprs`` are SQL expression texts (a column name is one); the key is
    ONE ``F.expr``, the macro's own language, so it costs a single parse
    instead of a py4j round trip per ``Column`` node."""
    return F.expr(surrogate_key_sql(*exprs))


def surrogate_key_sql(*exprs: str) -> str:
    """:func:`surrogate_key` as SQL text, for ``selectExpr`` projections."""
    parts = ", ".join(
        f"coalesce(cast({e} AS string), '{_DBT_NULL_SENTINEL}')" for e in exprs
    )
    return f"md5(concat_ws('-', {parts}))"


def stable_id_hash(*cols: Column | str) -> Column:
    """F24 — stable replay-idempotency id: ``abs(hash((uri, table)))``
    (ref ``trigger_bigquery_load.py:92-94``). xxhash64 for 64-bit space."""
    return F.abs(F.xxhash64(*[F.col(c) if isinstance(c, str) else c for c in cols]))


# ---------------------------------------------------------------------------
# dates (dim_date parts)
# ---------------------------------------------------------------------------


def date_key(d: Column | str) -> Column:
    """F8 — int64 yyyymmdd key (ref ``dim_date.sql:14``)."""
    d = F.col(d) if isinstance(d, str) else d
    return F.date_format(d, "yyyyMMdd").cast("long")


def is_weekend(d: Column | str) -> Column:
    """F9 — BigQuery dayofweek in (1,7) = Sunday/Saturday
    (ref ``dim_date.sql:26``); Spark dayofweek is also 1=Sunday."""
    d = F.col(d) if isinstance(d, str) else d
    return F.dayofweek(d).isin(1, 7)


def bq_week(d: Column | str) -> Column:
    """F6 — BigQuery ``EXTRACT(WEEK FROM d)``: weeks begin on Sunday and
    dates before the year's first Sunday are week 0 (≠ Spark's ISO
    ``weekofyear``; ref ``dim_date.sql:25``).

    first_sunday_doy = 1 + (8 - dayofweek(jan1)) mod 7   [dayofweek 1=Sun]
    week(d) = 0                                   if doy <  first_sunday
            = (doy - first_sunday) / 7 + 1        otherwise
    """
    d = F.col(d) if isinstance(d, str) else d
    jan1 = F.trunc(d, "year")
    first_sunday = F.lit(1) + (F.lit(8) - F.dayofweek(jan1)) % 7
    doy = F.dayofyear(d)
    return F.when(doy < first_sunday, F.lit(0)).otherwise(
        F.floor((doy - first_sunday) / 7) + 1
    )


# ---------------------------------------------------------------------------
# strings (crawler parsing, F13-F22)
# ---------------------------------------------------------------------------


def ws_normalize(s: Column | str) -> Column:
    """F13 — collapse whitespace runs, trim, empty→NULL
    (ref ``product_crawler.py:235-240``)."""
    s = F.col(s) if isinstance(s, str) else s
    return F.nullif(F.trim(F.regexp_replace(s, r"\s+", " ")), F.lit(""))


_TITLE_SUFFIXES = r"(?i)\s*[|\-]\s*(glamira|buy|shop|kaufen).*$"


def clean_product_name(s: Column | str) -> Column:
    """F14 — strip marketing title suffixes ('| GLAMIRA...', '- Buy ...'),
    NULL if what remains is ≤2 chars (ref ``product_crawler.py:243-257``:
    separator `[|-]` + keyword, case-insensitive, then len>2 gate)."""
    s = ws_normalize(s)
    cleaned = F.trim(F.regexp_replace(s, _TITLE_SUFFIXES, ""))
    return F.when(F.length(cleaned) > 2, cleaned)


def parse_locale_price(s: Column | str) -> Column:
    """F15 — locale-aware price parse (ref ``product_crawler.py:260-281``).

    Strip everything but digits/','/'.'; decide decimal separator by the
    *last* separator position: ``1.234,56`` (EU) → 1234.56,
    ``1,234.56`` (US) → 1234.56; a lone comma is a decimal comma.
    Pure column expr — no UDF.
    """
    s = F.col(s) if isinstance(s, str) else s
    t = F.regexp_replace(s, r"[^0-9.,]", "")
    last_dot = F.length(t) - F.length(F.substring_index(t, ".", -1))
    last_comma = F.length(t) - F.length(F.substring_index(t, ",", -1))
    has_dot = t.contains(".")
    has_comma = t.contains(",")
    # EU when the comma is the rightmost separator (or the only one).
    eu = (has_comma & ~has_dot) | (has_comma & has_dot & (last_comma > last_dot))
    normalized = F.when(
        eu, F.regexp_replace(F.regexp_replace(t, r"\.", ""), ",", ".")
    ).otherwise(F.regexp_replace(t, ",", ""))
    return F.nullif(normalized, F.lit("")).try_cast("double")


def rating_value(s: Column | str) -> Column:
    """F16 — first numeric token in rating text ('4.8 Sterne' → 4.8)
    (ref ``product_crawler.py:284-295``)."""
    s = F.col(s) if isinstance(s, str) else s
    return F.nullif(F.regexp_extract(s, r"(\d+\.?\d*)", 1), F.lit("")).try_cast("double")


def domain_of(url: Column | str) -> Column:
    """F17 — netloc minus leading 'www.' (ref ``product_crawler.py:214-225``)."""
    url = F.col(url) if isinstance(url, str) else url
    return F.regexp_replace(F.parse_url(url, F.lit("HOST")), r"^www\.", "")


def truncate_text(s: Column | str, n: int = 500) -> Column:
    """F19 — description[:n] (ref ``product_crawler.py:454``)."""
    s = F.col(s) if isinstance(s, str) else s
    return F.substring(s, 1, n)


def nullify_sentinel(s: Column | str, sentinel: str = "-") -> Column:
    """F20 — IP2Location '-' placeholder → NULL (ref ``ip_processor.py:167-170``)."""
    s = F.col(s) if isinstance(s, str) else s
    return F.nullif(s, F.lit(sentinel))


def breadcrumb_join(a: Column | str, sep: str = " > ") -> Column:
    """F21 — ' > '.join(categories) (ref ``product_crawler.py:426-430``)."""
    a = F.col(a) if isinstance(a, str) else a
    return F.array_join(a, sep)


def breadcrumb_leaf(a: Column | str) -> Column:
    """F21 — categories[-1] (ref ``product_crawler.py:426-430``)."""
    a = F.col(a) if isinstance(a, str) else a
    return F.element_at(a, -1)


# ---------------------------------------------------------------------------
# network (geo range join support)
# ---------------------------------------------------------------------------


def ip_to_int(ip: Column | str) -> Column:
    """F26 — dotted-quad IPv4 → uint32-as-long, NULL on malformed input
    (the integer IP2Location binary-searches internally;
    ref ``ip_processor.py:163``). Pure expression: fold the 4 octets."""
    ip = F.col(ip) if isinstance(ip, str) else ip
    valid = ip.rlike(r"^\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}$")
    octets = F.split(ip, r"\.")
    folded = F.aggregate(
        F.transform(octets, lambda x: x.cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc * 256 + x,
    )
    all_in_range = F.forall(
        F.transform(octets, lambda x: x.cast("long")), lambda o: (o >= 0) & (o <= 255)
    )
    return F.when(valid & all_in_range, folded)

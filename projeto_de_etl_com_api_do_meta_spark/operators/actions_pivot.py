"""Actions pivot (SURVEY §2.5 R1): list<struct<action_type,value>> -> wide
numeric columns, replacing the reference's per-row ``iterrows`` loop
(transform.py:22-39) with JVM-side array expressions.

Two variants:
- ``normalize_actions_fixed``   : fixed whitelist schema — one ``transform``
  sanitizes every entry's type once, then per-column
  ``element_at(filter(...), -1)`` extraction (last occurrence wins, matching
  the reference's dict-overwrite order), all in SQL expressions.
  Shuffle-free, schema known at plan time — the 100 TB default.
- ``normalize_actions_dynamic`` : explode + pivot — column set discovered
  from the data (costs an extra values-scan job), kept for parity with the
  reference's data-dependent schema (SURVEY §1.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.conform import count_sql, quote

#: Whitelisted action columns (already '.'-sanitized), mirroring the
#: reference's ALLOWED_ACTION_COLUMNS contract (transform.py:7-18).
ALLOWED_ACTION_COLUMNS: tuple[str, ...] = (
    "lead",
    "purchase",
    "link_click",
    "page_engagement",
    "post_engagement",
    "video_view",
    "comment",
    "offsite_complete_registration_add_meta_leads",
    "onsite_conversion_lead_grouped",
    "offsite_search_add_meta_leads",
    "offsite_content_view_add_meta_leads",
    "onsite_conversion_messaging_first_reply",
    "onsite_conversion_messaging_conversation_started_7d",
    "onsite_conversion_total_messaging_connection",
    "onsite_conversion_messaging_conversation_replied_7d",
    "offsite_conversion_fb_pixel_lead",
    "offsite_conversion_fb_pixel_purchase",
    "onsite_conversion_messaging_block",
)

#: Required metric columns backfilled with 0 when absent (transform.py:45-49).
REQUIRED_METRICS: tuple[str, ...] = ("spend", "clicks", "impressions", "lead", "purchase")

#: Key/dimension columns never numerically coerced (transform.py:42).
NON_COUNT_COLS: tuple[str, ...] = (
    "date_start",
    "date_stop",
    "ad_id",
    "adset_id",
    "campaign_id",
    "age",
    "gender",
    "region",
    "spend",
)


#: Working column holding the sanitized action list between the two
#: projections of ``normalize_actions_fixed``.
_SANITIZED = "__actions_sanitized"


def _last_count_expr(name: str) -> str:
    """Value of the LAST sanitized entry named ``name`` (the reference's
    later-entries-overwrite semantics), floored to a count; absent or
    unparseable -> 0."""
    literal = name.replace("\\", "\\\\").replace("'", "\\'")
    last = f"element_at(filter({_SANITIZED}, a -> a.t = '{literal}'), -1).v"
    return f"{count_sql(last)} AS {quote(name)}"


def normalize_actions_fixed(
    df: DataFrame,
    whitelist: tuple[str, ...] = ALLOWED_ACTION_COLUMNS,
    actions_col: str = "actions",
) -> DataFrame:
    """Fixed-schema pivot: one numeric column per whitelisted action type,
    absent/unparseable -> 0 (coerce semantics, transform.py:51-61).

    Non-whitelisted action types are dropped — the whitelist projection the
    reference applies at final-column selection (transform.py:152).  Two
    projections whatever the whitelist's length: the first sanitizes each
    entry's type ('.' -> '_', transform.py:35) once, the second extracts
    every whitelisted column from that list.  A NULL list, like an empty
    one, gives 0 everywhere."""
    keep = [quote(c) for c in df.columns if c != actions_col]
    sanitized = df.selectExpr(
        *keep,
        f"transform({quote(actions_col)}, a -> named_struct("
        f"'t', replace(a.action_type, '.', '_'), 'v', a.value)) AS {_SANITIZED}",
    )
    return sanitized.selectExpr(*keep, *[_last_count_expr(n) for n in whitelist])


def normalize_actions_dynamic(
    df: DataFrame,
    keys: list[str],
    actions_col: str = "actions",
) -> DataFrame:
    """Dynamic pivot: column set = distinct sanitized action types present in
    the data (two jobs: values scan + pivot).  Matches the reference's
    inferred, data-dependent schema; null cells -> 0."""
    exploded = df.select(
        *keys, F.explode_outer(actions_col).alias("_a")
    ).select(
        *keys,
        F.when(
            F.col("_a").isNotNull(), F.regexp_replace(F.col("_a")["action_type"], r"\.", "_")
        ).alias("_type"),
        F.col("_a")["value"].alias("_value"),
    )
    pivoted = (
        exploded.groupBy(*keys)
        .pivot("_type")
        .agg(
            F.coalesce(
                F.floor(F.last("_value").try_cast("double")).cast("long"), F.lit(0)
            )
        )
    )
    dropped = pivoted.drop("null")  # rows with empty/NULL actions lists
    value_cols = [c for c in dropped.columns if c not in keys]
    return dropped.select(
        *keys, *[F.coalesce(F.col(f"`{c}`"), F.lit(0)).alias(c) for c in value_cols]
    )

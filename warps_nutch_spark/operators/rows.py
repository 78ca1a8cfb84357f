"""Frontier row construction with schema defaults.

The reference builds new WebPage rows in ``crawl/SeedBuilder.java``
(seeds) and ``dbupdate/ReduceDatumBuilder.java:76-96`` (discovered
outlinks); this module centralizes the Spark equivalent so every
operator produces schema-complete rows for the mechanical MERGE.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import schema
from ..config import CrawlConfig
from ..functions import urls
from ..functions.status import CrawlStatus


#: CrawlFilter.java:48-151 sniffPageCategoryByUrlPattern as SQL text;
#: Spark SQL unescapes string literals, hence the doubled backslashes
_PAGE_CATEGORY_SQL = r"""CASE
  WHEN `{url}` RLIKE '://[^/]+/?$' OR `{url}` RLIKE '/(index|default)[^/]*$' THEN 'INDEX'
  WHEN `{url}` RLIKE '/search([/?#]|$)' OR `{url}` RLIKE '[?&](q|query|s|search)=' THEN 'SEARCH'
  WHEN `{url}` RLIKE '/media/' OR `{url}` RLIKE '\\.(jpg|jpeg|png|gif|mp4|webm)$' THEN 'MEDIA'
  WHEN `{url}` RLIKE '/detail/' OR `{url}` RLIKE '/[a-z]+/\\d+([/.?#]|$)' THEN 'DETAIL'
  ELSE 'UNKNOWN' END"""


def page_category_col(url: str) -> Column:
    """Page-category classifier (CrawlFilter.java:48-151
    sniffPageCategoryByUrlPattern): regex rules over the path of the
    URL column named ``url``, as one SQL ``CASE``: SQL text costs a
    few Py4J round trips to build, where every ``rlike`` and ``when``
    Column call costs several."""
    return F.expr(_PAGE_CATEGORY_SQL.format(url=url))


def frontier_defaults(cfg: CrawlConfig, now_ms: int) -> dict[str, Column]:
    """Schema default of every frontier column except url/url_hash/host:
    the row a discovered URL starts from (ReduceDatumBuilder.java:76-96).
    A column not listed here defaults to null of its frontier type."""
    non_null = {
        "status": F.lit(CrawlStatus.UNFETCHED),
        "fetch_time": F.lit(now_ms),
        "prev_fetch_time": F.lit(0).cast("long"),
        "modified_time": F.lit(0).cast("long"),
        "prev_modified_time": F.lit(0).cast("long"),
        "fetch_interval": F.lit(cfg.default_fetch_interval_sec),
        "retries_since_fetch": F.lit(0),
        "score": F.lit(0.0).cast("float"),
        "cash": F.lit(0.0).cast("float"),
        "distance": F.lit(0),
        "priority": F.lit(cfg.priority_default),
        "is_seed": F.lit(False),
    }
    return {
        f.name: non_null.get(f.name, F.lit(None).cast(f.dataType))
        for f in schema.FRONTIER.fields
        if f.name not in ("url", "url_hash", "host")
    }


def complete_rows(df: DataFrame, cfg: CrawlConfig, now_ms: int) -> DataFrame:
    """Fill every missing frontier column with its schema default, in
    one projection over ``schema.FRONTIER``. ``df`` must already have
    ``url``; url_hash/host are derived if absent."""
    have = set(df.columns)
    defaults = {
        "url_hash": urls.url_hash_col(F.col("url")),
        "host": urls.host_col(F.col("url")),
        **frontier_defaults(cfg, now_ms),
    }
    return df.select(*(
        F.col(f.name).cast(f.dataType).alias(f.name) if f.name in have
        else defaults[f.name].alias(f.name)
        for f in schema.FRONTIER.fields
    ))

"""Web-table readers and the host-table builder.

Reference mapping:
- S9 ``WebTableReader`` (``mapreduce/WebTableReader.java``):
  - stats: counts by status + score quantiles (lines 68-160),
  - regex dump (lines 253-300),
  - single-key get (lines 216-246);
- S10 ``HostDbUpdateJob``/``HostDbUpdateReducer`` (``host/``): rebuild
  the host dimension table from frontier rows.

All are declarative DataFrame ops over the frontier store — the point
lookups of the reference become pushed-down predicates (Catalyst
prunes the host_bucket partition for host-scoped scans).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import urls
from ..functions.status import status_name_col


def frontier_stats(frontier: DataFrame) -> DataFrame:
    """WebTableReader -stats: one row per status code, with the
    status's name, its row count and its min/max/avg score. The one
    implementation behind ``readdb --stats``, the REST READDB job and
    the ``frontier_status_stats`` driver query."""
    return frontier.groupBy("status").agg(
        status_name_col(F.col("status")).alias("status_name"),
        F.count("*").alias("n"),
        F.round(F.avg("score"), 6).alias("avg_score"),
        F.round(F.min("score"), 6).alias("min_score"),
        F.round(F.max("score"), 6).alias("max_score"),
    )


def dump(frontier: DataFrame, url_regex: str | None = None, columns: list[str] | None = None) -> DataFrame:
    """Regex dump (WebTableReader -dump -regex): predicate stays
    JVM-side via rlike; column pruning via select."""
    out = frontier
    if url_regex:
        out = out.filter(F.col("url").rlike(url_regex))
    if columns:
        out = out.select(*columns)
    return out


def get_url(frontier: DataFrame, url: str) -> DataFrame:
    """Single-row read (WebTableReader -url). Never a driver-side
    loop: an equality predicate the scan pushes down; with the
    host_bucket partitioning, only one bucket is scanned."""
    return frontier.filter(F.col("url_hash") == urls.url_hash(url))


def host_link_stats(frontier: DataFrame) -> DataFrame:
    """Per-host link histograms (HostDbUpdateReducer.java:36-80):
    for each page host, counts of inlinks/outlinks grouped by the
    LINKED host — the host link-db the reference stores as two
    histogram maps per Host row. One explode + one groupBy per
    direction (a single shuffle each); oracle-checked by the
    `host_link_stats` driver query."""
    out = (
        frontier.select(
            "host", F.explode(F.coalesce("outlinks", F.array())).alias("l")
        )
        .select("host", urls.host_col(F.col("l.url")).alias("linked_host"))
        .groupBy("host", "linked_host")
        .agg(F.count("*").alias("n"))
        .withColumn("direction", F.lit("out"))
    )
    inl = (
        frontier.select(
            "host", F.explode(F.coalesce("inlinks", F.array())).alias("l")
        )
        .select("host", urls.host_col(F.col("l.url")).alias("linked_host"))
        .groupBy("host", "linked_host")
        .agg(F.count("*").alias("n"))
        .withColumn("direction", F.lit("in"))
    )
    return out.unionByName(inl)


def build_host_table(frontier: DataFrame) -> DataFrame:
    """HostDb rebuild: per-host aggregates from the frontier
    (HostDbUpdateReducer.java:36-80)."""
    from ..functions.status import CrawlStatus

    return frontier.groupBy("host").agg(
        F.count("*").alias("page_count"),
        F.sum((F.col("status") == CrawlStatus.FETCHED).cast("long")).alias(
            "fetched_count"
        ),
        F.round(F.avg("score"), 6).alias("avg_score"),
        F.sum((F.col("status") == CrawlStatus.GONE).cast("long")).cast("int").alias(
            "failures"
        ),
        F.min("distance").alias("min_distance"),
        F.max(F.col("is_seed").cast("int")).cast("boolean").alias("has_seed"),
    )


def domain_statistics(frontier: DataFrame, mode: str = "domain") -> DataFrame:
    """DomainStatistics tool (``util/domain/DomainStatistics.java``):
    per-key page counts over FETCHED rows — key = host | registered
    domain | suffix (TLD) by ``mode`` — plus the FETCHED / NOT_FETCHED
    totals the mapper emits as pseudo-keys; the reducer inverts the
    pair, so the output is (cnt, key). One map-side-combinable groupBy
    (the MR combiner's role is Spark's partial aggregation)."""
    from ..functions.status import CrawlStatus
    from ..functions.urlfilters import tld_col
    from ..functions.urls import domain_col

    if mode == "host":
        key = F.col("host")
    elif mode == "domain":
        key = domain_col(F.col("host"))
    elif mode == "suffix":
        key = tld_col(F.col("url"))
    else:
        raise ValueError(f"mode must be host|domain|suffix, got {mode!r}")
    fetched = F.col("status") == CrawlStatus.FETCHED
    # the mapper emits BOTH the per-key row and the FETCHED pseudo-key
    # for fetched rows; NOT_FETCHED rows emit only the pseudo-key. A
    # fetched row whose key extraction fails groups under the empty
    # string (the reference still writes it and bumps EMPTY_RESULT) so
    # sum(per-key cnt) always equals the FETCHED total.
    keyed = frontier.filter(fetched).select(
        F.coalesce(key, F.lit("")).alias("key")
    )
    totals = frontier.select(
        F.when(fetched, F.lit("FETCHED")).otherwise(F.lit("NOT_FETCHED")).alias(
            "key"
        )
    )
    rows = keyed.unionByName(totals)
    return rows.groupBy("key").agg(F.count("*").alias("cnt")).select("cnt", "key")

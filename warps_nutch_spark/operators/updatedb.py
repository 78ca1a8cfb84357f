"""Updatedb: outlink explode + OPIC aggregation + frontier MERGE.

Reference dataflow (``mapreduce/DbUpdateJob``, SURVEY.md §3.4):

- R1 explode: each fetched page emits one datum per surviving outlink
  (cap db.max.outlinks=1000) with positional score n-i
  (``dbupdate/MapDatumBuilder.java:151-206``) -> ``posexplode``;
- R2 OPIC distribution: contribution += (cash/n) * internal|external
  factor by same-host test; source cash resets to 0
  (``plugin/scoring-opic/.../OPICScoringFilter.java:140-176``);
- R3/R5 group-by-URL merge: score += sum(inlink contributions), cash
  likewise (``DbUpdateReducer.java:76-105``,
  ``OPICScoringFilter.java:106-137``) -> groupBy(url_hash).agg(sum);
- R4 inlink cap + distance: only the top db.update.max.inlinks=10000
  contributions count; distance = min(inlink distance)+1 if smaller
  (``ReduceDatumBuilder.java:114,162-184``) -> window rank + min agg;
- R6 new-row creation: unseen URL -> UNFETCHED row, initial score 0
  (+contributions), priority FROM_SEED if the linking page was a seed
  (``ReduceDatumBuilder.java:76-96,134-153``) -> a key of the keyed
  fold below with no row side; the URL-seen check is the frontier
  semi-join, pre-screened by the Bloom filter;
- R7-R9 fetch schedule by status (adaptive), retry/gone backoff
  (``ReduceDatumBuilder.java:215-276``) -> CASE WHEN columns;
- R10 mark cleanup (``ReduceDatumBuilder.java:195-213``);
- R11 status counters (``NutchCounter.java:49-71``) -> counted while the
  round driver writes these rows (``functions/status.py::status_counter_cols``).

Scale shape: one keyed merge per URL, as the reference's one reduce
per URL. The round's own rows (fetched pages and the fetchlist rows
the fetch budget dropped) and the existing link targets meet the
aggregated contributions in ONE full outer join on url_hash, consumed
by one projection. The frontier is read once, by a semi-join against
the broadcast link targets that are not own rows; the Bloom pre-screen
keeps definitely-new targets off that broadcast side, so it stays
proportional to the already-known targets, not to all outlinks.
Nothing is persisted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import CrawlConfig
from ..functions import scoring, urls
from ..functions.schedules import (
    STATE_UNKNOWN,
    adaptive_schedule_cols,
    gone_backoff_interval,
    modified_state_col,
)
from ..functions.status import CrawlStatus
from ..store.urlseen import BloomUrlSeen
from .rows import complete_rows, frontier_defaults


def explode_contributions(parsed: DataFrame, cfg: CrawlConfig) -> DataFrame:
    """R1+R2: (to_url_hash, contribution, distance, from_seed)."""
    src = parsed.select(
        F.col("url").alias("from_url"),
        F.col("host").alias("from_host"),
        F.col("cash").alias("from_cash"),
        F.col("distance").alias("from_distance"),
        F.col("is_seed").alias("from_is_seed"),
        F.slice(F.coalesce("outlinks", F.array()), 1, cfg.max_outlinks_exploded).alias(
            "links"
        ),
    ).filter(F.size("links") > 0)
    exploded = src.select(
        "from_url",
        "from_host",
        "from_cash",
        "from_distance",
        "from_is_seed",
        F.size("links").alias("n_links"),
        F.posexplode("links").alias("pos", "link"),
    )
    to_url = F.col("link.url")
    contrib = scoring.outlink_contribution(
        F.col("from_cash"),
        F.col("n_links"),
        F.col("pos"),
        F.col("from_host"),
        urls.host_col(to_url),
        cfg,
    )
    return exploded.select(
        to_url.alias("to_url"),
        urls.url_hash_col(to_url).alias("to_url_hash"),
        urls.host_col(to_url).alias("to_host"),
        contrib.alias("contribution"),
        (F.col("from_distance") + 1).alias("inlink_distance"),
        F.col("from_is_seed").alias("from_seed"),
        F.col("from_url"),
        F.coalesce(F.col("link.anchor"), F.lit("")).alias("from_anchor"),
    )


def aggregate_contributions(contribs: DataFrame, cfg: CrawlConfig) -> DataFrame:
    """R3-R5: per-URL inlink aggregation with the max-inlinks cap
    (top contributions first, mirroring the score-desc secondary sort
    ``crawl/UrlWithScore.java:118-188``)."""
    win = Window.partitionBy("to_url_hash").orderBy(
        F.desc("contribution"), F.asc("from_url")
    )
    capped = contribs.withColumn("rk", F.row_number().over(win)).filter(
        F.col("rk") <= cfg.max_inlinks
    )
    # capped inlink (url, anchor) state, best-contribution-first
    # (webpage.avsc inlinks map; ReduceDatumBuilder keeps the map of
    # the round's inlinks). Storage cap separate from the scoring cap:
    # at 10^10 rows you cannot persist 10^4 inlinks per URL.
    inlink_structs = F.slice(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        (-F.col("contribution")).alias("neg"),
                        F.col("from_url").alias("url"),
                        F.col("from_anchor").alias("anchor"),
                    )
                )
            ),
            lambda s: F.struct(
                s.getField("url").alias("url"), s.getField("anchor").alias("anchor")
            ),
        ),
        1,
        cfg.max_stored_inlinks,
    )
    return capped.groupBy("to_url_hash").agg(
        F.first("to_url").alias("to_url"),
        F.first("to_host").alias("to_host"),
        F.sum("contribution").cast("float").alias("inlink_sum"),
        F.min("inlink_distance").alias("min_inlink_distance"),
        F.max(F.col("from_seed").cast("int")).cast("boolean").alias("any_from_seed"),
        inlink_structs.alias("inlinks"),
    )


def updated_fetched_rows(
    parsed: DataFrame, cfg: CrawlConfig, now_ms: int, batch_id: str
) -> DataFrame:
    """R7-R10 for the fetched pages themselves: schedule by status,
    signature rotation, cash reset (OPIC distribute), mark cleanup."""
    # `signature` is the OLD frontier value; parse computed the new one
    # into `new_signature` (SignatureComparator semantics: prev missing
    # -> UNKNOWN, equal -> NOTMODIFIED, different -> MODIFIED)
    df = parsed.withColumn(
        "mod_state",
        F.when(
            F.col("new_status").isin(
                CrawlStatus.FETCHED, CrawlStatus.REDIR_PERM, CrawlStatus.REDIR_TEMP
            )
            & F.col("new_signature").isNotNull(),
            modified_state_col(F.col("new_signature"), F.col("signature")),
        ).otherwise(F.lit(STATE_UNKNOWN)),
    )
    new_fetch_time, new_interval = adaptive_schedule_cols(
        F.col("fetch_ts"),
        F.col("fetch_ts"),  # modified_time unknown in simulation -> fetch time
        F.col("fetch_interval"),
        F.col("mod_state"),
        cfg,
    )
    is_fetch_like = F.col("new_status").isin(
        CrawlStatus.FETCHED,
        CrawlStatus.REDIR_PERM,
        CrawlStatus.REDIR_TEMP,
        CrawlStatus.NOTMODIFIED,
    )
    is_retry = F.col("new_status") == CrawlStatus.RETRY
    retry_exhausted = is_retry & (
        F.col("retries_since_fetch") + 1 >= F.lit(cfg.max_retries)
    )
    is_gone = (F.col("new_status") == CrawlStatus.GONE) | retry_exhausted

    out = (
        df.withColumn(
            "status",
            F.when(is_gone, F.lit(CrawlStatus.GONE)).otherwise(F.col("new_status")),
        )
        .withColumn("prev_fetch_time", F.col("fetch_time"))
        .withColumn(
            "fetch_time",
            F.when(is_fetch_like, new_fetch_time)
            .when(is_retry & ~retry_exhausted, F.lit(now_ms) + F.col("fetch_interval").cast("long") * 1000)
            .otherwise(F.lit(now_ms) + F.col("fetch_interval").cast("long") * 1000),
        )
        .withColumn(
            "fetch_interval",
            F.when(is_fetch_like, new_interval)
            .when(is_gone, gone_backoff_interval(F.col("fetch_interval"), cfg))
            .otherwise(F.col("fetch_interval")),
        )
        .withColumn(
            "retries_since_fetch",
            F.when(is_retry, F.col("retries_since_fetch") + 1).otherwise(F.lit(0)),
        )
        .withColumn("prev_signature", F.col("signature"))
        .withColumn("signature", F.coalesce(F.col("new_signature"), F.col("signature")))
        .withColumn("cash", F.lit(0.0).cast("float"))  # OPIC distribute reset
        .withColumn(
            "protocol_status",
            F.struct(
                F.col("proto_code").alias("code"),
                F.array().cast("array<string>").alias("args"),
                F.col("fetch_ts").alias("last_modified"),
            ),
        )
        .withColumn("modified_time", F.col("fetch_ts"))
        .withColumn("fetched_batch", F.lit(batch_id))
        .withColumn("parsed_batch", F.lit(batch_id))
        .withColumn("updated_batch", F.lit(batch_id))
        .withColumn("generated_batch", F.lit(None).cast("string"))  # R10 clear marks
    )
    return out


def updatedb(
    frontier: DataFrame,
    fetchlist: DataFrame,
    parsed: DataFrame,
    cfg: CrawlConfig,
    now_ms: int,
    batch_id: str,
    urlseen: BloomUrlSeen | None = None,
) -> DataFrame:
    """The round's merge rows, full frontier-schema rows keyed by
    url_hash: the fetched pages, the fetchlist rows the fetch budget
    dropped, the existing link targets and the newly discovered URLs.
    ``fetchlist`` is the round's generate artifact and ``parsed`` the
    rows the round fetched from it."""
    cols = frontier.columns
    agg = aggregate_contributions(explode_contributions(parsed, cfg), cfg)

    # own rows: the fetched pages take their prior inlinks / repr_url
    # from the fetchlist (that state does not ride through the fetch
    # UDF); fetchlist rows with no parsed row were dropped by the fetch
    # budget and stay as generated, GENERATE_MARK included
    # (FeederThread drain semantics)
    prior = fetchlist.select("url_hash", "inlinks", F.col("repr_url").alias("_prev_repr"))
    fetched = updated_fetched_rows(parsed, cfg, now_ms, batch_id).join(
        prior, on="url_hash", how="left"
    )
    # reprUrl on redirect (URLUtil.chooseRepr, TaskScheduler.java:731-774)
    redirected = F.col("new_status").isin(
        CrawlStatus.REDIR_PERM, CrawlStatus.REDIR_TEMP
    ) & (F.size(F.coalesce("outlinks", F.array())) > 0)
    fetched = fetched.withColumn(
        "repr_url",
        F.when(
            redirected,
            urls.choose_repr_col(
                F.col("url"),
                F.element_at("outlinks", 1).getField("url"),
                F.col("new_status") == CrawlStatus.REDIR_TEMP,
            ),
        ).otherwise(F.col("_prev_repr")),
    )
    dropped = fetchlist.join(parsed.select("url_hash"), on="url_hash", how="left_anti")
    own = complete_rows(fetched, cfg, now_ms).select(*cols).unionByName(dropped.select(*cols))

    # existing link targets: the one frontier lookup. The Bloom
    # pre-screen (R6 URL-seen) keeps definitely-new targets off the
    # broadcast side; the semi-join itself is the exact check.
    own_keys = fetchlist.select("url_hash").unionByName(parsed.select("url_hash"))
    targets = agg.select(F.col("to_url_hash").alias("url_hash")).join(
        own_keys, on="url_hash", how="left_anti"
    )
    if urlseen is not None:
        targets = urlseen.maybe_seen(targets, "url_hash").filter("maybe_seen").drop("maybe_seen")
    existing = frontier.join(F.broadcast(targets), on="url_hash", how="left_semi")

    # R3-R6 as one keyed fold: a row side meets its aggregated inlinks;
    # a key with no row side is a newly discovered URL
    rows = own.unionByName(existing)
    inl = agg.withColumnRenamed("inlinks", "_new_inlinks")
    joined = rows.join(
        inl,
        rows["url_hash"] == inl["to_url_hash"],
        "full" if cfg.additions_allowed else "left",
    )
    hit = F.col("to_url_hash").isNotNull()
    folded = {
        "score": scoring.updated_score(F.col("score"), F.col("inlink_sum")),
        "cash": scoring.updated_cash(F.col("cash"), F.col("inlink_sum")),
        "distance": F.least(F.col("distance"), F.col("min_inlink_distance")),
        "inlinks": F.coalesce(F.col("_new_inlinks"), F.col("inlinks")),
        "updated_batch": F.when(hit, F.lit(batch_id)).otherwise(F.col("updated_batch")),
    }
    new = {
        **frontier_defaults(cfg, now_ms),
        "url": F.col("to_url"),
        "url_hash": F.col("to_url_hash"),
        "host": F.col("to_host"),
        "score": F.col("inlink_sum").cast("float"),
        "cash": F.col("inlink_sum").cast("float"),
        "distance": F.col("min_inlink_distance"),
        "inlinks": F.col("_new_inlinks"),
        "priority": F.when(F.col("any_from_seed"), F.lit(cfg.priority_from_seed)).otherwise(
            F.lit(cfg.priority_default)
        ),
        "updated_batch": F.lit(batch_id),
    }
    absent = F.col("url_hash").isNull()
    return joined.select(
        *(F.when(absent, new[c]).otherwise(folded.get(c, F.col(c))).alias(c) for c in cols)
    )

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
per URL. The round's own rows are its fetchlist: one left join adds
each fetched page's parse results (status, fetch time, signature,
outlinks, decode columns) and one projection applies R7-R10 to it, as
the reference's fetcher writes its results into the webtable row that
DbUpdateReducer then reads (SURVEY.md §3.4). A fetchlist row the fetch
budget dropped has no parse results and stays as generated. The own
rows and the existing link targets meet the aggregated contributions
in ONE full outer join on url_hash, consumed by one projection. The
frontier is read once, by a semi-join against the broadcast link
targets that are not fetchlist rows; the Bloom pre-screen keeps
definitely-new targets off that broadcast side, so it stays
proportional to the already-known targets, not to all outlinks.
Nothing is persisted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import schema
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
from .rows import frontier_defaults


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


#: the parsed fetch result's columns: all a fetch adds to a row. The
#: rest of a fetched row's state is its fetchlist row's
_RESULT_COLS = (
    "proto_code", "new_status", "fetch_ts", "new_signature",
    "outlinks", "image_id", "caption", "phash",
)


def _fetch_updates(cfg: CrawlConfig, now_ms: int, batch_id: str) -> dict:
    """R7-R10 for a fetched page, as Columns over its fetchlist row
    joined with its ``_``-prefixed parse results: schedule by status,
    signature rotation, cash reset (OPIC distribute), reprUrl on
    redirect, mark cleanup. Every expression reads the row's prior
    values."""
    new_status, signature = F.col("_new_status"), F.col("_new_signature")
    fetch_ts, outlinks = F.col("_fetch_ts"), F.col("_outlinks")
    interval = F.col("fetch_interval")
    # `signature` is the OLD frontier value; parse computed the new one
    # (SignatureComparator semantics: prev missing -> UNKNOWN, equal ->
    # NOTMODIFIED, different -> MODIFIED)
    mod_state = F.when(
        new_status.isin(CrawlStatus.FETCHED, CrawlStatus.REDIR_PERM, CrawlStatus.REDIR_TEMP)
        & signature.isNotNull(),
        modified_state_col(signature, F.col("signature")),
    ).otherwise(F.lit(STATE_UNKNOWN))
    # modified_time unknown in simulation -> fetch time
    new_fetch_time, new_interval = adaptive_schedule_cols(
        fetch_ts, fetch_ts, interval, mod_state, cfg
    )
    is_fetch_like = new_status.isin(
        CrawlStatus.FETCHED,
        CrawlStatus.REDIR_PERM,
        CrawlStatus.REDIR_TEMP,
        CrawlStatus.NOTMODIFIED,
    )
    is_retry = new_status == CrawlStatus.RETRY
    retry_exhausted = is_retry & (F.col("retries_since_fetch") + 1 >= F.lit(cfg.max_retries))
    is_gone = (new_status == CrawlStatus.GONE) | retry_exhausted
    return {
        "status": F.when(is_gone, F.lit(CrawlStatus.GONE)).otherwise(new_status),
        "prev_fetch_time": F.col("fetch_time"),
        "fetch_time": F.when(is_fetch_like, new_fetch_time).otherwise(
            F.lit(now_ms) + interval.cast("long") * 1000
        ),
        "fetch_interval": F.when(is_fetch_like, new_interval)
        .when(is_gone, gone_backoff_interval(interval, cfg))
        .otherwise(interval),
        "retries_since_fetch": F.when(is_retry, F.col("retries_since_fetch") + 1).otherwise(
            F.lit(0)
        ),
        "prev_signature": F.col("signature"),
        "signature": F.coalesce(signature, F.col("signature")),
        "cash": F.lit(0.0),  # OPIC distribute reset
        "protocol_status": F.struct(
            F.col("_proto_code").alias("code"),
            F.array().cast("array<string>").alias("args"),
            fetch_ts.alias("last_modified"),
        ),
        "modified_time": fetch_ts,
        "fetched_batch": F.lit(batch_id),
        "parsed_batch": F.lit(batch_id),
        "updated_batch": F.lit(batch_id),
        "generated_batch": F.lit(None),  # R10 clear marks
        # reprUrl on redirect (URLUtil.chooseRepr, TaskScheduler.java:731-774)
        "repr_url": F.when(
            new_status.isin(CrawlStatus.REDIR_PERM, CrawlStatus.REDIR_TEMP)
            & (F.size(F.coalesce(outlinks, F.array())) > 0),
            urls.choose_repr_col(
                F.col("url"),
                F.element_at(outlinks, 1).getField("url"),
                new_status == CrawlStatus.REDIR_TEMP,
            ),
        ).otherwise(F.col("repr_url")),
        "outlinks": outlinks,
        "image_id": F.col("_image_id"),
        "caption": F.col("_caption"),
        "phash": F.col("_phash"),
    }


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
    url_hash: the fetchlist rows (each fetched page updated by its
    fetch, the rows the fetch budget dropped as generated), the
    existing link targets and the newly discovered URLs.
    ``fetchlist`` is the round's generate artifact and ``parsed`` the
    rows the round fetched from it, so its keys are fetchlist keys."""
    cols = frontier.columns
    agg = aggregate_contributions(explode_contributions(parsed, cfg), cfg)

    # own rows: the fetchlist left-joined with the parse results, as the
    # reference's fetcher writes its results into the webtable row. A
    # fetchlist row with no parsed row was dropped by the fetch budget
    # and stays as generated, GENERATE_MARK included (FeederThread
    # drain semantics). Every parsed row has a status.
    results = parsed.select("url_hash", *(F.col(c).alias(f"_{c}") for c in _RESULT_COLS))
    fetched = F.col("_new_status").isNotNull()
    types = {f.name: f.dataType for f in schema.FRONTIER.fields}
    upd = _fetch_updates(cfg, now_ms, batch_id)
    own = fetchlist.join(results, on="url_hash", how="left").select(*(
        F.when(fetched, upd[c].cast(types[c])).otherwise(F.col(c)).alias(c)
        if c in upd else F.col(c)
        for c in cols
    ))

    # existing link targets: the one frontier lookup. The Bloom
    # pre-screen (R6 URL-seen) keeps definitely-new targets off the
    # broadcast side; the semi-join itself is the exact check.
    targets = agg.select(F.col("to_url_hash").alias("url_hash")).join(
        fetchlist.select("url_hash"), on="url_hash", how="left_anti"
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

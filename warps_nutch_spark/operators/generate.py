"""Generate: select the round's fetchlist (top-N per host, best-first).

Reference semantics (GenerateJob/GenerateMapper/GenerateReducer):

- eligibility guards (``GenerateMapper.java:144-338``): not already
  generated (F9), distance <= generate.max.distance (F10), host not
  unreachable (F11), URL passes normalize+filter, fetch due
  (``AbstractFetchSchedule.shouldFetch:177-189``) (F8);
- sort: priority desc, OPIC sort value (score * init_sort) desc, url
  asc (``GenerateJob.java:213-224``) (P2);
- per-host cap generate.max.tasks.per.host (``GenerateReducer.java:
  78,117-121``) (P4); global topN (``GenerateReducer.java:75-76,
  110-126``) (P3);
- detail-page quota: at most 2/3 of topN may be DETAIL pages; overflow
  is demoted to default priority, not dropped
  (``GenerateMapper.java:109-110,237-243``) (P5);
- selected rows get batch_id + GENERATE_MARK
  (``GenerateReducer.java:142-159``).

Spark shape: one window over host partitions (the only shuffle), then
a global ordered limit. The reference's per-reducer limit topN/numTasks
is an approximation of a global topN; we implement the exact global
form (deterministic under ties via the 3-level sort + url tiebreak) and
document the equivalence (SURVEY.md §7 hard-part 1). Seeds always
regenerate (``GenerateMapper.java:340-370``): the seed priority (1001)
wins the sort, and seeds don't count against topN in the reference
(``GenerateReducer.java:110-126``) — mirrored by exempting
priority >= MUST_FETCH rows from the global limit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import CrawlConfig
from ..functions import scoring
from ..functions.schedules import should_fetch_col
from .rows import page_category_col


def eligible_candidates(
    frontier: DataFrame,
    cfg: CrawlConfig,
    now_ms: int,
    unreachable_hosts: DataFrame | None = None,
    current_round: int | None = None,
) -> DataFrame:
    # F9: skip marked rows UNLESS the mark is stale (>= regen_rounds
    # old) — batch ids are zero-padded ordinals, so the age is a
    # numeric diff (GenerateMapper.java:259-281 '1 day' escape)
    not_marked = F.col("generated_batch").isNull()
    if current_round is not None:
        mark_round = F.regexp_extract(F.col("generated_batch"), r"^batch-(\d+)$", 1)
        stale = (mark_round != "") & (
            F.lit(current_round) - mark_round.cast("int") >= cfg.regen_rounds
        )
        df = frontier.filter(not_marked | stale)
    else:
        df = frontier.filter(not_marked)
    if cfg.max_distance >= 0:
        df = df.filter(F.col("distance") <= cfg.max_distance)
    df = df.filter(should_fetch_col(F.col("fetch_time"), F.col("fetch_interval"), now_ms, cfg))
    if unreachable_hosts is not None:
        # small state table -> broadcast anti-join (F11)
        df = df.join(F.broadcast(unreachable_hosts.select("host")), on="host", how="left_anti")
    return df


def bandwidth_row_cap(avg_page_bytes: float | None, cfg: CrawlConfig) -> int | None:
    """Q6 bandwidth throttle. The reference pauses task scheduling
    while pending x avgPageBytes x 8 > 30 x bandwidth_bytes
    (TaskScheduler.java:391-394; fetcher.net.bandwidth.m at :94-97,
    191). A batch engine has no mid-round pause, so the same rule is
    inverted into the largest pending set the bandwidth sustains:
    cap = 30 x bandwidth_bytes / (avgPageBytes x 8), applied as an
    extra generate limit. None disables (bandwidth unlimited or no
    page-size estimate yet). Oracle-checked by `bandwidth_throttle`."""
    if cfg.bandwidth_mbytes <= 0 or not avg_page_bytes or avg_page_bytes <= 0:
        return None
    bw_bytes = cfg.bandwidth_mbytes * 1024 * 1024
    return max(1, int(30 * bw_bytes / (avg_page_bytes * 8)))


def apply_detail_quota(cand: DataFrame, cfg: CrawlConfig, order: list) -> DataFrame:
    """P5: detail quota — at most detail_quota_num/den of topN may be
    DETAIL pages; overflow DETAIL pages are demoted to default
    priority, not dropped (GenerateMapper.java:109-110,237-243).
    ``cand`` must carry ``page_category`` and the sort columns. The
    kept set is bounded by the quota (<= topN), so it's a TakeOrdered
    + broadcast join, never a global sort shuffle."""
    detail_quota = cfg.top_n * cfg.detail_quota_num // cfg.detail_quota_den
    is_detail = (F.col("page_category") == "DETAIL") & (
        F.col("priority") < cfg.priority_must_fetch
    )
    detail_keep = (
        cand.filter(is_detail)
        .orderBy(*order)
        .limit(detail_quota)
        .select("url_hash", F.lit(True).alias("detail_keep"))
    )
    return (
        cand.join(F.broadcast(detail_keep), on="url_hash", how="left")
        .withColumn(
            "priority",
            F.when(is_detail & F.col("detail_keep").isNull(), F.lit(cfg.priority_default))
            .otherwise(F.col("priority")),
        )
        .drop("detail_keep")
    )


def generate(
    frontier: DataFrame,
    cfg: CrawlConfig,
    now_ms: int,
    batch_id: str,
    unreachable_hosts: DataFrame | None = None,
    current_round: int | None = None,
    avg_page_bytes: float | None = None,
) -> DataFrame:
    """Returns the fetchlist (frontier rows + sort/selection columns,
    marked with batch_id/generated_batch). Caller merges the marks.
    ``avg_page_bytes`` feeds the Q6 bandwidth cap when configured."""
    cand = eligible_candidates(frontier, cfg, now_ms, unreachable_hosts, current_round)
    cand = cand.withColumns({
        "sort_score": scoring.generator_sort_value(F.col("score")),
        "page_category": page_category_col("url"),
    })

    order = [F.desc("priority"), F.desc("sort_score"), F.asc("url")]

    cand = apply_detail_quota(cand, cfg, order)

    # P4: per-host cap (window rank — the only shuffle in this stage)
    host_win = Window.partitionBy("host").orderBy(*order)
    cand = cand.withColumn("host_rank", F.row_number().over(host_win)).filter(
        F.col("host_rank") <= cfg.max_per_host
    )

    # P3: global topN; must-fetch/seed rows are exempt from the limit.
    # orderBy().limit() compiles to TakeOrderedAndProject (per-partition
    # partial top-N then a merge on the driver of N rows, never a global
    # sort shuffle) — the scalable exact form of the reference's
    # per-reducer limit. Q6: the bandwidth cap tightens the limit.
    bw_cap = bandwidth_row_cap(avg_page_bytes, cfg)
    effective_top_n = cfg.top_n if bw_cap is None else min(cfg.top_n, bw_cap)
    exempt = F.col("priority") >= cfg.priority_must_fetch
    selected = cand.filter(exempt).unionByName(
        cand.filter(~exempt).orderBy(*order).limit(effective_top_n)
    )

    return selected.withColumns(
        {"batch_id": F.lit(batch_id), "generated_batch": F.lit(batch_id)}
    ).drop("sort_score", "host_rank")

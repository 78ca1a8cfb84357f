"""Fetch schedules as column expressions (no UDFs).

- shouldFetch eligibility with max-interval clamp:
  ``crawl/AbstractFetchSchedule.java:177-189``
- DefaultFetchSchedule: fetch_time = fetch_time + interval
  (``crawl/DefaultFetchSchedule.java:30-40``)
- AdaptiveFetchSchedule: interval *(1-dec) if modified, *(1+inc) if
  not modified, sync-delta shift toward the modification time, clamp
  [min, max] (``crawl/AdaptiveFetchSchedule.java:94-135``; golden test
  semantics ``src/test/.../TestAdaptiveFetchSchedule.java``)
- retry / gone backoff (``dbupdate/ReduceDatumBuilder.java:215-276``)

Modified-state detection compares signatures
(``crawl/SignatureComparator.java``): prev missing -> UNKNOWN,
equal -> NOTMODIFIED, different -> MODIFIED.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..config import CrawlConfig

STATE_UNKNOWN = 0
STATE_MODIFIED = 1
STATE_NOTMODIFIED = 2


def modified_state_col(signature: Column, prev_signature: Column) -> Column:
    return (
        F.when(prev_signature.isNull(), F.lit(STATE_UNKNOWN))
        .when(signature == prev_signature, F.lit(STATE_NOTMODIFIED))
        .otherwise(F.lit(STATE_MODIFIED))
    )


def should_fetch_col(
    fetch_time: Column, fetch_interval: Column, now_ms: int, cfg: CrawlConfig
) -> Column:
    """Eligibility predicate with the reference's over-the-horizon
    clamp: rows whose fetch_time is further than max_interval in the
    future are pulled back and fetched now
    (AbstractFetchSchedule.java:177-189)."""
    max_ms = F.lit(int(cfg.max_fetch_interval_sec) * 1000)
    over_horizon = fetch_time - F.lit(now_ms) > max_ms
    return over_horizon | (fetch_time <= F.lit(now_ms))


def adaptive_interval_col(
    fetch_interval: Column, state: Column, cfg: CrawlConfig
) -> Column:
    """New fetch interval (seconds) per AdaptiveFetchSchedule (int
    truncation mirrors the Java int multiply)."""
    inc = 1.0 + cfg.adaptive_inc_rate
    dec = 1.0 - cfg.adaptive_dec_rate
    interval = (
        F.when(
            state == STATE_MODIFIED,
            (fetch_interval.cast("double") * F.lit(dec)).cast("int"),
        )
        .when(
            state == STATE_NOTMODIFIED,
            (fetch_interval.cast("double") * F.lit(inc)).cast("int"),
        )
        .otherwise(fetch_interval)
    )
    return F.greatest(
        F.lit(int(cfg.adaptive_min_interval_sec)),
        F.least(F.lit(int(cfg.adaptive_max_interval_sec)), interval),
    )


def adaptive_schedule_cols(
    fetch_time_ms: Column,
    modified_time_ms: Column,
    fetch_interval_sec: Column,
    state: Column,
    cfg: CrawlConfig,
) -> tuple[Column, Column]:
    """Returns (new_fetch_time_ms, new_fetch_interval_sec).

    Implements the sync-delta logic: delta = fetch_time - modified_time
    (seconds); if delta > interval, interval = delta; refetch base is
    shifted back by delta * sync_delta_rate
    (AdaptiveFetchSchedule.java:112-121)."""
    mod = F.when(modified_time_ms <= 0, fetch_time_ms).otherwise(modified_time_ms)
    interval = adaptive_interval_col(fetch_interval_sec, state, cfg)
    if cfg.adaptive_sync_delta:
        delta_sec = ((fetch_time_ms - mod) / F.lit(1000)).cast("long")
        interval = F.greatest(interval.cast("long"), delta_sec).cast("int")
        refetch = fetch_time_ms - F.round(
            delta_sec * F.lit(float(cfg.adaptive_sync_delta_rate))
        ).cast("long") * F.lit(1000)
    else:
        refetch = fetch_time_ms
    interval = F.greatest(
        F.lit(int(cfg.adaptive_min_interval_sec)),
        F.least(F.lit(int(cfg.adaptive_max_interval_sec)), interval),
    )
    new_fetch_time = refetch + interval.cast("long") * F.lit(1000)
    return new_fetch_time, interval


def default_schedule_cols(
    fetch_time_ms: Column, fetch_interval_sec: Column
) -> Column:
    """DefaultFetchSchedule: next fetch time."""
    return fetch_time_ms + fetch_interval_sec.cast("long") * F.lit(1000)


def gone_backoff_interval(fetch_interval_sec: Column, cfg: CrawlConfig) -> Column:
    """GONE rows back off: interval *= 1.5 clamped to max
    (ReduceDatumBuilder.java:252-262)."""
    return F.least(
        F.lit(int(cfg.max_fetch_interval_sec)),
        (fetch_interval_sec.cast("double") * F.lit(float(cfg.gone_interval_factor))).cast(
            "int"
        ),
    )

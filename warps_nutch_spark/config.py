"""Crawl configuration with defaults mirroring the reference's
``conf/configsets/default/nutch-default.xml`` (cited per field).

Everything is a plain dataclass so the whole config broadcasts cheaply
to executors inside pandas UDF closures.
"""

from __future__ import annotations

from dataclasses import dataclass, field

SECONDS_PER_DAY = 24 * 3600


@dataclass(frozen=True)
class CrawlConfig:
    # --- generate (Generator semantics) -------------------------------
    # generate.topN: reference reducer default limit 100000
    # (GenerateReducer.java:75-76)
    top_n: int = 100_000
    # generate.max.tasks.per.host (GenerateReducer.java:78,117-121)
    max_per_host: int = 10_000
    # generate.max.distance (GenerateMapper.java:287-294); -1 = unlimited
    max_distance: int = -1
    # F9 stale-mark escape: a row still bearing GENERATE_MARK after
    # this many rounds regenerates anyway (GenerateMapper.java:259-281
    # re-generates marks older than 1 day; 24 rounds x 1h default)
    regen_rounds: int = 24
    # detail-page quota: <= 2/3 of topN may be DETAIL pages
    # (GenerateMapper.java:109-110)
    detail_quota_num: int = 2
    detail_quota_den: int = 3

    # --- fetch politeness (FetchQueue semantics) -----------------------
    # fetcher.server.delay = 5.0 s (nutch-default.xml:624-642)
    crawl_delay_ms: int = 5_000
    # fetcher.server.min.delay (multi-threaded queues)
    min_crawl_delay_ms: int = 0
    # fetcher.threads.per.queue = 1 (nutch-default.xml:673-675)
    threads_per_queue: int = 1
    # fetcher.timelimit.mins = 60 (FetchMonitor.java:94-95); per-round
    # virtual-clock budget for the simulated fetch engine
    round_time_limit_ms: int = 60 * 60 * 1000
    # unreachable host: N consecutive failures detaches the host
    # (TasksMonitor.java:343-366)
    max_host_failures: int = 3
    # Q5 slow-queue eviction (FetchMonitor.java:437-460,
    # TasksMonitor.java:372-397): when > 0, simulate per-request
    # response times and detach hosts whose avg fetch duration exceeds
    # this many ms for the following rounds
    slow_host_avg_ms: int = 0

    # --- schedules (AbstractFetchSchedule / AdaptiveFetchSchedule) ----
    # db.fetch.interval.default = 30 days
    default_fetch_interval_sec: int = 30 * SECONDS_PER_DAY
    # seeds re-fetch fast (SeedBuilder.java:123-135)
    seed_fetch_interval_sec: int = 60
    # db.fetch.interval.max clamp in shouldFetch
    # (AbstractFetchSchedule.java:177-189)
    max_fetch_interval_sec: int = 90 * SECONDS_PER_DAY
    # db.fetch.schedule.adaptive.* (AdaptiveFetchSchedule.java:85-92)
    adaptive_inc_rate: float = 0.2
    adaptive_dec_rate: float = 0.2
    adaptive_min_interval_sec: int = 60
    adaptive_max_interval_sec: int = 365 * SECONDS_PER_DAY
    adaptive_sync_delta: bool = True
    adaptive_sync_delta_rate: float = 0.2
    # db.fetch.retry.max = 3 (ReduceDatumBuilder retry handling)
    max_retries: int = 3
    # GONE backoff factor (ReduceDatumBuilder.java:215-276)
    gone_interval_factor: float = 1.5

    # --- scoring (scoring-opic) ---------------------------------------
    # db.score.link.internal / db.score.link.external
    # (OPICScoringFilter.java:74-77)
    internal_score_factor: float = 1.0
    external_score_factor: float = 1.0
    # db.score.injected (nutch-default.xml:467-469)
    injected_score: float = 1.0e9

    # --- updatedb ------------------------------------------------------
    # db.max.outlinks.per.page = 100 (nutch-default.xml:502-504)
    max_outlinks_per_page: int = 100
    # outlink explode hard cap (MapDatumBuilder.java:186)
    max_outlinks_exploded: int = 1_000
    # db.update.max.inlinks = 10000 (ReduceDatumBuilder.java:50,114)
    max_inlinks: int = 10_000
    # db.update.additions.allowed (DbUpdateReducer.java:40,58)
    additions_allowed: bool = True
    # inlink (url, anchor) storage cap (webpage.avsc:232 inlinks map).
    # The SCORING cap stays max_inlinks; persisting 10^4 inlinks per
    # URL at 10^10 rows is not viable, so storage keeps only the top
    # contributions (documented deviation, SURVEY.md §8)
    max_stored_inlinks: int = 25

    # --- Q6 bandwidth throttle (TaskScheduler.java:94-97,191,391-394)
    # fetcher.net.bandwidth.m: hardware bandwidth in MBytes/s; the
    # scheduler pauses when pending x avgPageBytes x 8 > 30 x bandwidth.
    # <= 0 disables the throttle.
    bandwidth_mbytes: int = 0

    # --- JIT indexing (fetch/indexer/JITIndexer.java) ------------------
    # fetch.index.just.in.time (TaskScheduler.java:204-206): index
    # parsed pages inside the fetch round instead of a separate
    # IndexJob pass
    index_jit: bool = False
    # indexer.minimal.text.length = 200 (JITIndexer.java:filter —
    # drop docs whose text content is shorter)
    index_min_text_length: int = 200
    # _index name for the bulk sink
    index_name: str = "nutch"
    # live index endpoint (ElasticIndexWriter deployment shape): when
    # set, each JIT round ALSO pushes its bulk entries to
    # {endpoint}/_bulk from the executors; empty = file shards only
    index_endpoint: str = ""

    # --- fetch mode (fetch/FetchMode.java NATIVE|PROXY|CROWDSOURCING) --
    # "native": the in-engine politeness fetch engine;
    # "crowd": publish leaseable tasks and ingest forwarded worker
    # responses (operators/fetch_service.py). PROXY is a protocol swap
    # inside native mode.
    fetch_mode: str = "native"
    # REST transport for crowd mode (fetch/service/FetchServer.java):
    # when >= 0 and fetch_mode == "crowd", the round driver serves the
    # task table over HTTP on this port (0 = ephemeral) and waits for
    # external workers to GET /fetch/schedule + PUT /fetch/submit;
    # -1 keeps the in-process worker-callback simulation.
    fetch_service_port: int = -1
    # how long a round waits for workers before unreturned tasks flow
    # back as pending-requeue rows
    fetch_service_wait_s: float = 60.0

    # --- partitioning / skew -------------------------------------------
    # partition.url.mode analog (URLPartitioner.java:69-104,
    # nutch-default.xml:603-605): the politeness-queue unit — byHost
    # (default) or byDomain (byIP needs DNS, n/a in the sandbox)
    partition_mode: str = "host"
    # number of host-hash buckets the frontier is written under
    # (partition pruning analog of the reversed-key range scan)
    host_buckets: int = 64
    # salt factor for payload-parallel stages. The round no longer reads
    # it (decode runs inside the fetch pass); kept because the benchmark
    # config sets it, and to be removed with the next benchmark change.
    salt_factor: int = 8

    # --- URL-seen filter (north_rule: "Bloom/cuckoo") -------------------
    # "bloom" (default): OR-mergeable bitmaps, naturally idempotent,
    # cannot delete. "cuckoo": fingerprint table supporting true
    # deletion (store/cuckoo.py) — pair with frontier equality deletes
    # so a deleted URL's pre-screen recovers instead of answering
    # maybe_seen forever.
    urlseen_backend: str = "bloom"
    bloom_partitions: int = 32
    bloom_capacity_per_partition: int = 1_000_000
    bloom_fp_rate: float = 0.01

    # --- priorities (metadata/Nutch.java:78-84) -------------------------
    priority_default: int = 0
    priority_index_page: int = 1
    priority_detail_page: int = 2
    priority_must_generate: int = 100
    priority_from_seed: int = 101
    priority_must_fetch: int = 1000
    priority_seed: int = 1001

    extras: dict = field(default_factory=dict, compare=False, hash=False)


DEFAULT_CONFIG = CrawlConfig()


def make_test_config(**overrides) -> CrawlConfig:
    """Small-scale config used by the pytest suite."""
    base = dict(
        top_n=1_000,
        max_per_host=100,
        crawl_delay_ms=1_000,
        host_buckets=8,
        bloom_partitions=4,
        bloom_capacity_per_partition=10_000,
        salt_factor=2,
    )
    base.update(overrides)
    return CrawlConfig(**base)

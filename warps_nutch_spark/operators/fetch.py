"""Fetch: politeness-sequenced protocol execution over host groups.

The reference runs a multi-threaded producer/consumer engine inside
the fetch reducer (``fetch/FetchMonitor.java:166-196``, FeederThread +
FetchThreads + per-host FIFO queues ``fetch/data/FetchQueue.java``).
None of that thread machinery is ported: Spark tasks are the
concurrency model. The invariants that survive are:

- **one host is never fetched concurrently by two workers** —
  ``groupBy("host").applyInPandas`` puts each host in exactly one
  task (the analog of FetchEntryPartitioner sending all URLs of a
  host to one reducer, ``crawl/URLPartitioner.java:127-150``);
  speculative execution must stay off for this stage
  (``FetchJob.java:149-150``);
- **consecutive requests to one host are >= crawl_delay apart**
  (``FetchQueue.java:339-346``: nextFetchTime = endTime + crawlDelay;
  per-host override from the Host table, ``TasksMonitor.java:480-496``)
  — enforced with a *virtual clock* inside the group UDF so results
  are reproducible (SURVEY.md §7 hard-part 5) while the politeness
  *budget* (how many URLs a host can yield per round) is identical to
  wall-clock behavior: capacity = round_time_limit / crawl_delay;
- **queue order is best-first** (priority desc, score desc, url asc —
  the SelectorEntry comparator, ``GenerateJob.java:213-224``);
- **robots gating** before any request (north_rule; vanilla Nutch 2.3
  gates in FetchThread; the fork keeps the ROBOTS_DENIED plumbing at
  ``TaskScheduler.java:716-720``) — rules are joined onto the
  fetchlist as a per-host ``disallow`` prefix array and evaluated
  vectorized inside the same Arrow batch;
- **status dispatch** ProtocolStatus -> CrawlStatus
  (``TaskScheduler.java:665-729``) including redirect capture as an
  outlink (``TaskScheduler.java:731-774``) and rows the round's time
  limit never reached being returned untouched (the FeederThread
  drain at ``fetch/FeederThread.java:126-140``).

The same group call decodes the payloads it has just rendered
(``parse.decode_payloads``; the reference fork's parse inside the
fetch reducer, ``TaskScheduler.java:777-835``), so each payload makes
one trip through Python and the fetch result carries the parse columns.

Skew note: group size per host is bounded by generate.max_per_host,
so one hot host cannot dominate a task. Hosts are spread across tasks
by an explicit ``repartition(spark.sql.shuffle.partitions, queue
key)``: AQE coalesces shuffles by bytes and would pack the
byte-small, Python-heavy groups onto one or two tasks, but it never
coalesces a repartition by number.

The protocol here is the deterministic SimWeb (the sandbox has no
network); a production deployment swaps ``_simulate_host`` for an
async-HTTP pandas batch with identical outputs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import simweb as sw
from ..config import CrawlConfig
from ..functions.status import HTTP_TO_PROTOCOL, PROTOCOL_TO_CRAWL, CrawlStatus, ProtocolStatus
from .parse import PARSE_FIELDS, decode_payloads

# fetch output = the fetchlist columns we carry + result columns
RESULT_EXTRA_FIELDS = [
    T.StructField("proto_code", T.IntegerType()),
    T.StructField("new_status", T.IntegerType()),
    T.StructField("fetch_ts", T.LongType()),  # virtual-clock request time
    T.StructField("bytes", T.BinaryType()),
    T.StructField("out_urls", T.ArrayType(T.StringType())),
    T.StructField("fetched", T.BooleanType()),
    T.StructField("fetch_duration_ms", T.LongType()),
]

CARRY_COLS = [
    "url",
    "url_hash",
    "host",
    "status",
    "fetch_time",
    "fetch_interval",
    "retries_since_fetch",
    "score",
    "cash",
    "distance",
    "priority",
    "batch_id",
    "signature",
    "is_seed",
]


def fetch_result_schema() -> T.StructType:
    base = [
        T.StructField("url", T.StringType()),
        T.StructField("url_hash", T.StringType()),
        T.StructField("host", T.StringType()),
        T.StructField("status", T.IntegerType()),
        T.StructField("fetch_time", T.LongType()),
        T.StructField("fetch_interval", T.IntegerType()),
        T.StructField("retries_since_fetch", T.IntegerType()),
        T.StructField("score", T.FloatType()),
        T.StructField("cash", T.FloatType()),
        T.StructField("distance", T.IntegerType()),
        T.StructField("priority", T.IntegerType()),
        T.StructField("batch_id", T.StringType()),
        T.StructField("signature", T.StringType()),
        T.StructField("is_seed", T.BooleanType()),
    ]
    return T.StructType(base + RESULT_EXTRA_FIELDS)


def fetch_output_schema() -> T.StructType:
    """What a fetch pass returns, native or crowd: the fetch result
    plus the decode columns of each payload."""
    return T.StructType(fetch_result_schema().fields + PARSE_FIELDS)


def queue_spacing_cols(q_cd, q_mt, q_mcd, robots_delay, cfg: CrawlConfig):
    """(delay_ms, threads, spacing_ms) resolution for a politeness
    queue — the Column form of the per-host overrides the reference
    reads from the Host table (TasksMonitor.java:480-496: q_cd crawl
    delay, q_mt max threads, q_mcd min crawl delay) with the
    FetchQueue rule that a multi-threaded queue spaces requests by
    minCrawlDelay instead of crawlDelay (FetchQueue.java:339-346).

    Precedence: explicit host-table override > robots crawl-delay >
    configured default. The fetch group UDF applies the identical
    scalar resolution (pinned equal by pytest + the
    `host_politeness_override` oracle query)."""
    delay = F.coalesce(q_cd, robots_delay, F.lit(int(cfg.crawl_delay_ms))).cast("long")
    threads = F.coalesce(q_mt, F.lit(int(cfg.threads_per_queue))).cast("int")
    spacing = F.when(
        threads > 1, F.coalesce(q_mcd, F.lit(int(cfg.min_crawl_delay_ms))).cast("long")
    ).otherwise(delay)
    return delay, threads, spacing


def _resolve_queue_spacing(pdf: pd.DataFrame, cfg: CrawlConfig) -> int:
    """Scalar twin of :func:`queue_spacing_cols` for one host group
    (first non-null value per override column wins — host == group)."""

    def first(col):
        if col in pdf:
            vals = pdf[col].dropna()
            if len(vals):
                return int(vals.iloc[0])
        return None

    q_cd, q_mt, q_mcd = first("q_cd"), first("q_mt"), first("q_mcd")
    robots = first("robots_delay")
    delay = q_cd if q_cd is not None else (robots if robots is not None else cfg.crawl_delay_ms)
    threads = q_mt if q_mt is not None else cfg.threads_per_queue
    if threads > 1:
        return q_mcd if q_mcd is not None else cfg.min_crawl_delay_ms
    return delay


def robots_denied_col(path, disallow):
    """F14 robots gate as a JVM-side predicate: the URL path matches
    any disallow prefix (SimpleRobotRules prefix semantics; the fork
    keeps ROBOTS_DENIED plumbing at TaskScheduler.java:716-720). This
    is the Column twin of :func:`_robots_denied` (the numpy form used
    inside the fetch group UDF); tests pin them equal, and the
    `robots_gate` driver query oracle-checks this form."""
    return F.exists(
        F.coalesce(disallow, F.array().cast("array<string>")),
        lambda p: path.startswith(p),
    )


def _robots_denied(paths: pd.Series, disallow: list[str] | None) -> np.ndarray:
    if not disallow:
        return np.zeros(len(paths), dtype=bool)
    denied = np.zeros(len(paths), dtype=bool)
    for prefix in disallow:
        denied |= paths.str.startswith(prefix).fillna(False).to_numpy()
    return denied


def _make_fetch_group(cfg: CrawlConfig, web_params: tuple, round_start_ms: int):
    """Returns the applyInPandas function for one host group."""

    def fetch_group(pdf: pd.DataFrame) -> pd.DataFrame:
        web = sw.SimWeb(*web_params)
        # queue order: best-first (SelectorEntry comparator)
        pdf = pdf.sort_values(
            ["priority", "score", "url"], ascending=[False, False, True]
        ).reset_index(drop=True)
        n = len(pdf)

        # queue-level spacing: host-table overrides (q_cd/q_mt/q_mcd)
        # > robots crawl-delay > configured default; multi-threaded
        # queues space by min delay (FetchQueue.java:339-346). First
        # per-host value in the group wins (host == group in byHost
        # mode; in byDomain mode this is the domain-level override).
        delay = _resolve_queue_spacing(pdf, cfg)

        paths = pdf["url"].str.replace(r"^[a-z]+://[^/]+", "", regex=True)
        # robots disallow is per HOST even when the queue is a domain
        denied = np.zeros(len(pdf), dtype=bool)
        if "robots_disallow" in pdf:
            for host in pdf["host"].unique():
                sel = (pdf["host"] == host).to_numpy()
                disallow = pdf.loc[sel, "robots_disallow"].iloc[0]
                if isinstance(disallow, np.ndarray):
                    disallow = disallow.tolist()
                denied[sel] = _robots_denied(paths[sel], disallow)

        hi, j, valid = sw.parse_urls(pdf["url"])
        http = web.http_status(hi, j)
        http[~valid] = 404

        proto = np.full(n, ProtocolStatus.EXCEPTION, dtype=np.int64)
        for code, p in HTTP_TO_PROTOCOL.items():
            proto[http == code] = p
        proto[http == -1] = ProtocolStatus.TIMEOUT
        proto[denied] = ProtocolStatus.ROBOTS_DENIED

        # virtual politeness clock: robots-denied rows consume no
        # request slot; everything else advances the clock by the
        # request duration + crawl delay (FetchQueue.java:339-346:
        # nextFetchTime = endTime + crawlDelay). Rows past the round
        # time budget stay unfetched (feeder drain).
        durations = np.zeros(n, dtype=np.int64)
        if cfg.slow_host_avg_ms > 0:
            durations = web.response_time_ms(hi, j)
            durations[~valid] = 100
        fetch_ts = np.zeros(n, dtype=np.int64)
        fetched = np.zeros(n, dtype=bool)
        t = int(round_start_ms)
        budget_end = round_start_ms + cfg.round_time_limit_ms
        for i in range(n):
            if denied[i]:
                fetched[i] = True  # evaluated, no request made
                fetch_ts[i] = t
                continue
            if t >= budget_end:
                continue  # time limit: remains ungenerated-for-this-round
            fetch_ts[i] = t
            fetched[i] = True
            t += delay + int(durations[i])

        new_status = np.array(
            [PROTOCOL_TO_CRAWL.get(int(p), CrawlStatus.RETRY) for p in proto],
            dtype=np.int64,
        )
        new_status[~fetched] = pdf["status"].to_numpy()[~fetched]

        # payload bytes for successful fetches (batch-rendered)
        blobs: list[bytes | None] = [None] * n
        outs: list[list[str] | None] = [None] * n
        ok = fetched & (proto == ProtocolStatus.SUCCESS) & valid
        ok_idx = np.nonzero(ok)[0]
        if len(ok_idx):
            rendered = web.render_payload_batch(hi[ok_idx], j[ok_idx])
            for k, i in enumerate(ok_idx):
                blobs[i] = rendered[k]
        if ok.any():
            ol = web.outlinks_of(hi[ok], j[ok])
            for k, i in enumerate(np.nonzero(ok)[0]):
                outs[i] = ol[k]
        # redirects: target recorded as the single outlink
        # (TaskScheduler.java:731-774)
        redir = fetched & np.isin(proto, [ProtocolStatus.MOVED, ProtocolStatus.TEMP_MOVED])
        if redir.any():
            targets = web.redirect_target(hi[redir], j[redir])
            for k, i in enumerate(np.nonzero(redir)[0]):
                outs[i] = [str(targets[k])]

        out = pdf[CARRY_COLS].copy()
        out["proto_code"] = proto.astype("int32")
        out["new_status"] = new_status.astype("int32")
        out["fetch_ts"] = fetch_ts
        out["bytes"] = blobs
        out["out_urls"] = outs
        out["fetched"] = fetched
        out["fetch_duration_ms"] = durations
        return out.join(decode_payloads(blobs))

    return fetch_group


def fetch(
    fetchlist: DataFrame,
    robots: DataFrame | None,
    cfg: CrawlConfig,
    round_start_ms: int,
    batch_id: str,
    web_params: tuple = (20, 1000, 42),
    host_config: DataFrame | None = None,
) -> DataFrame:
    """Run the politeness engine. Returns fetch results (one row per
    fetchlist row; ``fetched`` False for rows the round budget never
    reached) with the decode columns (``PARSE_FIELDS``) of each
    rendered payload. Mark-presence guard: only rows generated for
    this batch are fetched (FetchMapper.java:102-106).

    ``host_config``: optional per-host queue overrides (columns
    ``host``, ``q_mt``, ``q_cd``, ``q_mcd`` — TasksMonitor.java:
    480-496), broadcast-joined like robots rules."""
    fl = fetchlist.filter(F.col("generated_batch") == batch_id).select(*CARRY_COLS)
    if robots is not None:
        rb = robots.select(
            "host",
            F.col("disallow").alias("robots_disallow"),
            F.col("crawl_delay_ms").alias("robots_delay"),
        )
        fl = fl.join(F.broadcast(rb), on="host", how="left")
    else:
        fl = fl.withColumn("robots_disallow", F.lit(None).cast("array<string>")).withColumn(
            "robots_delay", F.lit(None).cast("long")
        )
    if host_config is not None:
        hc = host_config.select(
            "host",
            F.col("q_mt").cast("int").alias("q_mt"),
            F.col("q_cd").cast("long").alias("q_cd"),
            F.col("q_mcd").cast("long").alias("q_mcd"),
        )
        fl = fl.join(F.broadcast(hc), on="host", how="left")
    # politeness-queue unit: host (default) or registered domain
    # (URLPartitioner byDomain mode) — the group key is the unit that
    # is never fetched concurrently
    if cfg.partition_mode == "domain":
        from ..functions import urls as _urls

        fl = fl.withColumn("_queue_key", _urls.domain_col(F.col("host")))
    else:
        fl = fl.withColumn("_queue_key", F.col("host"))
    group_fn = _make_fetch_group(cfg, web_params, round_start_ms)
    n_tasks = int(fl.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return (
        fl.repartition(n_tasks, "_queue_key")
        .groupBy("_queue_key")
        .applyInPandas(group_fn, schema=fetch_output_schema())
    )

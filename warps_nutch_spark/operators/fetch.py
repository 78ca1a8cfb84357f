"""Fetch: politeness-sequenced protocol execution over politeness queues.

The reference runs a multi-threaded producer/consumer engine inside
the fetch reducer (``fetch/FetchMonitor.java:166-196``, FeederThread +
FetchThreads + per-host FIFO queues ``fetch/data/FetchQueue.java``).
None of that thread machinery is ported: Spark tasks are the
concurrency model. The politeness rules live once, on the JVM, in the
queue plan :func:`fetch_queues` and the response projection
:func:`fetch_result`; native fetch and crowd mode
(``fetch_service.py``, which leases tasks from the same queues like
the fork's ``TaskSchedulers.randomFetchItems``) both run them, and
both end in the same call: ``fetch_result`` over queue rows that carry
the raw response and its decode (:data:`RESPONSE_ROW`). The
invariants that survive are:

- **one queue is never fetched concurrently by two workers** — the
  queue plan's repartition by queue key puts each host (or domain) in
  exactly one task (the analog of FetchEntryPartitioner sending all
  URLs of a host to one reducer, ``crawl/URLPartitioner.java:127-150``),
  and one ``mapInPandas`` call per partition fetches its queues one
  after the other; speculative execution must stay off for this stage
  (``FetchJob.java:149-150``);
- **consecutive requests to one queue are >= its spacing apart**
  (``FetchQueue.java:339-346``: nextFetchTime = endTime + crawlDelay,
  minCrawlDelay for a multi-threaded queue; per-host override from the
  Host table, ``TasksMonitor.java:480-496``) — the queue plan resolves
  one spacing per queue, and a *virtual clock* per queue in the
  partition call applies it so results are reproducible (SURVEY.md §7
  hard-part 5) while the politeness *budget* (how many URLs a host can yield per
  round) is identical to wall-clock behavior: capacity =
  round_time_limit / crawl_delay;
- **queue order is best-first** (priority desc, score desc, url asc —
  the SelectorEntry comparator, ``GenerateJob.java:213-224``);
- **robots gating** before any request (north_rule; vanilla Nutch 2.3
  gates in FetchThread; the fork keeps the ROBOTS_DENIED plumbing at
  ``TaskScheduler.java:716-720``) — rules are joined onto the
  fetchlist as a per-host ``disallow`` prefix array and evaluated as
  a JVM predicate in the queue plan; the clock only skips denied rows;
- **status dispatch** HTTP -> ProtocolStatus -> CrawlStatus
  (``TaskScheduler.java:665-729``) including redirect capture as an
  outlink (``TaskScheduler.java:731-774``) and rows the round's time
  limit never reached being returned untouched (the FeederThread
  drain at ``fetch/FeederThread.java:126-140``) — one JVM projection
  over the raw responses the partition call returns.

The reference fork parses inside the fetch reducer
(``TaskScheduler.java:777-835``), and so does this pass: the partition
call decodes the payloads it has just rendered
(``parse.decode_payloads``), and the response projection adds the
signature and processed outlinks (``parse.parsed_cols``). Crowd ingest
runs the same decode over the submitted payloads. Each payload makes
one trip through Python, and the fetch result is the parsed row.

Skew note: queue size is bounded by generate.max_per_host, so one hot
host cannot dominate a task. Queues are spread across
``spark.sql.shuffle.partitions`` tasks by the queue plan's
repartition by number, and a task makes one Python call for all of
its queues, not one per queue.

The protocol here is the deterministic SimWeb; a production
deployment swaps ``SimWeb.respond`` for an async-HTTP pandas batch
with identical outputs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import simweb as sw
from ..config import CrawlConfig
from ..functions.status import ProtocolStatus, http_to_protocol_col, protocol_to_crawl_col
from ..functions.urls import domain_col
from ..schema import FRONTIER
from .parse import PARSE_FIELDS, PARSED_FIELDS, decode_payloads, parsed_cols

#: the fetchlist columns a fetch result carries, typed as in the
#: frontier but nullable, as Spark reads a stage artifact back
CARRY_COLS = [
    "url", "url_hash", "host", "status", "fetch_time", "fetch_interval",
    "retries_since_fetch", "score", "cash", "distance", "priority", "batch_id",
    "signature", "is_seed",
]
CARRY_FIELDS = [T.StructField(c, FRONTIER[c].dataType) for c in CARRY_COLS]

#: the raw response to one queue row, null where no request was made;
#: :func:`fetch_result` maps it to the fetch result
RESPONSE_FIELDS = [
    T.StructField("http_status", T.IntegerType()),
    T.StructField("fetch_ts", T.LongType()),  # virtual-clock request time
    T.StructField("bytes", T.BinaryType()),
    T.StructField("out_urls", T.ArrayType(T.StringType())),
    T.StructField("fetch_duration_ms", T.LongType()),
]

#: a queue row with its raw response and the decode of its payload:
#: what native fetch's partition call and crowd ingest's decode pass
#: hand to :func:`fetch_result`
RESPONSE_ROW = T.StructType(
    CARRY_FIELDS + [T.StructField("denied", T.BooleanType())] + RESPONSE_FIELDS + PARSE_FIELDS
)


def best_first() -> tuple:
    """Queue order, best first (SelectorEntry comparator,
    GenerateJob.java:213-224)."""
    return F.desc("priority"), F.desc("score"), F.asc("url")


def fetch_output_schema() -> T.StructType:
    """What a fetch pass returns, native or crowd: the carried columns,
    the protocol verdict and the response, then the parse columns, the
    decode of each payload and the signature, outlinks and parse mark
    of each fetched row."""
    response = {f.name: f for f in RESPONSE_FIELDS}
    return T.StructType(
        CARRY_FIELDS
        + [
            T.StructField("proto_code", T.IntegerType()),
            T.StructField("new_status", T.IntegerType()),
            response["fetch_ts"],
            response["bytes"],
            response["out_urls"],
            T.StructField("fetched", T.BooleanType()),
            response["fetch_duration_ms"],
        ]
        + PARSE_FIELDS
        + PARSED_FIELDS
    )


def fetch_result_schema() -> T.StructType:
    """:func:`fetch_output_schema` without its parse columns."""
    parse = {f.name for f in PARSE_FIELDS + PARSED_FIELDS}
    return T.StructType([f for f in fetch_output_schema().fields if f.name not in parse])


def queue_spacing_cols(q_cd, q_mt, q_mcd, robots_delay, cfg: CrawlConfig):
    """(delay_ms, threads, spacing_ms) resolution for a politeness
    queue — the Column form of the per-host overrides the reference
    reads from the Host table (TasksMonitor.java:480-496: q_cd crawl
    delay, q_mt max threads, q_mcd min crawl delay) with the
    FetchQueue rule that a multi-threaded queue spaces requests by
    minCrawlDelay instead of crawlDelay (FetchQueue.java:339-346).

    Precedence: explicit host-table override > robots crawl-delay >
    configured default. :func:`fetch_queues` applies it once per
    queue; the `host_politeness_override` oracle query checks it."""
    delay = F.coalesce(q_cd, robots_delay, F.lit(int(cfg.crawl_delay_ms))).cast("long")
    threads = F.coalesce(q_mt, F.lit(int(cfg.threads_per_queue))).cast("int")
    spacing = F.when(
        threads > 1, F.coalesce(q_mcd, F.lit(int(cfg.min_crawl_delay_ms))).cast("long")
    ).otherwise(delay)
    return delay, threads, spacing


def robots_denied_col(path, disallow):
    """F14 robots gate as a JVM-side predicate: the URL path matches
    any disallow prefix (SimpleRobotRules prefix semantics; the fork
    keeps ROBOTS_DENIED plumbing at TaskScheduler.java:716-720). The
    `robots_gate` driver query oracle-checks it."""
    return F.exists(
        F.coalesce(disallow, F.array().cast("array<string>")),
        lambda p: path.startswith(p),
    )


def fetch_queues(
    fetchlist: DataFrame,
    robots: DataFrame | None,
    host_config: DataFrame | None,
    cfg: CrawlConfig,
    batch_id: str,
    partitions: int | None = None,
) -> DataFrame:
    """The politeness queue plan that native and crowd fetch share:
    the fetchlist rows generated for this batch (mark-presence guard,
    FetchMapper.java:102-106), each with

    - ``_queue_key``: the queue unit, host (default) or registered
      domain (URLPartitioner byDomain mode), which is never fetched
      concurrently;
    - ``denied``: the row's host robots rules disallow its path;
    - ``spacing_ms``: the queue's request spacing. Each override
      column (``host_config``'s ``q_cd``/``q_mt``/``q_mcd``,
      TasksMonitor.java:480-496, and the robots crawl delay) gives its
      first non-null value in best-first queue order, so a domain queue
      takes one timing even when its hosts carry different overrides.

    With ``partitions`` set, the rows are first clustered by queue with
    a repartition by number, which the spacing window and the caller's
    per-queue work share: AQE coalesces shuffles by bytes and would
    pack the byte-small, Python-heavy queues of native fetch onto one
    or two tasks, but it never coalesces a repartition by number."""
    fl = fetchlist.filter(F.col("generated_batch") == batch_id).select(*CARRY_COLS)
    if robots is None:
        fl = fl.withColumns({
            "disallow": F.lit(None).cast("array<string>"),
            "robots_delay": F.lit(None).cast("double"),
        })
    else:
        rb = robots.select("host", "disallow", F.col("crawl_delay_ms").alias("robots_delay"))
        fl = fl.join(F.broadcast(rb), on="host", how="left")
    if host_config is None:
        fl = fl.withColumns({c: F.lit(None).cast("long") for c in ("q_mt", "q_cd", "q_mcd")})
    else:
        hc = host_config.select("host", "q_mt", "q_cd", "q_mcd")
        fl = fl.join(F.broadcast(hc), on="host", how="left")
    key = domain_col(F.col("host")) if cfg.partition_mode == "domain" else F.col("host")
    fl = fl.withColumn("_queue_key", key)
    if partitions is not None:
        fl = fl.repartition(partitions, "_queue_key")

    queue = (
        Window.partitionBy("_queue_key")
        .orderBy(*best_first())
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )

    def first(col):
        return F.first(col, ignorenulls=True).over(queue)

    # a robots frame built from pandas carries NaN, not null, for a
    # host without Crawl-delay
    robots_delay = F.when(~F.isnan("robots_delay"), F.col("robots_delay").cast("long"))
    _, _, spacing = queue_spacing_cols(
        first("q_cd"), first("q_mt"), first("q_mcd"), first(robots_delay), cfg
    )
    path = F.regexp_replace("url", r"^[a-z]+://[^/]+", "")
    return fl.select(
        *CARRY_COLS,
        "_queue_key",
        robots_denied_col(path, F.col("disallow")).alias("denied"),
        spacing.alias("spacing_ms"),
    )


def fetch_result(
    rows: DataFrame, cfg: CrawlConfig, batch_id: str, round_start_ms: int, *extra: str
) -> DataFrame:
    """The one response projection, native and crowd: queue rows with
    ``denied`` and a raw response (:data:`RESPONSE_FIELDS`) become the
    fetch result (:func:`fetch_result_schema`, then the ``extra``
    columns, then the parse columns of :func:`~.parse.parsed_cols`);
    with the decode columns as ``extra``, that is
    :func:`fetch_output_schema`. A
    denied row is answered ROBOTS_DENIED without a request. A row with
    no response was never requested (the round's time limit, the
    FeederThread drain at ``FeederThread.java:126-140``, or no crowd
    worker returned it): it stays unfetched with its status untouched.
    The rest go through ProtocolStatus -> CrawlStatus dispatch
    (``TaskScheduler.java:665-729``)."""
    requested = F.col("http_status").isNotNull()
    fetched = F.col("denied") | requested
    proto = F.when(F.col("denied"), F.lit(ProtocolStatus.ROBOTS_DENIED)).when(
        requested, http_to_protocol_col(F.col("http_status"))
    )
    return rows.select(
        *CARRY_COLS,
        proto.cast("int").alias("proto_code"),
        F.when(fetched, protocol_to_crawl_col(proto))
        .otherwise(F.col("status"))
        .cast("int")
        .alias("new_status"),
        F.coalesce("fetch_ts", F.lit(round_start_ms)).alias("fetch_ts"),
        "bytes",
        "out_urls",
        fetched.alias("fetched"),
        F.coalesce("fetch_duration_ms", F.lit(0).cast("long")).alias("fetch_duration_ms"),
        *extra,
        *parsed_cols(fetched, cfg, batch_id),
    )


def _scatter(n: int, idx: np.ndarray, values) -> list:
    """A length-``n`` list with ``values`` at positions ``idx`` and
    None elsewhere."""
    out = [None] * n
    for i, v in zip(idx, values):
        out[i] = v
    return out


def _make_fetch_partition(cfg: CrawlConfig, web_params: tuple, round_start_ms: int):
    """Returns the mapInPandas function for one partition of the queue
    plan: it fetches each queue of the partition in turn."""

    def fetch_queue(web: sw.SimWeb, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["priority", "score", "url"], ascending=[False, False, True]
        ).reset_index(drop=True)
        n = len(pdf)
        hi, j, valid = sw.parse_urls(pdf["url"])
        durations = np.zeros(n, dtype=np.int64)
        if cfg.slow_host_avg_ms > 0:
            durations = web.response_time_ms(hi, j)
            durations[~valid] = 100

        # virtual politeness clock: robots-denied rows consume no
        # request slot; everything else advances the clock by the
        # request duration + queue spacing (FetchQueue.java:339-346:
        # nextFetchTime = endTime + crawlDelay). Rows past the round
        # time budget are not requested (feeder drain).
        denied = pdf["denied"].to_numpy(dtype=bool)
        spacing = int(pdf["spacing_ms"].iloc[0])
        fetch_ts: list[int | None] = [None] * n
        requested = np.zeros(n, dtype=bool)
        t = int(round_start_ms)
        budget_end = round_start_ms + cfg.round_time_limit_ms
        for i in range(n):
            if denied[i]:
                fetch_ts[i] = t  # evaluated, no request made
            elif t < budget_end:
                fetch_ts[i], requested[i] = t, True
                t += spacing + int(durations[i])

        sent = np.flatnonzero(requested)
        http, blobs, outs = web.respond(hi[sent], j[sent], valid[sent])
        out = pdf[CARRY_COLS + ["denied"]].copy()
        out["http_status"] = pd.array(_scatter(n, sent, http.tolist()), dtype="Int32")
        out["bytes"] = _scatter(n, sent, blobs)
        out["out_urls"] = _scatter(n, sent, outs)
        out["fetch_ts"] = pd.array(fetch_ts, dtype="Int64")
        out["fetch_duration_ms"] = durations
        return out.join(decode_payloads(out["bytes"]))

    def fetch_partition(batches):
        # a queue may straddle Arrow batches, so the call sees the whole
        # partition, a share of the top_n-bounded fetchlist, first
        batches = [b for b in batches if len(b)]
        if not batches:
            return
        web = sw.SimWeb(*web_params)
        pdf = pd.concat(batches, ignore_index=True)
        yield pd.concat(
            [fetch_queue(web, q) for _, q in pdf.groupby("_queue_key", sort=False)],
            ignore_index=True,
        )

    return fetch_partition


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
    fetchlist row of this batch; ``fetched`` False for rows the round
    budget never reached) with the parse columns of each fetched row
    (:func:`fetch_output_schema`).

    ``host_config``: optional per-host queue overrides (columns
    ``host``, ``q_mt``, ``q_cd``, ``q_mcd`` — TasksMonitor.java:
    480-496), broadcast-joined like robots rules."""
    n_tasks = int(fetchlist.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    responses = fetch_queues(fetchlist, robots, host_config, cfg, batch_id, n_tasks).mapInPandas(
        _make_fetch_partition(cfg, web_params, round_start_ms), schema=RESPONSE_ROW
    )
    return fetch_result(
        responses, cfg, batch_id, round_start_ms, *(f.name for f in PARSE_FIELDS)
    )

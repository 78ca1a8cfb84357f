"""Crowdsourcing fetch mode — the fork's headline feature
(``fetch/FetchMode.java`` NATIVE|PROXY|CROWDSOURCING,
``fetch/service/FetchResource.java`` REST task leasing,
``plugin/protocol-crowd`` forwarded responses): the engine side of
the task table and the responses, which :mod:`.fetch_server` serves
over HTTP:

- :func:`emit_fetch_tasks` publishes the round's fetchlist as a
  leaseable task table (task key = url_hash). Queue id and per-queue
  crawl delay come from the politeness queue plan native fetch runs
  on (``fetch.fetch_queues``: host or domain queue key, host-config
  overrides, multi-threaded queue spacing), so external workers honor
  the same politeness — the reference moves politeness to the workers
  by leasing at most a few tasks per queue per call,
  ``TaskSchedulers.randomFetchItems``;
- workers lease the tasks through ``GET /fetch/schedule/{count}``
  (:meth:`.fetch_server.FetchServer.schedule`): up to ``count`` tasks
  spread round-robin across queues, never more than ``per_queue`` of
  one queue per call (the randomFetchItems fairness property made
  deterministic);
- :func:`ingest_fetch_results` accepts worker-submitted responses
  (:data:`CROWD_RESULT`) and maps them through the native engine's
  response projection (``fetch.fetch_result``), so parse/updatedb are
  mode-agnostic.
  Tasks no worker returned stay ``fetched = false`` — the round
  driver's budget-drop path keeps their GENERATE_MARK and the
  stale-mark escape regenerates them (the analog of pending-task
  re-scheduling, ``TasksMonitor.java:retune``).

Robots gating stays engine-side: denied rows are answered immediately
as ROBOTS_DENIED and never published as tasks (the reference's crowd
protocol forwards content fetching, not policy).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import CrawlConfig
from .fetch import CARRY_COLS, best_first, fetch_queues, fetch_result

#: what an external worker submits per completed task
CROWD_RESULT = T.StructType([
    T.StructField("url_hash", T.StringType()),
    T.StructField("http_status", T.IntegerType()),
    T.StructField("bytes", T.BinaryType()),
    T.StructField("out_urls", T.ArrayType(T.StringType())),
    T.StructField("fetch_ts", T.LongType()),
    T.StructField("fetch_duration_ms", T.LongType()),
    T.StructField("worker_id", T.StringType()),
])


def emit_fetch_tasks(
    fetchlist: DataFrame,
    robots: DataFrame | None,
    cfg: CrawlConfig,
    batch_id: str,
    host_config: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Returns (tasks, denied). ``tasks`` is the leaseable task table
    (best-first order rank within each queue attached); ``denied`` are
    the robots-blocked queue rows, answered engine-side.
    ``host_config`` takes the per-host queue overrides native fetch
    takes."""
    queues = fetch_queues(fetchlist, robots, host_config, cfg, batch_id)
    rank = Window.partitionBy("_queue_key").orderBy(*best_first())
    tasks = (
        queues.filter(~F.col("denied"))
        .withColumn("queue_rank", F.row_number().over(rank))
        .select(
            *CARRY_COLS,
            F.col("_queue_key").alias("queue_id"),
            "queue_rank",
            F.col("spacing_ms").alias("crawl_delay_ms"),
            F.lit(batch_id).alias("task_batch"),
        )
    )
    return tasks, queues.filter(F.col("denied"))


def ingest_fetch_results(
    tasks: DataFrame,
    denied: DataFrame,
    submitted: DataFrame,
    cfg: CrawlConfig,
    batch_id: str,
    round_start_ms: int,
) -> DataFrame:
    """Fold worker submissions back into the native fetch-result
    schema, the parse columns of :func:`~.fetch.fetch_result` included.
    Unreturned tasks come back ``fetched = false`` with their frontier
    status untouched (pending-requeue semantics); duplicate submissions
    for one task keep the earliest fetch_ts (first worker wins, like the
    reference's task-key dedup)."""
    sub_win = Window.partitionBy("url_hash").orderBy(
        F.asc("fetch_ts"), F.asc("worker_id")
    )
    sub = (
        submitted.select(*CROWD_RESULT.names)
        .withColumn("_rn", F.row_number().over(sub_win))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "worker_id")
    )
    queue_rows = tasks.select(*CARRY_COLS, F.lit(False).alias("denied")).unionByName(
        denied.select(*CARRY_COLS, "denied")
    )
    return fetch_result(
        queue_rows.join(sub, on="url_hash", how="left"), cfg, batch_id, round_start_ms
    )

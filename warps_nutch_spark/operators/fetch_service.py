"""Crowdsourcing fetch mode — the fork's headline feature
(``fetch/FetchMode.java`` NATIVE|PROXY|CROWDSOURCING,
``fetch/service/FetchResource.java`` REST task leasing,
``plugin/protocol-crowd`` forwarded responses): the engine side of
the task table and the responses, which :mod:`.fetch_server` serves
over HTTP. Only the content fetch leaves the engine: robots,
politeness and the parse inside the fetch reducer
(``TaskScheduler.java:777-835``) stay here, so a forwarded response
becomes the same row a native fetch produces.

The round builds the politeness queue plan native fetch runs on once
(``fetch.fetch_queues``: host or domain queue key, robots verdict,
host-config overrides, multi-threaded queue spacing) and hands it to
both calls:

- :func:`emit_fetch_tasks` publishes the queue rows robots allow as a
  leaseable task table (task key = url_hash), each task carrying its
  queue id and request spacing, so external workers honor the same
  politeness. Workers lease the tasks through
  ``GET /fetch/schedule/{count}``
  (:meth:`.fetch_server.FetchServer.schedule`): up to ``count`` tasks
  spread round-robin across queues, never more than ``per_queue`` of
  one queue per call (the ``TaskSchedulers.randomFetchItems`` fairness
  property made deterministic);
- :func:`ingest_fetch_results` left-joins the worker-submitted
  responses (:data:`CROWD_RESULT`) onto the queue rows, decodes their
  payloads and ends in native fetch's response projection
  (``fetch.fetch_result``), so parse/updatedb are mode-agnostic. A
  robots-denied row was never published, gets no response and is
  answered ROBOTS_DENIED there. A task no worker returned stays
  ``fetched = false`` with its status untouched: the round driver's
  budget-drop path keeps its GENERATE_MARK and the stale-mark escape
  regenerates it (the analog of pending-task re-scheduling,
  ``TasksMonitor.java:retune``).

Duplicate submissions have one rule, the first one wins, applied where
the submissions arrive: ``FetchServer.submit`` keeps the first per task
and counts the rest, and the round driver keeps the first row per task
of its in-process worker's frame. Ingest sees one response per task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import CrawlConfig
from .fetch import CARRY_COLS, RESPONSE_FIELDS, RESPONSE_ROW, best_first, fetch_result
from .parse import PARSE_FIELDS, decode_payloads

#: what an external worker submits per completed task: the task key,
#: the raw response and who fetched it
CROWD_RESULT = T.StructType(
    [T.StructField("url_hash", T.StringType())]
    + RESPONSE_FIELDS
    + [T.StructField("worker_id", T.StringType())]
)


def emit_fetch_tasks(queues: DataFrame, batch_id: str) -> DataFrame:
    """The leaseable task table over the queue plan ``queues``
    (``fetch.fetch_queues``): its robots-allowed rows, each with its
    queue id, best-first rank within the queue and request spacing."""
    rank = Window.partitionBy("_queue_key").orderBy(*best_first())
    return (
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


def _decode(batches):
    for pdf in batches:
        yield pdf.join(decode_payloads(pdf["bytes"]))


def ingest_fetch_results(
    queues: DataFrame,
    submitted: DataFrame,
    cfg: CrawlConfig,
    batch_id: str,
    round_start_ms: int,
) -> DataFrame:
    """The fetch result of a crowd round, in native fetch's schema
    (``fetch.fetch_output_schema``): the submissions (one per task)
    left-joined onto the queue plan ``queues``, decoded in one Python
    pass and mapped through ``fetch.fetch_result``. A queue row with no
    submission, denied or unreturned, has a null response. The decode
    pass is repartitioned by number, as native fetch's is: AQE never
    coalesces that, whereas a byte-sized shuffle packs the payloads
    onto one or two tasks."""
    # the submissions sit on the driver, one per task of the round's
    # fetchlist, so the join broadcasts them
    response = [f.name for f in RESPONSE_FIELDS]
    rows = queues.select(*CARRY_COLS, "denied").join(
        F.broadcast(submitted.select("url_hash", *response)), on="url_hash", how="left"
    )
    n_tasks = int(queues.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    decoded = rows.repartition(n_tasks).mapInPandas(_decode, schema=RESPONSE_ROW)
    return fetch_result(
        decoded, cfg, batch_id, round_start_ms, *(f.name for f in PARSE_FIELDS)
    )

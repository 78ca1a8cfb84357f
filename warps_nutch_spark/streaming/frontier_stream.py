"""Structured Streaming ingestion of discovered outlinks.

The reference cycle is strictly round-based batch (``src/bin/crawl``);
this module is the *optional* streaming front door a production
deployment wants: outlink discoveries land continuously (e.g. from
fetcher emissions) and are folded into the frontier without waiting
for a round boundary.

Shape: file-source ``readStream`` over a drop directory of parquet
outlink batches -> canonicalize (same chain as batch) -> watermarked
streaming dedup on url_hash (the streaming analog of the Bloom
URL-seen pre-screen; state store bounded by the watermark) ->
``foreachBatch`` MERGE into the frontier store (exact anti-join stays
the membership ground truth, identical to the batch path).

Tested with ``trigger(availableNow=True)`` so the pipeline runs to
completion deterministically in CI.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import CrawlConfig
from ..functions import urls
from ..operators.rows import complete_rows
from ..store.frontier import ParquetFrontierStore

DISCOVERY_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("discovered_at", T.TimestampType()),
        T.StructField("from_url", T.StringType()),
        T.StructField("score_hint", T.DoubleType()),
    ]
)


def discoveries_stream(spark: SparkSession, drop_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(DISCOVERY_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .parquet(drop_dir)
    )


def canonical_discoveries(stream: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Canonicalize + streaming-dedup on url_hash within the
    watermark window (bounded state)."""
    canon = (
        stream.withColumn("url", urls.canonicalize_col(F.col("url")))
        .filter(F.col("url").isNotNull())
        .withColumn("url_hash", urls.url_hash_col(F.col("url")))
        .withColumn("host", urls.host_col(F.col("url")))
    )
    return canon.withWatermark("discovered_at", watermark).dropDuplicates(
        ["url_hash"]
    )


def run_ingest(
    spark: SparkSession,
    drop_dir: str,
    store: ParquetFrontierStore,
    cfg: CrawlConfig,
    now_ms: int,
    checkpoint_dir: str,
    available_now: bool = True,
    urlseen=None,
):
    """Start (or run-to-completion) the ingest query. Each micro-batch
    becomes new UNFETCHED frontier rows via the same MERGE/anti-join
    dedup as the batch updatedb path.

    ``urlseen``: the shared :class:`~..store.urlseen.BloomUrlSeen`, if
    the workdir is also driven by a Bloom-screened RoundDriver. EVERY
    frontier-insertion path must feed the filter or its
    no-false-negative invariant breaks (batch updatedb treats
    maybe_seen=False as definitely-new and skips the exact anti-join,
    so a stream-inserted URL would be re-inserted as a fresh row whose
    MERGE clobbers the stored state)."""
    deduped = canonical_discoveries(discoveries_stream(spark, drop_dir))

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        rows = complete_rows(
            batch_df.select(
                "url",
                "url_hash",
                "host",
                F.coalesce(F.col("score_hint"), F.lit(0.0)).cast("float").alias("score"),
                F.lit(f"stream-{batch_id}").alias("updated_batch"),
            ),
            cfg,
            now_ms,
        )
        try:
            current = store.read()
        except FileNotFoundError:
            store.init(rows, {"op": "stream-init", "stream_batch": batch_id})
            new_rows = rows
        else:
            new_rows = rows.join(current.select("url_hash"), on="url_hash", how="left_anti")
            store.merge(new_rows, {"op": "stream-ingest", "stream_batch": batch_id})
        if urlseen is not None:
            # micro-batch ids restart under a new checkpoint, and URL-seen
            # skips a batch id it already lists: key the merge by the
            # store version this batch committed
            urlseen.merge_round(
                new_rows.select("url_hash"), "url_hash",
                f"stream-{batch_id}@v{store.current_version()}",
            )

    writer = (
        deduped.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(merge_batch)
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()

"""URLPartitioner modes (byHost/byDomain) — TestURLPartitioner
semantics: same host (or domain) -> same politeness queue; the queue
is never fetched concurrently; byDomain serializes sibling subdomains."""

import pandas as pd
from pyspark.sql import functions as F

from warps_nutch_spark.config import make_test_config
from warps_nutch_spark.operators import fetch as fetch_op
from warps_nutch_spark.operators.rows import complete_rows

NOW = 1_700_000_000_000
WEB = (6, 80, 42)


def _fl(spark, cfg, urls):
    df = complete_rows(
        spark.createDataFrame(pd.DataFrame({"url": urls})), cfg, NOW
    )
    return df.withColumn("generated_batch", F.lit("b1")).withColumn(
        "batch_id", F.lit("b1")
    )


def test_by_host_mode_parallel_subdomains(spark):
    cfg = make_test_config(crawl_delay_ms=1000, partition_mode="host")
    urls = ["http://a.site.test/detail/1", "http://b.site.test/detail/1"]
    res = fetch_op.fetch(_fl(spark, cfg, urls), None, cfg, NOW, "b1", WEB).toPandas()
    # different hosts -> independent clocks, both start at round start
    assert (res.fetch_ts == NOW).all()


def test_by_domain_mode_serializes_subdomains(spark):
    cfg = make_test_config(crawl_delay_ms=1000, partition_mode="domain")
    urls = ["http://a.site.test/detail/1", "http://b.site.test/detail/1"]
    res = fetch_op.fetch(_fl(spark, cfg, urls), None, cfg, NOW, "b1", WEB).toPandas()
    ts = sorted(res.fetch_ts)
    assert ts[1] - ts[0] >= 1000  # one queue: politeness spacing applies


def test_by_domain_mode_takes_first_override_of_each_column_in_queue_order(spark):
    """A domain queue whose hosts carry different host-table overrides
    gets one spacing: each override column's first non-null value in
    best-first queue order (here a's q_cd, and b's q_mt = 3 with its
    q_mcd = 400, so the queue spaces by 400 ms)."""
    cfg = make_test_config(crawl_delay_ms=1000, min_crawl_delay_ms=100, partition_mode="domain")
    urls = [f"http://{h}.site.test/detail/{i}" for h in "ab" for i in (1, 9, 17)]
    host_cfg = spark.createDataFrame(
        [("a.site.test", None, 3000, None), ("b.site.test", 3, None, 400)],
        "host string, q_mt int, q_cd long, q_mcd long",
    )
    res = fetch_op.fetch(
        _fl(spark, cfg, urls), None, cfg, NOW, "b1", WEB, host_config=host_cfg
    ).toPandas()
    got = dict(zip(res.url, res.fetch_ts))
    assert got == {
        "http://a.site.test/detail/1": NOW,
        "http://a.site.test/detail/17": NOW + 400,
        "http://a.site.test/detail/9": NOW + 800,
        "http://b.site.test/detail/1": NOW + 1200,
        "http://b.site.test/detail/17": NOW + 1600,
        "http://b.site.test/detail/9": NOW + 2000,
    }
    assert res.fetched.all()

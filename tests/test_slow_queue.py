"""Q5 slow-queue eviction: per-request response times advance the
politeness clock (FetchQueue nextFetchTime = endTime + delay) and
slow hosts are detached for subsequent rounds."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from warps_nutch_spark.config import make_test_config
from warps_nutch_spark.operators import fetch as fetch_op
from warps_nutch_spark.operators.rows import complete_rows
from warps_nutch_spark.plans.round import RoundDriver, unreachable_hosts
from warps_nutch_spark.simweb import SimWeb

NOW = 1_700_000_000_000
WEB = (20, 40, 42)  # host5 and host18 are slow (hi % 13 == 5)


def test_clock_includes_response_time(spark):
    import pandas as pd

    cfg = make_test_config(slow_host_avg_ms=1500, crawl_delay_ms=1000,
                           round_time_limit_ms=10_000_000)
    urls = [f"http://host5.test/detail/{i}" for i in (1, 9, 17)]
    df = complete_rows(spark.createDataFrame(pd.DataFrame({"url": urls})), cfg, NOW)
    fl = df.withColumn("generated_batch", F.lit("b1")).withColumn("batch_id", F.lit("b1"))
    res = fetch_op.fetch(fl, None, cfg, NOW, "b1", WEB).toPandas().sort_values("fetch_ts")
    web = SimWeb(*WEB)
    # spacing between consecutive requests = delay + previous duration
    ts = res.fetch_ts.to_numpy()
    dur = res.fetch_duration_ms.to_numpy()
    for k in range(1, len(ts)):
        assert ts[k] - ts[k - 1] == 1000 + dur[k - 1]
    # slow host: durations include the +3000ms component
    assert (dur > 3000).all()


def test_slow_hosts_detached_next_round(spark, tmp_path):
    cfg = make_test_config(
        slow_host_avg_ms=1500,
        crawl_delay_ms=100,
        round_time_limit_ms=10_000_000,
        top_n=10_000,
        max_per_host=50,
    )
    web = SimWeb(*WEB)
    drv = RoundDriver(spark, str(tmp_path / "crawl"), cfg, WEB, NOW)
    seeds = spark.createDataFrame([(u,) for u in web.seeds(3)], ["value"])
    drv.inject(seeds)
    drv.run_round(0)
    detached = {r["host"] for r in drv.unreachable_hosts().collect()}
    assert "host5.test" in detached  # slow host evicted
    assert "host0.test" not in detached
    # round 1 fetchlist excludes detached hosts
    drv.run_round(1)
    fl_hosts = {
        r["host"]
        for r in drv._read_stage("batch-0001", "generate").select("host").collect()
    }
    assert "host5.test" not in fl_hosts
    assert len(fl_hosts) > 0


def test_unreachable_hosts_plans_without_a_spark_job(spark, tmp_path):
    """The host state is read with the schema it is written with
    (``schema.HOSTS``), so planning the detached-host frame, as
    generate does each round, submits no schema-inference job. The
    state read is the host table of the newest round, by round number,
    whose fetch stage is done."""
    cfg = make_test_config()
    ddl = "host string, failures long, total_duration_ms long, fetch_count long"
    for batch, detached_host, done in [
        ("batch-9999", "host1.test", True),
        ("batch-10000", "host0.test", True),
        ("batch-10001", "host2.test", False),  # fetch not done: not committed
    ]:
        fetch_dir = os.path.join(tmp_path, "rounds", batch, "fetch")
        spark.createDataFrame(
            [(detached_host, 3, 900, 3), ("host9.test", 0, 300, 2)], ddl
        ).write.parquet(os.path.join(fetch_dir, "hosts"))
        if done:
            with open(os.path.join(fetch_dir, "_DONE"), "w") as f:
                f.write("{}")
    sc = spark.sparkContext
    group = "host-state-plan-test"
    sc.setJobGroup(group, "plan unreachable hosts")
    try:
        detached = unreachable_hosts(spark, str(tmp_path), cfg)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert [r["host"] for r in detached.collect()] == ["host0.test"]


def test_unreachable_hosts_names_the_old_host_state_layout(spark, tmp_path):
    """A crawl dir that kept its host state in top-level
    ``hosts/vNNNN-<batch>`` dirs has no host table in its newest done
    fetch: reading the host state fails with an error that names the
    old layout and says what to do."""
    os.makedirs(os.path.join(tmp_path, "hosts", "v0000-batch-0000"))
    fetch_dir = os.path.join(tmp_path, "rounds", "batch-0000", "fetch")
    os.makedirs(os.path.join(fetch_dir, "data"))
    with open(os.path.join(fetch_dir, "_DONE"), "w") as f:
        f.write("{}")
    with pytest.raises(ValueError, match=r"hosts/vNNNN-<batch>.*start a new crawl dir"):
        unreachable_hosts(spark, str(tmp_path), make_test_config())

"""Fetch makes one Python call per partition of the queue plan, its
result is the parsed row, and the parse stage links it.

The partition pass must equal the grouped pass it replaced, one
``applyInPandas`` call per queue running the same per-queue fetch, row
for row: over the ``crawl_expand`` benchmark's config and web (seed
9173), the budget config, domain queues with slow hosts, host-config
overrides, and Arrow batches smaller than a queue. On every fetched
row, native and crowd, the parse columns must equal the parse
projection that the parse stage used to run over the fetch artifact."""

import dataclasses
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from warps_nutch_spark.config import CrawlConfig
from warps_nutch_spark.operators import fetch as fetch_op
from warps_nutch_spark.operators import parse as parse_op
from warps_nutch_spark.operators.rows import complete_rows
from warps_nutch_spark.plans.round import RoundDriver
from warps_nutch_spark.simweb import SimWeb

START = 1_700_000_000_000
BATCH = "batch-0000"
# perfbench/crawl.py's crawl_expand config and web at seed 9173
CONFIG = CrawlConfig(
    top_n=1_000_000,
    max_per_host=1_000,
    crawl_delay_ms=1_000,
    round_time_limit_ms=3_600_000,
    host_buckets=8,
    bloom_partitions=4,
    bloom_capacity_per_partition=100_000,
    salt_factor=2,
)
WEB = (200, 60, 9173)
PARSED = [f.name for f in parse_op.PARSED_FIELDS]
MAX_BATCH = "spark.sql.execution.arrow.maxRecordsPerBatch"


def _fetchlist(spark, wd, cfg):
    """Round 0's fetchlist of a fresh crawl of the benchmark web."""
    drv = RoundDriver(spark, str(wd), cfg, WEB, START)
    drv.inject(spark.createDataFrame([(u,) for u in SimWeb(*WEB).seeds(4)], ["value"]))
    drv.run_round(0, stop_after="generate")
    return drv, drv._read_stage(BATCH, "generate")


def _grouped_fetch(fetchlist, robots, cfg, host_config=None):
    """The grouped pass: one applyInPandas call per queue, each running
    the per-queue fetch on that queue alone."""
    fetch_partition = fetch_op._make_fetch_partition(cfg, WEB, START)
    schema = T.StructType(
        fetch_op.CARRY_FIELDS
        + [T.StructField("denied", T.BooleanType())]
        + fetch_op.RESPONSE_FIELDS
        + parse_op.PARSE_FIELDS
    )
    n = int(fetchlist.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    responses = (
        fetch_op.fetch_queues(fetchlist, robots, host_config, cfg, BATCH, n)
        .groupBy("_queue_key")
        .applyInPandas(lambda pdf: next(fetch_partition(iter([pdf]))), schema=schema)
    )
    return fetch_op.fetch_result(
        responses, cfg, BATCH, START, *(f.name for f in parse_op.PARSE_FIELDS)
    )


def _parse_projection(fetch_results, cfg):
    """The parse projection the parse stage ran over the fetch
    artifact before fetch_result took its columns over."""
    gated = fetch_results.filter((F.col("batch_id") == BATCH) & F.col("fetched"))
    return gated.withColumns({
        "new_signature": F.when(
            F.col("bytes").isNotNull(), F.md5(F.col("bytes"))
        ).otherwise(F.lit(None).cast("string")),
        "outlinks": F.transform(
            parse_op.process_outlinks_col(F.col("out_urls"), cfg),
            lambda u: F.struct(u.alias("url"), F.lit("").alias("anchor")),
        ),
        "parsed_batch": F.lit(BATCH),
    })


def _rows(df) -> dict:
    return {r["url_hash"]: r.asDict(recursive=True) for r in df.collect()}


def _assert_same_rows(got, want):
    a, b = _rows(got), _rows(want)
    assert a.keys() == b.keys()
    for h in a:
        assert a[h] == b[h], h


def _assert_parse_columns(res, cfg):
    """Fetched rows carry the parse projection; the rest carry none."""
    _assert_same_rows(
        parse_op.parse(res, cfg, BATCH), _parse_projection(res.drop(*PARSED), cfg)
    )
    unfetched = res.filter(~F.col("fetched"))
    assert unfetched.filter(" OR ".join(f"{c} IS NOT NULL" for c in PARSED)).count() == 0


def _assert_equals_grouped(fetchlist, robots, cfg, host_config=None):
    res = fetch_op.fetch(fetchlist, robots, cfg, START, BATCH, WEB, host_config)
    _assert_same_rows(res, _grouped_fetch(fetchlist, robots, cfg, host_config))
    _assert_parse_columns(res, cfg)
    return res


@pytest.fixture(scope="module")
def expand(spark, tmp_path_factory):
    return _fetchlist(spark, tmp_path_factory.mktemp("expand"), CONFIG)


def test_crawl_expand_equals_grouped_pass(expand):
    drv, fl = expand
    res = _assert_equals_grouped(fl, drv._robots_df(), CONFIG)
    assert res.filter("fetched").count() == fl.count() > 0


def test_budget_config_equals_grouped_pass(spark, tmp_path):
    cfg = dataclasses.replace(CONFIG, round_time_limit_ms=3000, top_n=400, max_per_host=8)
    drv, fl = _fetchlist(spark, tmp_path, cfg)
    res = _assert_equals_grouped(fl, drv._robots_df(), cfg)
    assert 0 < res.filter("fetched").count() < fl.count()


def test_domain_queues_with_slow_hosts_equal_grouped_pass(spark, expand):
    """Sibling subdomains share a domain queue; slow hosts put response
    times on the virtual clock."""
    drv, fl = expand
    cfg = dataclasses.replace(
        CONFIG, partition_mode="domain", slow_host_avg_ms=1500, round_time_limit_ms=20_000
    )
    siblings = complete_rows(
        spark.createDataFrame(
            [(f"http://{s}.site.test/detail/{i}",) for s in "abc" for i in range(12)], ["url"]
        ),
        cfg, START,
    ).withColumns({"generated_batch": F.lit(BATCH), "batch_id": F.lit(BATCH)})
    fl = fl.unionByName(siblings, allowMissingColumns=True)
    res = _assert_equals_grouped(fl, drv._robots_df(), cfg)
    assert 0 < res.filter("fetched").count() < fl.count()


def test_host_config_overrides_equal_grouped_pass(spark, expand):
    drv, fl = expand
    cfg = dataclasses.replace(CONFIG, round_time_limit_ms=20_000, min_crawl_delay_ms=300)
    hosts = sorted(r.host for r in fl.select("host").distinct().collect())[:6]
    host_config = spark.createDataFrame(
        [(hosts[0], None, 4000, None), (hosts[1], 3, None, 500), (hosts[2], 2, 2500, None)],
        "host string, q_mt int, q_cd long, q_mcd long",
    )
    _assert_equals_grouped(fl, drv._robots_df(), cfg, host_config)


def test_arrow_batches_smaller_than_a_queue_fetch_the_same_rows(spark, expand):
    drv, fl = expand
    want = fetch_op.fetch(fl, drv._robots_df(), CONFIG, START, BATCH, WEB)
    largest_queue = fl.groupBy("host").count().agg(F.max("count")).first()[0]
    assert largest_queue > 3
    prev = spark.conf.get(MAX_BATCH)
    spark.conf.set(MAX_BATCH, "3")
    try:
        got = _rows(fetch_op.fetch(fl, drv._robots_df(), CONFIG, START, BATCH, WEB))
    finally:
        spark.conf.set(MAX_BATCH, prev)
    assert got == _rows(want)


def test_crowd_parse_columns_equal_the_parse_projection(spark, expand, tmp_path):
    drv, fl = expand
    cfg = dataclasses.replace(CONFIG, fetch_mode="crowd")
    crowd = RoundDriver(spark, str(tmp_path), cfg, WEB, START)
    res = crowd._crowd_fetch(fl, BATCH, START)
    _assert_parse_columns(res, cfg)
    assert res.filter("fetched").count() > 0


def test_fetch_plan_is_one_exchange_and_one_map_in_pandas(spark):
    web = SimWeb(6, 80, 42)
    cfg = dataclasses.replace(CONFIG, host_buckets=4)
    fl = complete_rows(
        spark.createDataFrame([(u,) for u in web.seeds(3)], ["url"]), cfg, START
    ).withColumns({"generated_batch": F.lit("b1"), "batch_id": F.lit("b1")})
    res = fetch_op.fetch(fl, None, cfg, START, "b1", (6, 80, 42))
    res.collect()
    plan = res._jdf.queryExecution().executedPlan().executedPlan().toString()
    lines = plan.splitlines()
    assert len([ln for ln in lines if "Exchange " in ln]) == 1, plan
    assert len([ln for ln in lines if "MapInPandas" in ln]) == 1, plan
    assert "FlatMapGroupsInPandas" not in plan


def test_parse_stage_runs_only_the_payload_slice_jobs(spark, tmp_path):
    """The parse stage writes no artifact: its jobs are the payload
    slice's, and its data directory links the fetch artifact's files."""
    cfg = dataclasses.replace(CONFIG, host_buckets=4)
    drv = RoundDriver(spark, str(tmp_path / "wd"), cfg, (6, 80, 42), START)
    drv.inject(spark.createDataFrame([(u,) for u in SimWeb(6, 80, 42).seeds(3)], ["value"]))
    drv.run_round(0, stop_after="fetch")

    def jobs(group, fn):
        sc = spark.sparkContext
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    stage = jobs("parse-stage", lambda: drv.run_round(0, stop_after="parse"))
    fetched = drv._read_stage(BATCH, "fetch")
    payloads = jobs("payload-slice", lambda: parse_op.payload_rows(
        parse_op.parse(fetched, cfg, BATCH)
    ).write.mode("overwrite").parquet(str(tmp_path / "slice")))
    assert stage == payloads > 0

    fetch_dir, parse_dir = (
        os.path.join(drv._stage_dir(BATCH, s), "data") for s in ("fetch", "parse")
    )
    parts = sorted(fn for fn in os.listdir(parse_dir) if fn.startswith("part-"))
    assert parts and parts == sorted(
        fn for fn in os.listdir(fetch_dir) if fn.startswith("part-")
    )
    for fn in parts:
        assert os.path.samefile(os.path.join(parse_dir, fn), os.path.join(fetch_dir, fn))
    linked = pd.read_parquet(parse_dir)
    assert len(linked) == fetched.count()

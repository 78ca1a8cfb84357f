"""Decode inside the fetch pass: the fetch artifact carries the parse
columns, parse is the fetched-row gate over it, and a round sets no
session conf.

Native fetch decodes each payload in the partition call that renders
it; crowd mode decodes the worker-submitted bytes in one pass over the
ingested rows. Both go through ``parse.decode_payloads``, and the
fetched rows of the parse stage's (linked) artifact must equal
``codec.decode_full`` + ``codec.phash`` applied directly to the fetch
artifact's bytes."""

import os

import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.conf import RuntimeConfig

from warps_nutch_spark.config import make_test_config
from warps_nutch_spark.functions import codec
from warps_nutch_spark.functions.status import CrawlStatus
from warps_nutch_spark.operators import fetch as fetch_op
from warps_nutch_spark.operators import parse as parse_op
from warps_nutch_spark.operators.rows import complete_rows
from warps_nutch_spark.plans.round import RoundDriver
from warps_nutch_spark.simweb import SimWeb

START = 1_700_000_000_000
WEB = (6, 80, 42)
PYTHON_NODES = ("FlatMapGroupsInPandas", "MapInPandas", "ArrowEvalPython", "BatchEvalPython")


def _cfg(**kw):
    return make_test_config(
        top_n=300, max_per_host=60, crawl_delay_ms=1000,
        round_time_limit_ms=600_000, host_buckets=4, bloom_partitions=4, **kw,
    )


def _artifact(drv, stage: str) -> pd.DataFrame:
    path = os.path.join(drv.workdir, "rounds", "batch-0000", stage, "data")
    return pq.read_table(path).to_pandas(integer_object_nulls=True)


def _round0(spark, wd, mode: str, mutate=None) -> dict:
    """Round 0 of a fresh crawl, with every session conf set recorded.
    ``mutate`` edits the crowd workers' results before they are
    submitted."""
    drv = RoundDriver(spark, str(wd), _cfg(fetch_mode=mode), WEB, START)
    drv.inject(spark.createDataFrame([(u,) for u in SimWeb(*WEB).seeds(3)], ["value"]))
    if mutate is not None:
        simulate = drv.crowd_worker
        drv.crowd_worker = lambda task_pdf, now: mutate(simulate(task_pdf, now))
    conf_sets: list[tuple] = []
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(RuntimeConfig, "set", lambda self, *a: conf_sets.append(("set", a)))
        mp.setattr(RuntimeConfig, "unset", lambda self, *a: conf_sets.append(("unset", a)))
        stats = drv.run_round(0)
    drv.close()
    return dict(drv=drv, stats=stats, conf_sets=conf_sets)


@pytest.fixture(scope="module")
def native(spark, tmp_path_factory):
    return _round0(spark, tmp_path_factory.mktemp("native"), "native")


@pytest.fixture(scope="module")
def crowd(spark, tmp_path_factory):
    """Crowd round whose workers cut every third payload in half."""
    cut: list[str] = []

    def truncate(pdf):
        for i in pdf.index[pdf["bytes"].notna()][::3]:
            pdf.at[i, "bytes"] = pdf.at[i, "bytes"][: len(pdf.at[i, "bytes"]) // 2]
            cut.append(pdf.at[i, "url_hash"])
        return pdf

    out = _round0(spark, tmp_path_factory.mktemp("crowd"), "crowd", truncate)
    out["cut"] = cut
    return out


def _expected_decode(blob) -> dict:
    none = dict(image_id=None, caption=None, phash=None, w=None, h=None, fmt=None, decode_ok=False)
    if blob is None:
        return none
    try:
        px, cap, w, h, fmt = codec.decode_full(bytes(blob))
    except Exception:
        return none
    image_id = cap.split(" ")[2] if cap and cap.startswith("caption of ") else None
    return dict(image_id=image_id, caption=cap, phash=codec.phash(px), w=w, h=h, fmt=fmt,
                decode_ok=True)


def _assert_parse_matches_direct_decode(drv):
    fetched = _artifact(drv, "fetch").set_index("url_hash")
    parsed = _artifact(drv, "parse").set_index("url_hash")
    parsed = parsed[parsed["fetched"]]
    assert len(parsed) == int(fetched["fetched"].sum()) > 0
    for h, row in parsed.iterrows():
        want = _expected_decode(fetched.at[h, "bytes"])
        got = {k: (None if pd.isna(row[k]) else row[k]) for k in want}
        assert got == want, h
    assert parsed["decode_ok"].any()


def test_parse_artifact_equals_direct_decode_native(native):
    _assert_parse_matches_direct_decode(native["drv"])


def test_parse_artifact_equals_direct_decode_crowd(crowd):
    _assert_parse_matches_direct_decode(crowd["drv"])


def test_fetch_output_schema_in_both_modes(native, crowd):
    want = [(f.name, f.dataType) for f in fetch_op.fetch_output_schema().fields]
    assert [f.name for f in fetch_op.fetch_output_schema().fields] == (
        [f.name for f in fetch_op.fetch_result_schema().fields]
        + [f.name for f in parse_op.PARSE_FIELDS]
        + [f.name for f in parse_op.PARSED_FIELDS]
    )
    for state in (native, crowd):
        art = state["drv"].spark.read.parquet(
            os.path.join(state["drv"].workdir, "rounds", "batch-0000", "fetch", "data")
        )
        assert [(f.name, f.dataType) for f in art.schema.fields] == want


def test_truncated_crowd_payload_fails_decode_and_round_completes(crowd):
    assert crowd["cut"], "the worker truncated no payload"
    assert crowd["stats"]["updated"] > 0
    parsed = _artifact(crowd["drv"], "parse").set_index("url_hash")
    assert not parsed.loc[crowd["cut"], "decode_ok"].any()
    assert parsed.loc[crowd["cut"], "caption"].isna().all()
    others = parsed.drop(index=crowd["cut"])
    assert others.loc[others["new_status"] == CrawlStatus.FETCHED, "decode_ok"].all()
    assert os.path.exists(
        os.path.join(crowd["drv"].workdir, "rounds", "batch-0000", "updatedb", "_DONE")
    )


def test_round_sets_no_session_conf(native, crowd):
    assert native["conf_sets"] == []
    assert crowd["conf_sets"] == []


def test_fetch_plan_is_one_repartition_by_num_and_runs_shuffle_partitions_tasks(spark):
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    assert spark.conf.get(key) == "true"
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert n > 1
    cfg = _cfg()
    web = SimWeb(*WEB)
    urls = web.seeds(3)
    fl = (
        complete_rows(spark.createDataFrame([(u,) for u in urls], ["url"]), cfg, START)
        .withColumn("generated_batch", F.lit("b1"))
        .withColumn("batch_id", F.lit("b1"))
    )
    res = fetch_op.fetch(fl, None, cfg, START, "b1", WEB)
    sc = spark.sparkContext
    group = "fetch-plan-test"
    sc.setJobGroup(group, "fetch plan")
    try:
        res.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    plan = res._jdf.queryExecution().executedPlan().executedPlan().toString()
    exchanges = [ln for ln in plan.splitlines() if "Exchange " in ln]
    assert len(exchanges) == 1, plan
    assert "REPARTITION_BY_NUM" in exchanges[0], plan
    assert "BroadcastExchange" not in plan
    tracker = sc.statusTracker()
    last_job = tracker.getJobInfo(max(tracker.getJobIdsForGroup(group)))
    assert tracker.getStageInfo(max(last_job.stageIds)).numTasks == n


def test_parse_plan_runs_no_python_and_no_broadcast(spark, native):
    drv = native["drv"]
    fetched = spark.read.parquet(
        os.path.join(drv.workdir, "rounds", "batch-0000", "fetch", "data")
    )
    parsed = parse_op.parse(fetched, drv.cfg, "batch-0000").drop("bytes")
    parsed.collect()
    plan = parsed._jdf.queryExecution().executedPlan().toString()
    for node in PYTHON_NODES + ("BroadcastExchange",):
        assert node not in plan, plan


def test_crowd_decode_runs_shuffle_partitions_tasks_through_repartition_by_num(
    spark, crowd, tmp_path
):
    """With AQE coalescing on, the crowd decode pass still runs on
    ``spark.sql.shuffle.partitions`` tasks: its input is a
    ``REPARTITION_BY_NUM`` exchange, which AQE never coalesces."""
    assert spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled") == "true"
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    drv = RoundDriver(spark, str(tmp_path / "wd"), _cfg(fetch_mode="crowd"), WEB, START)
    fetchlist = crowd["drv"]._read_stage("batch-0000", "generate")
    res = drv._crowd_fetch(fetchlist, "batch-0000", START)
    sc = spark.sparkContext
    group = "crowd-decode-plan-test"
    sc.setJobGroup(group, "crowd decode plan")
    try:
        res.write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    plan = res._jdf.queryExecution().executedPlan().executedPlan().toString()
    lines = plan.splitlines()
    decode = next(i for i, ln in enumerate(lines) if "MapInPandas" in ln)
    feed = next(ln for ln in lines[decode + 1 :] if "Exchange " in ln)
    assert "REPARTITION_BY_NUM" in feed, plan
    tracker = sc.statusTracker()
    last_job = tracker.getJobInfo(max(tracker.getJobIdsForGroup(group)))
    assert tracker.getStageInfo(max(last_job.stageIds)).numTasks == n

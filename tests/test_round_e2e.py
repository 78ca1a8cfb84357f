"""End-to-end crawl rounds vs the pure-Python oracle: generated-set
equality, URL-seen membership equality, status counters, score parity,
politeness, and kill-and-resume identity (FIXTURES.md §6)."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from tests.crawl_oracle import CrawlOracle
from warps_nutch_spark.config import make_test_config
from warps_nutch_spark.plans.round import RoundDriver
from warps_nutch_spark.simweb import SimWeb

START = 1_700_000_000_000
WEB = (6, 80, 42)


def _cfg(**kw):
    base = dict(
        top_n=300,
        max_per_host=60,
        crawl_delay_ms=1000,
        round_time_limit_ms=600_000,
        host_buckets=4,
        bloom_partitions=4,
    )
    base.update(kw)
    return make_test_config(**base)


def _seeds_df(spark, web, per_host=3):
    return spark.createDataFrame([(u,) for u in web.seeds(per_host)], ["value"])


@pytest.fixture(scope="module")
def crawl_state(spark, tmp_path_factory):
    """Run 3 rounds once; several tests assert on the result."""
    wd = str(tmp_path_factory.mktemp("crawl"))
    web = SimWeb(*WEB)
    cfg = _cfg()
    drv = RoundDriver(spark, wd, cfg, WEB, START)
    oracle = CrawlOracle(cfg, WEB, START)
    oracle.inject(web.seeds(3))
    stats, orc = [], []
    drv.inject(_seeds_df(spark, web))
    for r in range(3):
        stats.append(drv.run_round(r))
        orc.append(oracle.run_round(r))
    return dict(drv=drv, oracle=oracle, stats=stats, orc=orc, wd=wd, cfg=cfg)


def test_generated_and_seen_sets_match_oracle(crawl_state):
    drv, oracle = crawl_state["drv"], crawl_state["oracle"]
    # URL-seen membership after all rounds: exact equality (north_rule)
    spark_seen = {r["url"] for r in drv.store.read().select("url").collect()}
    assert spark_seen == oracle.seen()
    # fetched sets per round
    for r, o in enumerate(crawl_state["orc"]):
        got = {
            row["url"]
            for row in drv._read_stage(f"batch-{r:04d}", "fetch")
            .filter(F.col("fetched"))
            .select("url")
            .collect()
        }
        assert got == o["fetched_set"], f"round {r} fetched-set mismatch"


def test_status_counters_match_oracle(crawl_state):
    drv = crawl_state["drv"]
    for r, o in enumerate(crawl_state["orc"]):
        got = {
            int(row["counter"]): row["value"]
            for row in drv.metrics()
            .filter(
                (F.col("batch_id") == f"batch-{r:04d}") & (F.col("stage") == "fetch")
            )
            .collect()
        }
        assert got == o["status_counts"], f"round {r} counters mismatch"


def test_scores_match_oracle(crawl_state):
    drv, oracle = crawl_state["drv"], crawl_state["oracle"]
    spark_rows = {
        r["url"]: r
        for r in drv.store.read().select(
            "url", "score", "cash", "distance", "status", "fetch_interval"
        ).collect()
    }
    mism = []
    for url, orow in oracle.frontier.items():
        srow = spark_rows[url]
        if abs(srow["score"] - orow.score) > max(1e-3, abs(orow.score) * 1e-5):
            mism.append((url, "score", srow["score"], orow.score))
        if abs(srow["cash"] - orow.cash) > max(1e-3, abs(orow.cash) * 1e-5):
            mism.append((url, "cash", srow["cash"], orow.cash))
        if srow["distance"] != min(orow.distance, 99999):
            mism.append((url, "distance", srow["distance"], orow.distance))
        if srow["status"] != orow.status:
            mism.append((url, "status", srow["status"], orow.status))
        if srow["fetch_interval"] != orow.fetch_interval:
            mism.append((url, "interval", srow["fetch_interval"], orow.fetch_interval))
    assert not mism, mism[:10]


def test_politeness_all_rounds(crawl_state):
    drv = crawl_state["drv"]
    cfg = crawl_state["cfg"]
    web = SimWeb(*WEB)
    delays = {r["host"]: r["crawl_delay_ms"] for _, r in web.robots().iterrows()}
    for r in range(3):
        pdf = (
            drv._read_stage(f"batch-{r:04d}", "fetch")
            .filter(F.col("fetched") & (F.col("proto_code") != 18))
            .select("host", "fetch_ts")
            .toPandas()
        )
        for host, grp in pdf.groupby("host"):
            import pandas as pd

            d = delays.get(host)
            if d is None or pd.isna(d):
                d = cfg.crawl_delay_ms
            ts = sorted(grp.fetch_ts)
            assert all(b - a >= d for a, b in zip(ts, ts[1:])), host


def test_payload_invariants(crawl_state):
    from warps_nutch_spark.functions import codec

    drv = crawl_state["drv"]
    rows = drv.payloads().limit(20).collect()
    assert rows
    for row in rows:
        px = codec.decode_image(bytes(row["bytes"]))
        assert px.shape == (row["h"], row["w"], 3)
        assert codec.decode_caption(bytes(row["bytes"])) == row["caption"]
        assert codec.phash(px) == row["phash"]


def test_payloads_plan_without_a_spark_job(spark, crawl_state):
    """The payload slices are read with the schema the parse stage
    writes them with (``schema.PAYLOADS``), so planning the read, as the
    bandwidth estimate does before each generate, submits no
    schema-inference job; the typed read has the written types."""
    import os

    drv = crawl_state["drv"]
    sc = spark.sparkContext
    group = "payloads-plan-test"
    sc.setJobGroup(group, "plan the payload read")
    try:
        typed = drv.payloads()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    inferred = spark.read.option("recursiveFileLookup", "true").parquet(
        os.path.join(drv.workdir, "payloads")
    )
    assert [(f.name, f.dataType) for f in typed.schema] == [
        (f.name, f.dataType) for f in inferred.schema
    ]
    assert typed.count() == inferred.count() > 0


def test_frontier_grows_and_marks_cleared(crawl_state):
    drv = crawl_state["drv"]
    fr = drv.store.read()
    n_seeds = len(SimWeb(*WEB).seeds(3))
    assert fr.count() > n_seeds * 3  # discovery happened
    # every updated row has its generate mark cleared (R10)
    still_marked = fr.filter(
        F.col("generated_batch").isNotNull() & F.col("updated_batch").isNotNull()
    ).count()
    assert still_marked == 0


def test_kill_and_resume_identical_state(spark, tmp_path_factory):
    """Run 2 rounds; replay in a second driver that stops mid-round
    (simulated kill after fetch), then resume — final frontier equals
    the uninterrupted run (per-partition lineage + _DONE markers)."""
    web = SimWeb(*WEB)
    cfg = _cfg()

    wd_a = str(tmp_path_factory.mktemp("full"))
    drv_a = RoundDriver(spark, wd_a, cfg, WEB, START)
    drv_a.run(_seeds_df(spark, web), rounds=2)

    wd_b = str(tmp_path_factory.mktemp("killed"))
    drv_b = RoundDriver(spark, wd_b, cfg, WEB, START)
    drv_b.inject(_seeds_df(spark, web))
    drv_b.run_round(0)
    # round 1: run generate+fetch, then "die" before parse/updatedb
    batch = "batch-0001"
    fl = __import__("warps_nutch_spark.operators.generate", fromlist=["generate"]).generate(
        drv_b.store.read(), cfg, drv_b.round_now(1), batch, drv_b.unreachable_hosts()
    )
    fl = drv_b._write_stage(fl, batch, "generate")
    drv_b._mark_done(batch, "generate")
    # (no fetch/parse/updatedb — simulate kill here)

    # resume: a fresh driver over the same workdir finishes the round
    drv_c = RoundDriver(spark, wd_b, cfg, WEB, START)
    drv_c.run_round(1)

    a = drv_a.store.read().select(
        "url", "status", "score", "distance", "fetch_interval"
    ).toPandas().sort_values("url").reset_index(drop=True)
    b = drv_c.store.read().select(
        "url", "status", "score", "distance", "fetch_interval"
    ).toPandas().sort_values("url").reset_index(drop=True)
    assert list(a.url) == list(b.url)
    assert (a.status == b.status).all()
    assert (a.distance == b.distance).all()
    assert ((a.score - b.score).abs() < 1e-3).all()


def test_every_round_job_runs_in_the_callers_job_group(spark, tmp_path):
    """A round's jobs, post-write actions included, all run in the
    caller's thread and so carry its job group: a REST KILL
    (``cancelJobGroup``) reaches every one of them."""
    drv = RoundDriver(spark, str(tmp_path / "wd"), _cfg(index_jit=True), WEB, START)
    drv.inject(_seeds_df(spark, SimWeb(*WEB)))
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = "round-job-group"
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, "one round")
    try:
        drv.run_round(0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the tracker may evict old jobs, never add ungrouped ones
    assert not set(tracker.getJobIdsForGroup(None)) - ungrouped
    assert tracker.getJobIdsForGroup(group)
    assert os.listdir(os.path.join(drv.workdir, "index", "batch-0000"))


def test_a_delta_round_persists_nothing(spark, tmp_path, monkeypatch):
    """Round 1 reads a store with a delta, and generate and updatedb
    each read it themselves: no RDD is persisted while updatedb builds
    its plan, in round 0 or in round 1."""
    from warps_nutch_spark.operators import updatedb as upd_op
    from warps_nutch_spark.store.frontier import ParquetFrontierStore

    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    persisted = []
    build = upd_op.updatedb

    def watched(*args, **kw):
        persisted.append(set(jsc.getPersistentRDDs().keys()) - before)
        return build(*args, **kw)

    monkeypatch.setattr(upd_op, "updatedb", watched)
    # round 0's delta would outgrow the seeds and compact
    monkeypatch.setattr(ParquetFrontierStore, "COMPACT_RATIO", float("inf"))
    drv = RoundDriver(spark, str(tmp_path / "wd"), _cfg(), WEB, START)
    drv.inject(_seeds_df(spark, SimWeb(*WEB)))
    drv.run_round(0)
    assert drv.store.lineage()["kind"] == "delta"
    drv.run_round(1)
    assert persisted == [set(), set()]


def test_a_stop_file_or_event_runs_no_round(spark, tmp_path):
    """``bin/crawl``'s ``.STOP`` file and the REST job's stop event
    each end the loop before its first round; the seeds are injected.
    Given no seeds, the loop runs from its start round."""
    import threading

    wd = str(tmp_path / "wd")
    drv = RoundDriver(spark, wd, _cfg(), WEB, START)
    stop_file = os.path.join(wd, ".STOP")
    open(stop_file, "w").close()
    assert drv.run(_seeds_df(spark, SimWeb(*WEB)), rounds=2) == []
    os.remove(stop_file)
    stop = threading.Event()
    stop.set()
    assert drv.run(None, rounds=2, stop=stop) == []
    assert os.listdir(os.path.join(wd, "rounds")) == []
    assert [ln["op"] for ln in drv.store.lineage_chain()] == ["inject"]
    stats = drv.run(None, rounds=1, start_round=1)
    assert [s["batch_id"] for s in stats] == ["batch-0001"]
    assert os.listdir(os.path.join(wd, "rounds")) == ["batch-0001"]

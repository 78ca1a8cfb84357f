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


def test_overlapped_failures_all_surface(spark, tmp_path):
    """Overlapped stage actions: a lone failure re-raises unchanged,
    two failures surface together as one ExceptionGroup."""
    drv = RoundDriver(spark, str(tmp_path / "wd"), _cfg(), WEB, START)
    assert spark.sparkContext.defaultParallelism >= 4  # the threaded path
    ran = []

    def ok():
        ran.append("ok")

    def bad_io():
        raise OSError("disk")

    def bad_value():
        raise ValueError("layout")

    with pytest.raises(ValueError, match="layout"):
        drv._run_overlapped(ok, bad_value)
    with pytest.raises(ExceptionGroup) as info:
        drv._run_overlapped(bad_io, ok, bad_value)
    assert {type(e) for e in info.value.exceptions} == {OSError, ValueError}
    assert ran == ["ok", "ok"]  # every action ran to the end


def test_overlapped_actions_run_in_the_callers_job_group(spark, tmp_path):
    """Pool-thread jobs carry the caller's job group, so a REST KILL
    (cancelJobGroup) reaches the overlapped post-write actions."""
    drv = RoundDriver(spark, str(tmp_path / "wd"), _cfg(), WEB, START)
    sc = spark.sparkContext
    group = "overlapped-job-group"
    sc.setJobGroup(group, "overlapped actions")
    try:
        drv._run_overlapped(
            lambda: spark.range(10).count(), lambda: spark.range(20).collect()
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) >= 2


def test_overlapped_actions_run_without_pinned_threads(spark, tmp_path, monkeypatch):
    """With PYSPARK_PIN_THREAD=false the gateway is not a ClientServer and
    inheritable_thread_target(session) returns the session; the overlapped
    actions must still run."""
    import py4j.clientserver

    monkeypatch.setattr(py4j.clientserver, "ClientServer", type("Unpinned", (), {}))
    drv = RoundDriver(spark, str(tmp_path / "wd"), _cfg(), WEB, START)
    out: list[int] = []
    drv._run_overlapped(
        lambda: out.append(spark.range(10).count()),
        lambda: out.append(len(spark.range(20).collect())),
    )
    assert sorted(out) == [10, 20]

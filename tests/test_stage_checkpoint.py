"""The round driver's one stage checkpoint (``RoundDriver._stage``).

Each stage's ``_DONE`` record holds its time and status counters, is
written atomically, and is the only source of a round's ``stage_sec``,
``fetched`` / ``updated`` totals and ``metrics()`` rows. Re-reading a
committed artifact costs no Spark job."""

import json
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from warps_nutch_spark.config import make_test_config
from warps_nutch_spark.plans.round import RoundDriver
from warps_nutch_spark.schema import METRICS
from warps_nutch_spark.simweb import SimWeb

START = 1_700_000_000_000
WEB = (6, 80, 42)
STAGES = ("generate", "fetch", "parse", "updatedb")


def _driver(spark, wd) -> RoundDriver:
    cfg = make_test_config(
        top_n=300, max_per_host=60, crawl_delay_ms=1000,
        round_time_limit_ms=600_000, host_buckets=4, bloom_partitions=4,
    )
    drv = RoundDriver(spark, str(wd), cfg, WEB, START)
    drv.inject(spark.createDataFrame([(u,) for u in SimWeb(*WEB).seeds(3)], ["value"]))
    return drv


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def _metric_rows(drv) -> list[tuple]:
    return sorted(tuple(r) for r in drv.metrics().collect())


def _assert_same_frontier(a, b):
    cols = ["url", "status", "fetch_time", "distance", "generated_batch", "updated_batch",
            "score", "cash"]
    pa, pb = (
        d.store.read().select(*cols).toPandas().sort_values("url").reset_index(drop=True)
        for d in (a, b)
    )
    pd.testing.assert_frame_equal(pa[cols[:-2]], pb[cols[:-2]])
    pd.testing.assert_frame_equal(pa[cols[-2:]], pb[cols[-2:]], rtol=1e-9)


@pytest.fixture(scope="module")
def staged(spark, tmp_path_factory):
    """Round 0 in one call, then round 1 one stage per call, with the
    artifacts' write-time schemas captured."""
    drv = _driver(spark, tmp_path_factory.mktemp("staged"))
    written = {}
    write = drv._write_stage

    def capture(df, batch_id, stage):
        out = write(df, batch_id, stage)
        written[(batch_id, stage)] = out.schema
        return out

    drv._write_stage = capture
    full = drv.run_round(0)
    calls = {
        s: drv.run_round(1, stop_after=None if s == "updatedb" else s) for s in STAGES
    }
    del drv._write_stage
    return dict(drv=drv, full=full, calls=calls, written=written)


def test_read_stage_runs_no_spark_job_and_keeps_the_written_schema(spark, staged):
    drv = staged["drv"]
    for batch_id in ("batch-0000", "batch-0001"):
        for stage in STAGES:
            n, df = _jobs_in_group(
                spark, f"read-stage-{batch_id}-{stage}", lambda: drv._read_stage(batch_id, stage)
            )
            assert n == 0, (batch_id, stage)
            # parse writes no artifact: its data directory links fetch's
            written = staged["written"][(batch_id, "fetch" if stage == "parse" else stage)]
            assert df.schema == written, (batch_id, stage)


def test_stage_sec_holds_each_stage_own_call_time(staged):
    calls = staged["calls"]
    final = calls["updatedb"]["stage_sec"]
    for stage in ("generate", "fetch", "parse"):
        assert calls[stage]["stopped_after"] == stage
        assert final[stage] == calls[stage]["stage_sec"][stage]
        assert final[stage] > 0.0, stage
    assert "updatedb.plan_write" in final and "updatedb" in final
    assert set(staged["full"]["stage_sec"]) == set(final)


def test_records_are_the_only_source_of_totals_and_metrics(spark, staged):
    drv = staged["drv"]
    for r, st in enumerate((staged["full"], staged["calls"]["updatedb"])):
        batch_id = f"batch-{r:04d}"
        recs = {s: drv._record(batch_id, s) for s in STAGES}
        assert st["fetched"] == sum(recs["fetch"]["counters"].values()) > 0
        assert st["updated"] == sum(recs["updatedb"]["counters"].values()) > 0
        assert {s: round(recs[s]["sec"], 2) for s in STAGES} == {
            s: st["stage_sec"][s] for s in STAGES
        }
    assert drv.metrics().schema == METRICS
    want = sorted(
        (b, s, c, v)
        for b in ("batch-0000", "batch-0001")
        for s in STAGES
        for c, v in drv._record(b, s)["counters"].items()
    )
    assert _metric_rows(drv) == want
    assert {s for _, s, _, _ in want} == {"fetch", "updatedb"}
    assert not os.path.exists(os.path.join(drv.workdir, "metrics"))


def test_a_done_round_reruns_without_a_spark_job(spark, staged):
    drv = staged["drv"]
    n, st = _jobs_in_group(spark, "rerun-done-round", lambda: drv.run_round(1))
    assert n == 0
    for key in ("fetched", "updated"):
        assert st[key] == staged["calls"]["updatedb"][key]
    assert st["stage_sec"] == staged["calls"]["updatedb"]["stage_sec"]


def test_done_counters_equal_a_group_by_over_the_committed_artifact(spark, staged):
    """The counters observed during each artifact write equal a
    ``groupBy`` over the artifact as committed."""
    drv = staged["drv"]
    counted_rows = {
        "fetch": ("new_status", lambda batch_id: F.col("fetched")),
        "updatedb": ("status", lambda batch_id: F.col("updated_batch") == batch_id),
    }
    for batch_id in ("batch-0000", "batch-0001"):
        for stage, (status, where) in counted_rows.items():
            art = drv._read_stage(batch_id, stage).filter(where(batch_id))
            counted = {str(r[0]): r[1] for r in art.groupBy(status).count().collect()}
            assert drv._record(batch_id, stage)["counters"] == counted, (batch_id, stage)


@pytest.fixture(scope="module")
def uninterrupted(spark, tmp_path_factory):
    drv = _driver(spark, tmp_path_factory.mktemp("full"))
    for r in range(2):
        drv.run_round(r)
    return drv


@pytest.mark.parametrize("killed_stage", ["fetch", "updatedb"])
def test_failed_done_write_leaves_the_stage_undone_and_resumes(
    spark, tmp_path, monkeypatch, uninterrupted, killed_stage
):
    """``os.replace`` fails while the stage's record is written: the
    record is absent (only its temp file exists), and resuming, which
    counts the reused artifact with one ``agg``, ends in the state and
    counters of an uninterrupted crawl."""
    killed = _driver(spark, tmp_path / "killed")
    mark_done = killed._mark_done

    def failing_mark(batch_id, stage, meta=None):
        if stage != killed_stage:
            return mark_done(batch_id, stage, meta)

        def boom(*a, **kw):
            raise OSError("killed during the _DONE swap")

        with monkeypatch.context() as m:
            m.setattr(os, "replace", boom)
            mark_done(batch_id, stage, meta)

    killed._mark_done = failing_mark
    with pytest.raises(OSError, match="_DONE swap"):
        killed.run_round(0)
    stage_dir = killed._stage_dir("batch-0000", killed_stage)
    assert killed._record("batch-0000", killed_stage) is None
    with open(os.path.join(stage_dir, "_DONE.tmp")) as f:
        assert json.load(f)["counters"]  # the record was complete, not swapped in

    resumed = RoundDriver(spark, killed.workdir, killed.cfg, WEB, START)
    for r in range(2):
        resumed.run_round(r)
    assert _metric_rows(resumed) == _metric_rows(uninterrupted)
    _assert_same_frontier(resumed, uninterrupted)

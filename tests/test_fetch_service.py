"""Crowdsourcing fetch mode: task leasing + forwarded-result ingest
must be mode-transparent — parse/updatedb see the same fetch-result
rows the native engine produces (FetchMode.CROWDSOURCING,
fetch/service/FetchResource.java, plugin/protocol-crowd)."""

import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from warps_nutch_spark import simweb
from warps_nutch_spark.config import make_test_config
from warps_nutch_spark.functions.status import ProtocolStatus
from warps_nutch_spark.operators import fetch as fetch_op
from warps_nutch_spark.operators import fetch_service as svc
from warps_nutch_spark.operators.fetch_server import FetchServer
from warps_nutch_spark.operators.rows import complete_rows

NOW = 1_700_000_000_000
WEB = (6, 80, 42)


def _fetchlist(spark, cfg, urls, batch="b1"):
    df = spark.createDataFrame(pd.DataFrame({"url": urls}))
    rows = complete_rows(df, cfg, NOW)
    return rows.withColumn("generated_batch", F.lit(batch)).withColumn(
        "batch_id", F.lit(batch)
    )


def _simulate_workers(leased_pdf, web, n_workers=3):
    """External workers: fetch each leased task via the deterministic
    SimWeb protocol and submit forwarded responses."""
    hi, j, valid = simweb.parse_urls(leased_pdf["url"])
    http = web.http_status(hi, j)
    http[~valid] = 404
    rows = []
    for k in range(len(leased_pdf)):
        out_urls = None
        blob = None
        if http[k] == 200:
            blob = web.render_payload_batch(hi[k : k + 1], j[k : k + 1])[0]
            out_urls = web.outlinks_of(hi[k : k + 1], j[k : k + 1])[0]
        elif http[k] in (301, 302):
            out_urls = [str(web.redirect_target(hi[k : k + 1], j[k : k + 1])[0])]
        rows.append(
            {
                "url_hash": leased_pdf["url_hash"].iloc[k],
                "http_status": int(http[k]),
                "bytes": blob,
                "out_urls": out_urls,
                "fetch_ts": NOW + k,
                "fetch_duration_ms": 5,
                "worker_id": f"worker-{k % n_workers}",
            }
        )
    return pd.DataFrame(rows)


def _schedule(tasks, count, per_queue):
    """One ``GET /fetch/schedule/{count}`` lease over a freshly
    published task table, called on the engine side."""
    srv = FetchServer()
    try:
        srv.publish(tasks)
        return srv.schedule(count, per_queue)
    finally:
        srv.close()


@pytest.fixture()
def web():
    return simweb.SimWeb(*WEB)


def test_crowd_mode_matches_native_fetch(spark, web):
    cfg = make_test_config(crawl_delay_ms=1000)
    j = np.arange(60)
    ok = web.http_status(np.full(60, 0), j) >= 0
    urls = [f"http://host0.test/{simweb.CATEGORIES[x % 8]}/{x}" for x in j[ok][:20]]
    urls += [f"http://host1.test/{simweb.CATEGORIES[x % 8]}/{x}" for x in j[ok][:20]]
    fl = _fetchlist(spark, cfg, urls)
    robots = spark.createDataFrame(web.robots())

    native = {
        r["url"]: r
        for r in fetch_op.fetch(fl, robots, cfg, NOW, "b1", WEB).collect()
    }

    queues = fetch_op.fetch_queues(fl, robots, None, cfg, "b1")
    tasks = svc.emit_fetch_tasks(queues, "b1")
    task_pdf = tasks.select("url_hash", "url").toPandas()
    submitted = spark.createDataFrame(_simulate_workers(task_pdf, web))
    crowd = {
        r["url"]: r
        for r in svc.ingest_fetch_results(queues, submitted, cfg, "b1", NOW).collect()
    }

    assert set(native) == set(crowd)
    for url, n in native.items():
        c = crowd[url]
        if not n["fetched"]:
            continue  # budget semantics differ (workers have no clock)
        assert c["fetched"], url
        assert c["proto_code"] == n["proto_code"], url
        assert c["new_status"] == n["new_status"], url
        assert (c["bytes"] is None) == (n["bytes"] is None), url
        if n["bytes"] is not None:
            assert bytes(c["bytes"]) == bytes(n["bytes"]), url
        assert (c["out_urls"] or []) == (n["out_urls"] or []), url


def test_crowd_unreturned_tasks_stay_unfetched(spark, web):
    cfg = make_test_config()
    j = np.arange(40)
    ok = web.http_status(np.full(40, 0), j) == 200
    urls = [f"http://host0.test/{simweb.CATEGORIES[x % 8]}/{x}" for x in j[ok][:10]]
    fl = _fetchlist(spark, cfg, urls)
    queues = fetch_op.fetch_queues(fl, None, None, cfg, "b1")
    task_pdf = svc.emit_fetch_tasks(queues, "b1").select("url_hash", "url").toPandas()
    # workers only return half the tasks
    submitted = spark.createDataFrame(_simulate_workers(task_pdf.iloc[:5], web))
    res = svc.ingest_fetch_results(queues, submitted, cfg, "b1", NOW).toPandas()
    assert (~res.fetched).sum() == len(task_pdf) - 5
    unret = res[~res.fetched]
    # pending-requeue semantics: status untouched, no protocol verdict
    assert unret["proto_code"].isna().all()
    assert (unret["new_status"] == unret["status"]).all()


def _tasks(fl, robots, cfg, host_config=None):
    return svc.emit_fetch_tasks(fetch_op.fetch_queues(fl, robots, host_config, cfg, "b1"), "b1")


def test_lease_fairness_across_queues(spark):
    cfg = make_test_config()
    urls = [f"http://host{h}.test/doc/{i}" for h in range(4) for i in range(10)]
    tasks = _tasks(_fetchlist(spark, cfg, urls), None, cfg)
    leased = pd.DataFrame(_schedule(tasks, count=8, per_queue=2))
    assert len(leased) == 8
    # fair: no queue over its per_queue allotment
    assert leased.groupby("queue_id").size().max() <= 2


def test_crowd_round_keeps_the_first_worker_row_per_task(spark, tmp_path, web):
    """A crowd worker that returns two rows for one task, the later
    fetch_ts first: the first row wins, as ``FetchServer.submit`` keeps
    the first submission, and the fetch artifact holds one row for the
    task."""
    from warps_nutch_spark.plans.round import RoundDriver

    cfg = make_test_config(fetch_mode="crowd", host_buckets=4)
    drv = RoundDriver(spark, str(tmp_path / "wd"), cfg, WEB, NOW)
    drv.inject(spark.createDataFrame([(u,) for u in web.seeds(2)], ["value"]))
    simulate = drv.crowd_worker
    first: dict = {}

    def twice(task_pdf, now):
        out = simulate(task_pdf, now)
        late = out.iloc[:1].assign(fetch_ts=out["fetch_ts"].iloc[0] + 1000, worker_id="late")
        first.update(url_hash=late["url_hash"].iloc[0], fetch_ts=int(late["fetch_ts"].iloc[0]))
        return pd.concat([late, out], ignore_index=True)

    drv.crowd_worker = twice
    drv.run_round(0, stop_after="fetch")
    art = pq.read_table(
        os.path.join(drv.workdir, "rounds", "batch-0000", "fetch", "data")
    ).to_pandas()
    assert art["url_hash"].is_unique
    row = art[art["url_hash"] == first["url_hash"]]
    assert len(row) == 1 and bool(row["fetched"].iloc[0])
    assert row["fetch_ts"].iloc[0] == first["fetch_ts"]


def test_crowd_mode_crawl_matches_native_end_to_end(spark, tmp_path_factory):
    """Two full crawls over the same SimWeb — one native, one
    crowdsourced — must agree on the URL-seen set, statuses, scores,
    cash and distances (fetch timestamps legitimately differ: workers
    have no virtual politeness clock, so schedule times shift)."""
    from warps_nutch_spark.plans.round import RoundDriver

    web = simweb.SimWeb(*WEB)
    seeds = spark.createDataFrame([(u,) for u in web.seeds(3)], ["value"])

    def crawl(mode, wd):
        cfg = make_test_config(
            top_n=300, max_per_host=60, crawl_delay_ms=1000,
            round_time_limit_ms=600_000, host_buckets=4,
            bloom_partitions=4, fetch_mode=mode,
        )
        drv = RoundDriver(spark, str(wd), cfg, WEB, NOW)
        drv.run(seeds, rounds=2)
        return (
            drv.store.read()
            .select("url", "status", "score", "cash", "distance")
            .toPandas()
            .sort_values("url")
            .reset_index(drop=True)
        )

    a = crawl("native", tmp_path_factory.mktemp("native"))
    b = crawl("crowd", tmp_path_factory.mktemp("crowd"))
    assert list(a.url) == list(b.url)
    assert (a.status == b.status).all()
    assert (a.distance == b.distance).all()
    assert ((a.score - b.score).abs() < 1e-3).all()
    assert ((a.cash - b.cash).abs() < 1e-3).all()


def test_crowd_domain_mode_shares_one_queue_across_subdomains(spark):
    """byDomain: sibling subdomains are one politeness queue for crowd
    workers too, so a one-per-queue lease hands out only one of them."""
    cfg = make_test_config(crawl_delay_ms=1000, partition_mode="domain")
    urls = ["http://a.site.test/detail/1", "http://b.site.test/detail/1"]
    tasks = _tasks(_fetchlist(spark, cfg, urls), None, cfg)
    assert {r["queue_id"] for r in tasks.collect()} == {"site.test"}
    assert len(_schedule(tasks, count=10, per_queue=1)) == 1


def _native_spacing(res, host):
    """The one request spacing native fetch applied to ``host``."""
    gaps = set(np.diff(sorted(res[(res.host == host) & res.fetched].fetch_ts)))
    assert len(gaps) == 1, (host, gaps)
    return gaps.pop()


def test_crowd_task_delay_is_native_spacing_under_host_config(spark, web):
    """Host-table overrides (q_cd; q_mt > 1 with q_mcd) reach crowd
    tasks: each task's crawl_delay_ms is the spacing native fetch
    applies to its host."""
    cfg = make_test_config(crawl_delay_ms=1000, min_crawl_delay_ms=100)
    j = np.arange(60)
    urls = []
    for h in range(3):
        ok = web.http_status(np.full(60, h), j) == 200
        urls += [f"http://host{h}.test/{simweb.CATEGORIES[x % 8]}/{x}" for x in j[ok][:4]]
    fl = _fetchlist(spark, cfg, urls)
    host_cfg = spark.createDataFrame(
        [("host0.test", None, 3000, None), ("host1.test", 4, None, 200)],
        "host string, q_mt int, q_cd long, q_mcd long",
    )
    native = fetch_op.fetch(fl, None, cfg, NOW, "b1", WEB, host_config=host_cfg).toPandas()
    tasks = _tasks(fl, None, cfg, host_config=host_cfg)
    delays = tasks.groupBy("host").agg(F.collect_set("crawl_delay_ms").alias("d")).collect()
    got = {r["host"]: r["d"] for r in delays}
    want = {h: [_native_spacing(native, h)] for h in ("host0.test", "host1.test", "host2.test")}
    assert want == {"host0.test": [3000], "host1.test": [200], "host2.test": [1000]}
    assert got == want


def test_nan_robots_delay_spaces_by_configured_delay(spark, web):
    """A robots frame built from pandas without Arrow carries NaN for a
    host without Crawl-delay: native fetch spaces that host by the
    configured delay, and its crowd tasks carry the same delay."""
    cfg = make_test_config(crawl_delay_ms=1000)
    key = "spark.sql.execution.arrow.pyspark.enabled"
    arrow = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        robots = spark.createDataFrame(web.robots())
    finally:
        spark.conf.set(key, arrow)
    assert robots.filter(F.isnan("crawl_delay_ms")).count() > 0
    j = np.arange(60)
    urls = []
    for h in (0, 3):  # host3 sets Crawl-delay: 2000
        ok = web.http_status(np.full(60, h), j) == 200
        urls += [f"http://host{h}.test/{simweb.CATEGORIES[x % 8]}/{x}" for x in j[ok][:4]]
    fl = _fetchlist(spark, cfg, urls)
    native = fetch_op.fetch(fl, robots, cfg, NOW, "b1", WEB).toPandas()
    assert _native_spacing(native, "host0.test") == cfg.crawl_delay_ms
    assert _native_spacing(native, "host3.test") == 2000
    tasks = _tasks(fl, robots, cfg)
    got = {(r["host"], r["crawl_delay_ms"]) for r in tasks.collect()}
    assert got == {("host0.test", cfg.crawl_delay_ms), ("host3.test", 2000)}


def test_crowd_worker_stamps_fetch_ts_by_url_hash_not_row_order(spark, tmp_path, web):
    """The simulated crowd workers number their responses in url_hash
    order: permuting the task table leaves every response's fetch_ts
    and worker id unchanged."""
    from warps_nutch_spark.plans.round import RoundDriver

    drv = RoundDriver(spark, str(tmp_path / "wd"), make_test_config(), WEB, NOW)
    urls = web.seeds(3)
    hashes = [hashlib.sha1(u.encode()).hexdigest() for u in urls]
    task_pdf = pd.DataFrame({"url_hash": hashes, "url": urls})
    permuted = task_pdf.sample(frac=1, random_state=7).reset_index(drop=True)
    assert list(permuted["url_hash"]) != list(task_pdf["url_hash"])

    def stamps(pdf):
        out = drv.crowd_worker(pdf, NOW)
        return dict(zip(out["url_hash"], zip(out["fetch_ts"], out["worker_id"])))

    got = stamps(task_pdf)
    assert got == stamps(permuted)
    assert sorted(ts for ts, _ in got.values()) == list(range(NOW, NOW + len(urls)))

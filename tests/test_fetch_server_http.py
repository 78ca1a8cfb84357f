"""REST fetch-service transport (fetch/service/FetchServer.java +
FetchResource.java): live in-process HTTP server, external worker
clients, and a full crowd-over-HTTP crawl pinned equal to native."""

import json
import threading
import urllib.request

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from warps_nutch_spark import simweb
from warps_nutch_spark.config import make_test_config
from warps_nutch_spark.operators import fetch as fetch_op
from warps_nutch_spark.operators import fetch_service as svc
from warps_nutch_spark.operators.fetch_server import (
    MAX_TASKS_PER_SCHEDULE,
    FetchServer,
    worker_poll_once,
)

NOW = 1_700_000_000_000
WEB = (6, 80, 42)


def _fetchlist(spark, cfg, urls, batch="b1"):
    from warps_nutch_spark.operators.rows import complete_rows

    df = spark.createDataFrame(pd.DataFrame({"url": urls}))
    rows = complete_rows(df, cfg, NOW)
    return rows.withColumn("generated_batch", F.lit(batch)).withColumn(
        "batch_id", F.lit(batch)
    )


def _simweb_fetch_fn(web):
    """The external worker's protocol implementation: fetch one URL via
    the deterministic SimWeb and forward (status, bytes, outlinks)."""

    def fetch(url):
        hi, j, valid = simweb.parse_urls(pd.Series([url]))
        http = web.http_status(hi, j)
        http[~valid] = 404
        code = int(http[0])
        if code == 200:
            return (
                code,
                web.render_payload_batch(hi[:1], j[:1])[0],
                web.outlinks_of(hi[:1], j[:1])[0],
            )
        if code in (301, 302):
            return code, None, [str(web.redirect_target(hi[:1], j[:1])[0])]
        return code, None, None

    return fetch


def _worker_loop(endpoint, fetch_fn, worker_id, stop):
    import time

    while not stop.is_set():
        try:
            n = worker_poll_once(endpoint, fetch_fn, worker_id, count=20, per_queue=2)
        except Exception:
            n = 0
        if n == 0:
            time.sleep(0.02)


@pytest.fixture()
def web():
    return simweb.SimWeb(*WEB)


def test_http_transport_schedule_submit_roundtrip(spark, web):
    """Drive the REST endpoints directly: leasing is fair and capped,
    payload bytes survive the base64 hop, duplicates are counted, and
    drained results equal what the workers fetched."""
    cfg = make_test_config(crawl_delay_ms=1000)
    j = np.arange(60)
    ok = web.http_status(np.full(60, 0), j) >= 0
    urls = [f"http://host0.test/{simweb.CATEGORIES[x % 8]}/{x}" for x in j[ok][:12]]
    urls += [f"http://host1.test/{simweb.CATEGORIES[x % 8]}/{x}" for x in j[ok][:12]]
    fl = _fetchlist(spark, cfg, urls)
    tasks = svc.emit_fetch_tasks(fetch_op.fetch_queues(fl, None, None, cfg, "b1"), "b1")

    # short lease TTL: the tasks this test leases directly (and never
    # submits) must become re-leasable for the worker threads below
    srv = FetchServer(lease_ttl_s=1.0)
    try:
        published = srv.publish(tasks)
        assert published == len(urls)

        # schedule over live HTTP: per_queue fairness + count cap
        with urllib.request.urlopen(
            f"{srv.endpoint}/fetch/schedule/6?per_queue=2"
        ) as r:
            leased = json.loads(r.read())
        assert len(leased) == 4  # 2 queues x per_queue=2 < count
        per_q = pd.Series([t["queue_id"] for t in leased]).value_counts()
        assert per_q.max() <= 2
        assert all(t["crawl_delay_ms"] == 1000 for t in leased)

        # an already-leased task is never handed out twice
        with urllib.request.urlopen(
            f"{srv.endpoint}/fetch/schedule/{MAX_TASKS_PER_SCHEDULE}?per_queue=50"
        ) as r:
            rest = json.loads(r.read())
        assert {t["url_hash"] for t in rest}.isdisjoint(
            {t["url_hash"] for t in leased}
        )

        # workers drain everything (incl. a duplicate submission)
        fetch_fn = _simweb_fetch_fn(web)
        stop = threading.Event()
        threads = [
            threading.Thread(
                target=_worker_loop,
                args=(srv.endpoint, fetch_fn, f"w{i}", stop),
                daemon=True,
            )
            for i in range(3)
        ]
        for t in threads:
            t.start()
        assert srv.await_complete(timeout_s=30)
        stop.set()
        for t in threads:
            t.join(timeout=5)

        # duplicate submit counted, first one kept
        dup_task = leased[0]
        code, blob, outs = fetch_fn(dup_task["url"])
        import base64 as b64

        body = json.dumps(
            [
                {
                    "url_hash": dup_task["url_hash"],
                    "http_status": code,
                    "bytes": b64.b64encode(blob).decode() if blob else None,
                    "out_urls": outs,
                    "fetch_ts": 1,
                    "fetch_duration_ms": 1,
                    "worker_id": "late",
                }
            ]
        ).encode()
        req = urllib.request.Request(
            f"{srv.endpoint}/fetch/submit", data=body, method="PUT"
        )
        with urllib.request.urlopen(req) as r:
            assert json.loads(r.read())["accepted"] == 0
        assert srv.status()["duplicate_submissions"] == 1

        # drained bytes match a direct SimWeb fetch (base64 round-trip)
        got = srv.drain_results(spark).toPandas().set_index("url_hash")
        assert len(got) == len(urls)
        probe = tasks.select("url_hash", "url").toPandas().iloc[0]
        code, blob, _ = fetch_fn(probe["url"])
        assert int(got.loc[probe["url_hash"], "http_status"]) == code
        if blob is not None:
            assert bytes(got.loc[probe["url_hash"], "bytes"]) == bytes(blob)
    finally:
        srv.close()


def test_crowd_http_crawl_matches_native_end_to_end(spark, tmp_path_factory):
    """Two full crawls over the same SimWeb — native vs crowdsourced
    over the LIVE REST transport — must agree on the URL-seen set,
    statuses, scores, cash and distances (same bar as the in-process
    crowd test; the HTTP hop must be semantics-free)."""
    from warps_nutch_spark.plans.round import RoundDriver

    web = simweb.SimWeb(*WEB)
    seeds = spark.createDataFrame([(u,) for u in web.seeds(3)], ["value"])

    def crawl(mode, wd, port=-1):
        cfg = make_test_config(
            top_n=300, max_per_host=60, crawl_delay_ms=1000,
            round_time_limit_ms=600_000, host_buckets=4,
            bloom_partitions=4, fetch_mode=mode,
            fetch_service_port=port, fetch_service_wait_s=120.0,
        )
        drv = RoundDriver(spark, str(wd), cfg, WEB, NOW)
        stop = threading.Event()
        threads = []
        if port >= 0:
            endpoint = drv._ensure_fetch_server().endpoint
            fetch_fn = _simweb_fetch_fn(web)
            threads = [
                threading.Thread(
                    target=_worker_loop,
                    args=(endpoint, fetch_fn, f"w{i}", stop),
                    daemon=True,
                )
                for i in range(3)
            ]
            for t in threads:
                t.start()
        try:
            drv.run(seeds, rounds=2)
        finally:
            stop.set()
            for t in threads:
                t.join(timeout=5)
            drv.close()
        return (
            drv.store.read()
            .select("url", "status", "score", "cash", "distance")
            .toPandas()
            .sort_values("url")
            .reset_index(drop=True)
        )

    a = crawl("native", tmp_path_factory.mktemp("native"))
    b = crawl("crowd", tmp_path_factory.mktemp("crowd_http"), port=0)
    assert list(a.url) == list(b.url)
    assert (a.status == b.status).all()
    assert (a.distance == b.distance).all()
    assert ((a.score - b.score).abs() < 1e-3).all()
    assert ((a.cash - b.cash).abs() < 1e-3).all()

"""The REST ``/db`` handler serves pages from one in-process Arrow view of
the merge-on-read frontier per store version. The cached path must
return exactly what ``db_query`` returns over a fresh ``store.read()`` at
the version the store is at, across every kind of commit (merge,
compact, a new base), run no Spark job for a page, and hold nothing in
Spark's cache.
"""

import os
import sys
import threading
import time

import pandas as pd
import pytest
from pyspark.sql import functions as F

from warps_nutch_spark.config import make_test_config
from warps_nutch_spark.operators.rows import complete_rows
from warps_nutch_spark.service.client import NutchServiceClient
from warps_nutch_spark.service.dbreader import db_query
from warps_nutch_spark.service.master import NutchMasterServer
from warps_nutch_spark.store.frontier import ParquetFrontierStore

NOW = 1_700_000_000_000
HOSTS = 6
PAGES = 40
CRAWL = "viewcrawl"

# DbFilter JSON -> db_query keywords
_KW = {
    "startKey": "start_key",
    "endKey": "end_key",
    "urlFilter": "url_filter",
    "batchId": "batch_id",
    "fields": "fields",
    "start": "start",
    "limit": "limit",
}

QUERIES = [
    {"startKey": "http://h2.test/", "endKey": "http://h2.test/~", "limit": 25},
    {"urlFilter": "-/p/1\n+h[0-3]\\.test/", "batchId": None, "limit": 40},
    {"start": 60, "limit": 30},
    {"batchId": "b1", "fields": ["url", "score", "updated_batch"], "start": 3, "limit": 20},
]


def _rows(spark, urls, score, batch):
    pdf = pd.DataFrame(
        {"url": urls, "score": [float(score(i)) for i in range(len(urls))], "updated_batch": batch}
    )
    df = spark.createDataFrame(pdf).withColumn("score", F.col("score").cast("float"))
    return complete_rows(df, make_test_config(), NOW)


def _urls(hosts, pages):
    return [f"http://h{h}.test/p/{p}" for h in hosts for p in pages]


def _persisted(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _expected(store, q) -> list[dict]:
    kw = {_KW[k]: v for k, v in q.items()}
    return [r.asDict(recursive=True) for r in db_query(store.read(), **kw).collect()]


def _count_reads(monkeypatch) -> list:
    """The version of each ``ParquetFrontierStore.read()`` from now on."""
    reads = []
    read = ParquetFrontierStore.read

    def counted(self):
        reads.append(self.current_version())
        return read(self)

    monkeypatch.setattr(ParquetFrontierStore, "read", counted)
    return reads


def _check_pages(client, store):
    for q in QUERIES:
        got = client.db_query(crawlId=CRAWL, **q)["values"]
        assert got == _expected(store, q), q
        assert got, f"vacuous page for {q}"


@pytest.fixture()
def served(spark, tmp_path):
    base = str(tmp_path)
    store = ParquetFrontierStore(spark, os.path.join(base, CRAWL, "frontier"), 4)
    store.init(
        _rows(spark, _urls(range(HOSTS), range(PAGES)), lambda i: i % 7, "b0"),
        {"op": "init"},
    )
    store.merge(
        _rows(spark, _urls(range(HOSTS), range(0, PAGES, 3)), lambda i: 10 + i, "b1"),
        {"op": "updatedb", "batch_id": "b1"},
    )
    before = _persisted(spark)
    srv = NutchMasterServer(spark, base)
    try:
        yield spark, srv, NutchServiceClient(srv.endpoint), store, before
    finally:
        srv.close()


def test_cached_pages_equal_fresh_read_across_commits(served):
    spark, srv, client, store, before = served
    _check_pages(client, store)
    assert not (_persisted(spark) - before)  # the server holds no persisted RDD
    assert srv._views[CRAWL][1] == store.current_version()

    # a merge that re-marks and re-scores rows, and adds new ones
    store.merge(
        _rows(
            spark,
            _urls(range(HOSTS), range(1, PAGES + 5, 4)),
            lambda i: 100 - i,
            "b1",
        ),
        {"op": "updatedb", "batch_id": "b2"},
    )
    _check_pages(client, store)
    # a compaction: same rows, new base
    store.compact()
    assert store.lineage()["kind"] == "base"
    _check_pages(client, store)

    # one view at a time: each commit's view replaced the last
    assert list(srv._views) == [CRAWL]
    assert srv._views[CRAWL][1] == store.current_version()
    assert not (_persisted(spark) - before)


def test_concurrent_first_queries_build_the_view_once(served, monkeypatch):
    spark, srv, client, store, before = served
    _check_pages(client, store)
    store.merge(
        _rows(spark, _urls(range(HOSTS), range(PAGES, PAGES + 3)), lambda i: i, "b1"),
        {"op": "updatedb", "batch_id": "b3"},
    )
    expected = [_expected(store, q) for q in QUERIES]

    reads = _count_reads(monkeypatch)
    got: dict = {}
    errors: list = []
    n = (os.cpu_count() or 2) + 2  # more clients than cores
    go = threading.Barrier(n)

    def ask(t: int) -> None:
        cli = NutchServiceClient(srv.endpoint, timeout_s=120)
        go.wait(timeout=60)
        try:
            got[t] = [cli.db_query(crawlId=CRAWL, **q)["values"] for q in QUERIES]
        except Exception as exc:  # noqa: BLE001 - reported below
            errors.append(exc)

    threads = [threading.Thread(target=ask, args=(t,)) for t in range(n)]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=300)
    finally:
        sys.setswitchinterval(switch)
    assert not any(th.is_alive() for th in threads)
    assert not errors
    assert all(got[t] == expected for t in range(n))
    assert reads == [store.current_version()]
    assert not (_persisted(spark) - before)


def test_cached_page_runs_no_spark_job(served):
    spark, srv, client, store, _ = served
    sc = spark.sparkContext
    for q in QUERIES:
        client.db_query(crawlId=CRAWL, **q)  # build the view
    group = f"db-view-{time.monotonic_ns()}"
    sc.setJobGroup(group, "cached /db pages")
    try:
        for q in QUERIES:
            assert srv._db_query(dict(q, crawlId=CRAWL))["values"]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 0


def test_clear_cache_keeps_the_view_and_close_drops_it(served, monkeypatch):
    spark, srv, client, store, before = served
    _check_pages(client, store)
    expected = [_expected(store, q) for q in QUERIES]
    reads = _count_reads(monkeypatch)

    # the view is not in Spark's cache: clearCache() cannot drop it
    spark.catalog.clearCache()
    assert [client.db_query(crawlId=CRAWL, **q)["values"] for q in QUERIES] == expected
    assert reads == []

    srv.close()
    assert not srv._views
    assert not (_persisted(spark) - before)


def test_zero_row_frontier_pages_are_empty(served):
    spark, srv, client, store, _ = served
    _check_pages(client, store)
    # a new zero-row base
    store.init(spark.createDataFrame([], store.read().schema), {"op": "init"})
    assert store.read().count() == 0
    for q in QUERIES:
        assert client.db_query(crawlId=CRAWL, **q) == {"values": []}, q
        assert _expected(store, q) == [], q
    assert srv._views[CRAWL][1] == store.current_version()

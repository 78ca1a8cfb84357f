"""REST admin service (NutchMaster analog) driven over live HTTP.

Parity pins:

- a crawl driven as REST stage jobs (INJECT → GENERATE → FETCH →
  PARSE → UPDATEDB per round) produces a frontier bit-identical to a
  native ``RoundDriver.run_round`` crawl with the same config
  (``service/impl/JobFactory.java`` job-type table);
- the ``/db`` endpoint returns the reference DbReader page semantics
  (reversed-key range, regex rules filter, field projection,
  start-1 offset quirk, limit) — ``DbResource.java:44-51``,
  ``DbIterator.java:47-56``;
- config CRUD, the one-running-job-per-config admission rule, the job
  state machine, and admin status/stop behave as the reference
  resources do.
"""

import os
import time

import pytest
from pyspark.sql import functions as F

from warps_nutch_spark.config import make_test_config
from warps_nutch_spark.plans.round import RoundDriver
from warps_nutch_spark.service.client import NutchServiceClient
from warps_nutch_spark.service.master import NutchMasterServer
from warps_nutch_spark.simweb import SimWeb

START = 1_700_000_000_000
WEB = (5, 60, 7)

SMALL = dict(
    top_n=200,
    max_per_host=50,
    crawl_delay_ms=1000,
    round_time_limit_ms=600_000,
    host_buckets=4,
    bloom_partitions=4,
)


@pytest.fixture(scope="module")
def master(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("master"))
    srv = NutchMasterServer(spark, base, web_params=WEB, stop_delay_s=0.05)
    yield srv
    srv.close()


@pytest.fixture(scope="module")
def client(master):
    return NutchServiceClient(master.endpoint)


def _mk_config(client, conf_id):
    params = {k: str(v) for k, v in SMALL.items()}
    assert client.create_config(conf_id, params) == conf_id
    return conf_id


def test_config_crud(client):
    assert "default" in client.list_configs()
    cid = _mk_config(client, "conf-crud")
    assert client.get_property(cid, "top_n") == "200"
    client.set_property(cid, "top_n", "333")
    assert client.get_config(cid)["top_n"] == "333"
    # duplicate unforced -> 409
    with pytest.raises(Exception):
        client.create_config(cid, {})
    # forced create resets
    client.create_config(cid, {"top_n": "200"}, force=True)
    assert client.get_property(cid, "top_n") == "200"
    client.delete_config(cid)
    assert cid not in client.list_configs()


def test_stage_jobs_equal_native_round(spark, client, master, workdir):
    """INJECT + 2×(GENERATE,FETCH,PARSE,UPDATEDB) over REST == native."""
    web = SimWeb(*WEB)
    seeds = web.seeds(3)
    cid = _mk_config(client, "conf-stage")

    seed_dir = client.create_seed(seeds)
    assert os.path.isfile(os.path.join(seed_dir, "seed.txt"))

    def run(jtype, args=None):
        jid = client.create_job(jtype, args or {}, conf_id=cid,
                                crawl_id="stagecrawl")
        info = client.wait_job(jid)
        assert info["state"] == "FINISHED", info
        return info

    run("INJECT", {"seedDir": seed_dir})
    for r in range(2):
        assert run("GENERATE")["result"]["stopped_after"] == "generate"
        assert run("FETCH")["result"]["stopped_after"] == "fetch"
        assert run("PARSE")["result"]["stopped_after"] == "parse"
        stats = run("UPDATEDB")["result"]
        assert stats["batch_id"] == f"batch-{r:04d}"
        assert stats["fetched"] > 0

    # native twin
    drv = RoundDriver(spark, workdir, make_test_config(**SMALL), WEB, START)
    drv.inject(spark.createDataFrame([(u,) for u in seeds], ["value"]))
    for r in range(2):
        drv.run_round(r)
    drv.close()

    rest_store_dir = os.path.join(master.base_dir, "stagecrawl", "frontier")
    from warps_nutch_spark.store.frontier import ParquetFrontierStore

    rest_fr = ParquetFrontierStore(spark, rest_store_dir, 4).read()
    native_fr = drv.store.read()
    cols = ["url", "status", "fetch_time", "score", "updated_batch",
            "generated_batch", "signature", "distance"]
    a = {tuple(r) for r in rest_fr.select(*cols).collect()}
    b = {tuple(r) for r in native_fr.select(*cols).collect()}
    assert a == b

    # READDB job sees the same stats
    rd = run("READDB")["result"]
    assert rd["rows"] == native_fr.count()

    # INDEX job writes bulk files
    ix = run("INDEX", {"out": os.path.join(master.base_dir, "idx")})
    assert ix["result"]["indexed_docs"] > 0
    assert os.path.isdir(ix["result"]["out"])


def test_db_endpoint_page_semantics(spark, client, master):
    """/db over the crawl from the stage test: range + rules + fields +
    paging vs a locally computed expectation."""
    from warps_nutch_spark.functions import urls as U
    from warps_nutch_spark.store.frontier import ParquetFrontierStore

    store = ParquetFrontierStore(
        spark, os.path.join(master.base_dir, "stagecrawl", "frontier"), 4
    )
    rows = store.read().select("url", "status", "updated_batch").collect()
    # expectation mirroring DbReader: updated rows only (-all), regex
    # rules, reversed-key order, skip start-1, take limit
    flt = [r for r in rows
           if r["updated_batch"] is not None and "/search" not in r["url"]]
    flt.sort(key=lambda r: U.reverse_url(r["url"]))
    expect = [(r["url"], r["status"]) for r in flt[2:7]]

    out = client.db_query(
        crawlId="stagecrawl",
        urlFilter="-/search\n+.",
        fields=["url", "status"],
        start=3,
        limit=5,
    )["values"]
    assert [(v["url"], v["status"]) for v in out] == expect
    assert set(out[0].keys()) == {"url", "status"}

    # key range (inclusive), keys as URLs
    some = sorted({r["url"] for r in flt})[:1]
    got = client.db_query(crawlId="stagecrawl", startKey=some[0], endKey=some[0], limit=10)["values"]
    assert [v["url"] for v in got] == [some[0]]

    # batchId filter: a specific round only
    got = client.db_query(crawlId="stagecrawl", batchId="batch-0001", fields=["url"],
                          limit=10_000)
    exp = {r["url"] for r in rows if r["updated_batch"] == "batch-0001"}
    assert {v["url"] for v in got["values"]} == exp


def test_job_admission_and_state_machine(client, master):
    cid = _mk_config(client, "conf-admission")
    seed_dir = client.create_seed(SimWeb(*WEB).seeds(2))
    # a CRAWL job that runs long enough to observe RUNNING
    jid = client.create_job("CRAWL", {"rounds": 3, "seedDir": seed_dir},
                            conf_id=cid, crawl_id="admcrawl")
    # second job on the same config is refused while the first runs
    with pytest.raises(Exception):
        client.create_job("READDB", {}, conf_id=cid, crawl_id="admcrawl")
    # cooperative stop: finishes the current round then exits FINISHED
    time.sleep(0.3)
    assert client.stop_job(jid) is True
    info = client.wait_job(jid, timeout_s=600)
    assert info["state"] == "FINISHED"
    assert len(info["result"]) < 3  # stopped before all rounds ran
    # unknown job id
    assert client.job_info("nope-1")["state"] == "NOT_FOUND"
    # bad type -> 400
    with pytest.raises(Exception):
        client.create_job("EXPLODE", {})


def test_admin_status_and_listing(client):
    st = client.status()
    assert "default" in st["configuration"]
    assert isinstance(st["jobs"], list) and st["jobs"]
    states = {j["state"] for j in st["jobs"]}
    assert states <= {"IDLE", "RUNNING", "STOPPING", "FINISHED", "FAILED",
                      "KILLED"}
    done = client.list_jobs("FINISHED")
    assert all(j["state"] not in ("RUNNING", "IDLE") for j in done)


def test_admin_stop_lifecycle(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("master-stop"))
    srv = NutchMasterServer(spark, base, web_params=WEB, stop_delay_s=0.05)
    c = NutchServiceClient(srv.endpoint)
    msg = c.stop_server()["message"]
    assert "Stopping" in msg
    deadline = time.time() + 5
    while time.time() < deadline and not srv._stopped.is_set():
        time.sleep(0.05)
    assert srv._stopped.is_set()


def test_error_paths(client, master):
    import urllib.error
    import urllib.request

    # /db on a crawlId with no store -> empty result, not an error
    assert client.db_query(crawlId="nonexistent")["values"] == []
    # unknown config id -> 404 (KeyError mapping, same as /job, /seed)
    with pytest.raises(urllib.error.HTTPError) as ei:
        client.get_config("no-such-config")
    assert ei.value.code == 404
    # seed create with no urls -> 400
    with pytest.raises(urllib.error.HTTPError) as ei:
        client.create_seed([])
    assert ei.value.code == 400
    # job create with missing args -> 400
    with pytest.raises(urllib.error.HTTPError) as ei:
        client._call("POST", "/job/create", {"type": "READDB"})
    assert ei.value.code == 400
    # job create with unknown confId -> 400
    with pytest.raises(urllib.error.HTTPError) as ei:
        client.create_job("READDB", {}, conf_id="ghost")
    assert ei.value.code == 400
    # unknown route -> 404
    with pytest.raises(urllib.error.HTTPError) as ei:
        client._call("GET", "/nope")
    assert ei.value.code == 404
    # bad db filter key type -> 400, not a server crash
    with pytest.raises(urllib.error.HTTPError) as ei:
        client.db_query(crawlId="stagecrawl", startKey="not a url")
    assert ei.value.code == 400


def test_create_right_after_finished_is_admitted(spark, tmp_path, monkeypatch):
    """A job reads FINISHED only once its worker has closed the driver
    and reset the job group, so the next job on the same config is
    admitted at once even when that cleanup is slow."""
    from warps_nutch_spark.service.jobs import ConfManager, JobManager

    monkeypatch.setattr(RoundDriver, "close", lambda self: time.sleep(0.3))
    monkeypatch.setattr(JobManager, "_execute", lambda self, info, drv, stop: {"ok": True})
    jobs = JobManager(spark, str(tmp_path), ConfManager(), web_params=WEB)
    for _ in range(3):
        jid = jobs.create({"type": "READDB", "args": {}})
        deadline = time.time() + 30
        while jobs.get(jid)["state"] in ("IDLE", "RUNNING") and time.time() < deadline:
            time.sleep(0.005)
        assert jobs.get(jid)["state"] == "FINISHED"

"""``db_read``: REST ``/db`` reads from an in-process NutchMasterServer.

Set-up writes a crawler's state without crawling: a base snapshot of
every page of a Zipf SimWeb (~2*10^4 rows, most of them fetched, half
of them carrying an ``updated_batch`` mark so the default ``-all``
filter returns rows), two open delta snapshots that re-mark and
re-score a tenth of the rows each and add new unfetched URLs, and the
URL-seen Bloom filter over every row. It uses only
``ParquetFrontierStore.init`` / ``merge`` over
``operators.rows.complete_rows`` and ``BloomUrlSeen.merge_round``.

The timed region is a closed loop of ``CLIENTS`` client threads, each
sending its own seeded sequence of ``/db`` queries through
``NutchServiceClient`` until ``--seconds`` have passed: host key
ranges, regex ``urlFilter``, deep ``start`` paging, and ``batchId``
with a ``fields`` projection. No query writes.

Every returned page is compared, after the timed region, with the page
pandas computes from the rows set-up wrote (merge-on-read resolved in
pandas, keys from ``functions.urls.reverse_url``), so the check shares
nothing with the Spark read path.

The traced run sends each client's first queries again with the
server's db handler wrapped. It then runs one crawl
round stage by stage over the same store, checked against
``tests/crawl_oracle.CrawlOracle`` loaded with the same rows, and
closes with a compaction of the store it read from. A tenth of the
frontier is eligible, so generate ranks the whole frontier while fetch
and parse stay small.
"""

from __future__ import annotations

import os
import random
import statistics
import threading
import time

import numpy as np
import pandas as pd

from warps_nutch_spark import simweb as sw
from warps_nutch_spark.functions.status import CrawlStatus
from warps_nutch_spark.functions.urls import reverse_url
from warps_nutch_spark.operators.rows import complete_rows
from warps_nutch_spark.plans.round import RoundDriver
from warps_nutch_spark.service.client import NutchServiceClient
from warps_nutch_spark.service.master import NutchMasterServer

from . import crawl, tracing

START_MS = crawl.START_MS
DAY_MS = 86_400_000
HOSTS = 100
PAGES_BASE = 100
DELTAS = 2
NEW_PER_HOST = 2
ELIGIBLE_SHARE = 0.1
CLIENTS = 3
QUERIES_PER_CLIENT = 2000
TRACED_QUERIES_PER_CLIENT = 2
COMPARED = ("url", "host", "status", "fetch_time", "score", "updated_batch")
FIELDS = ["url", "status", "score", "fetch_time"]
# the traced run's crawl round is checked with crawl's oracle settings
CONFIG = crawl.CONFIG


def web_params(seed: int) -> tuple:
    return (HOSTS, PAGES_BASE, seed)


# -- the rows set-up writes ---------------------------------------------------

def snapshots(seed: int) -> list[pd.DataFrame]:
    """The base snapshot's rows, then each delta's, as
    (url, status, fetch_time, score, updated_batch)."""
    web = sw.SimWeb(*web_params(seed))
    urls = web.all_urls()["url"].astype(str).to_numpy()
    rng = np.random.default_rng(seed)
    n = len(urls)
    eligible = rng.random(n) < ELIGIBLE_SHARE
    base = pd.DataFrame(
        {
            "url": urls,
            "status": np.where(eligible, CrawlStatus.UNFETCHED, CrawlStatus.FETCHED).astype(
                "int32"
            ),
            "fetch_time": np.where(
                eligible, START_MS, START_MS + rng.integers(1, 30, n) * DAY_MS
            ).astype("int64"),
            "score": rng.random(n).astype("float32"),
            "updated_batch": np.where(rng.random(n) < 0.5, "batch-0000", None),
        }
    )
    deltas = []
    for d in range(1, DELTAS + 1):
        rows = base[~eligible].sample(n=n // 10, random_state=seed + d).copy()
        rows["fetch_time"] = START_MS + d * DAY_MS
        rows["score"] = rng.random(len(rows)).astype("float32")
        rows["updated_batch"] = f"batch-{d:04d}"
        deltas.append(rows)
    # pages past each host's size: URLs the base never held
    hi = np.repeat(np.arange(HOSTS), NEW_PER_HOST)
    j = web.host_sizes[hi] + np.tile(np.arange(NEW_PER_HOST), HOSTS)
    fresh = pd.DataFrame(
        {
            "url": sw.make_url(hi, j).astype(str),
            "status": np.int32(CrawlStatus.UNFETCHED),
            "fetch_time": np.int64(START_MS),
            "score": rng.random(len(hi)).astype("float32"),
            "updated_batch": f"batch-{DELTAS:04d}",
        }
    )
    deltas[-1] = pd.concat([deltas[-1], fresh], ignore_index=True)
    return [base] + deltas


def resolved(tables: list[pd.DataFrame]) -> pd.DataFrame:
    """The frontier the snapshots describe, newest row per URL, in
    reversed-key order with the key and host alongside."""
    tab = pd.concat(tables, ignore_index=True).drop_duplicates("url", keep="last")
    tab = tab.assign(
        key=tab["url"].map(reverse_url),
        host=tab["url"].str.extract(r"^http://([^/]+)/", expand=False),
    )
    return tab.sort_values("key", kind="stable").reset_index(drop=True)


def setup(ctx) -> RoundDriver:
    """A crawl directory under the server's base dir whose store and
    URL-seen filter hold the snapshots."""
    drv = RoundDriver(
        ctx.spark, os.path.join(ctx.work, "db", "crawl"), CONFIG, web_params(ctx.seed), START_MS
    )
    tables = snapshots(ctx.seed)
    frames = [complete_rows(ctx.spark.createDataFrame(t), CONFIG, START_MS) for t in tables]
    drv.store.init(frames[0], {"op": "init"})
    for d, frame in enumerate(frames[1:], start=1):
        drv.store.merge(frame, {"op": "updatedb", "batch_id": f"batch-{d:04d}"})
    rows = frames[0].select("url_hash").unionByName(frames[-1].select("url_hash"))
    drv.urlseen.merge_round(rows, "url_hash", "setup")
    return drv


# -- queries ----------------------------------------------------------------------

def queries(seed: int, client: int, tab: pd.DataFrame) -> list[dict]:
    """One client's seeded query sequence."""
    rng = random.Random(seed * 1_000 + client)
    marked = int(tab["updated_batch"].notna().sum())
    out = []
    for i in range(QUERIES_PER_CLIENT):
        # kinds in a fixed rotation, so every run sends the same mix
        kind = (i + client) % 4
        h = rng.randrange(HOSTS)
        if kind == 0:
            q = {"startKey": f"http://host{h}.test/", "endKey": f"http://host{h}.test/~", "limit": 50}
        elif kind == 1:
            q = {"urlFilter": rf"host{h}\.test/(index|media)/", "limit": 50}
        elif kind == 2:
            q = {"start": rng.randrange(marked // 4, marked - 50), "limit": 50}
        else:
            q = {
                "batchId": f"batch-{rng.randrange(1, DELTAS + 1):04d}",
                "fields": FIELDS,
                "start": rng.randrange(0, 500),
                "limit": 50,
            }
        out.append(q)
    return out


def expected_page(tab: pd.DataFrame, q: dict) -> pd.DataFrame:
    """DbResource semantics over the pandas frontier: inclusive key
    range, regex filter, UPDATEDB-mark filter, ``start - 1`` rows
    skipped, ``limit`` rows kept."""
    df = tab
    if q.get("startKey"):
        df = df[df["key"] >= reverse_url(q["startKey"])]
    if q.get("endKey"):
        df = df[df["key"] <= reverse_url(q["endKey"])]
    if q.get("urlFilter"):
        df = df[df["url"].str.contains(q["urlFilter"], regex=True)]
    batch = q.get("batchId", "-all")
    if batch in ("-all", "all"):
        df = df[df["updated_batch"].notna()]
    elif batch is not None:
        df = df[df["updated_batch"] == batch]
    off = max(0, int(q.get("start", 0)) - 1)
    return df.iloc[off : off + int(q.get("limit", 100))]


def page_mismatch(tab: pd.DataFrame, q: dict, values: list[dict]) -> str | None:
    exp = expected_page(tab, q)
    cols = [c for c in COMPARED if c in q.get("fields", COMPARED)]
    got = [tuple(v.get(c) for c in cols) for v in values]
    want = [
        tuple(float(np.float32(r[c])) if c == "score" else r[c] for c in cols)
        for r in exp[cols].astype(object).where(exp[cols].notna(), None).to_dict("records")
    ]
    if got != want:
        return f"{q}: {len(got)} rows returned, {len(want)} expected"
    return None


def run_clients(endpoint: str, per_client: list[list[dict]], crawl_id: str, seconds: float):
    """``len(per_client)`` client threads, each sending its queries
    until ``seconds`` have passed. Returns the calls as
    (query, latency_s, values | None, error | None) and the wall time
    from the first send to the last reply."""
    calls: list[tuple] = []
    lock = threading.Lock()
    t0 = time.perf_counter()
    deadline = t0 + seconds

    def loop(qs: list[dict]) -> None:
        cli = NutchServiceClient(endpoint, timeout_s=120)
        for q in qs:
            if time.perf_counter() >= deadline:
                return
            t = time.perf_counter()
            try:
                values, err = cli.db_query(crawlId=crawl_id, **q)["values"], None
            except Exception as exc:  # noqa: BLE001 - a failed request is a measured outcome
                values, err = None, f"{type(exc).__name__}: {exc}"
            with lock:
                calls.append((q, time.perf_counter() - t, values, err))

    threads = [threading.Thread(target=loop, args=(qs,)) for qs in per_client]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    return calls, time.perf_counter() - t0


def check(tab: pd.DataFrame, calls: list[tuple]) -> list[str]:
    bad = []
    for q, _, values, err in calls:
        why = err if err else page_mismatch(tab, q, values)
        if why:
            bad.append(why)
    return bad


# -- the workload -------------------------------------------------------------

def measure(ctx, drv: RoundDriver) -> dict:
    crawl_id = os.path.basename(drv.workdir)
    tab = resolved(snapshots(ctx.seed))
    per_client = [queries(ctx.seed, c, tab) for c in range(CLIENTS)]
    server = NutchMasterServer(ctx.spark, os.path.dirname(drv.workdir), web_params=web_params(ctx.seed))
    try:
        # a few queries, untimed, so the timed ones find the server warm
        warm, _ = run_clients(
            server.endpoint, [[q] for q in per_client[0][-4:]], crawl_id, float("inf")
        )
        calls, wall = run_clients(server.endpoint, per_client, crawl_id, ctx.seconds)
        layers: dict = {}
        traced_calls: list[tuple] = []
        if ctx.trace:
            traced_calls, layers = traced_queries(
                ctx, server, [qs[:TRACED_QUERIES_PER_CLIENT] for qs in per_client], crawl_id
            )
    finally:
        server.close()
    failures = check(tab, warm + calls + traced_calls)
    lat = [c[1] for c in calls]
    if ctx.trace:
        layers["trace.op_ms"] = 1000.0 * statistics.median(c[1] for c in traced_calls)
        # one crawl round over the queried store, stage by stage, checked
        # against the oracle loaded with the same rows (it ends with a
        # compaction, the write side of the store just read from)
        expected, _ = crawl.oracle_rounds(
            CONFIG, web_params(ctx.seed), [], crawl.TRACED_ROUNDS, rows=tab
        )
        stats, round_layers = crawl.traced_rounds(ctx, drv)
        layers.update(round_layers)
        failures += [f"round {r}: {why}" for r, why in crawl.check(drv, stats, expected).items()]
    return {
        "attempted": len(warm) + len(calls) + len(traced_calls) + (1 if ctx.trace else 0),
        "failures": failures,
        "op_ms": [x * 1000.0 for x in lat],
        "work_per_s": len(calls) / wall,
        "view": {
            "db_query_ms_p50": (1000.0 * statistics.median(lat), f"ms (n={len(lat)})"),
            "db_queries_per_s": (len(calls) / wall, f"queries/s ({CLIENTS} clients)"),
        },
        "layers": layers,
    }


def traced_queries(ctx, server, per_client, crawl_id) -> tuple[list, dict]:
    """Every query of ``per_client`` with the server's db handler
    wrapped in a span. Layer times are per query."""
    tracer = ctx.tracer
    undo = tracing.wrap(tracer, NutchMasterServer, "_db_query", "dbreader.query")
    try:
        with tracer.span("traced") as sp:
            calls, _ = run_clients(server.endpoint, per_client, crawl_id, float("inf"))
    finally:
        undo()
    n = max(1, len(calls))
    server_s = tracer.total("dbreader.query", [sp])
    return calls, {
        "dbreader.server_s": server_s / n,
        "dbreader.rows_returned": sum(len(c[2] or []) for c in calls),
        "service.http_s": (sum(c[1] for c in calls) - server_s) / n,
    }

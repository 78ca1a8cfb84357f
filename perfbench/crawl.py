"""``crawl_expand``: a fresh crawl from seeds over a Zipf SimWeb.

Set-up injects ``SEEDS_PER_HOST`` seeds on each of ``HOSTS`` hosts
(a ~1.2*10^4-page web) into a fresh crawl directory. The timed region
runs crawl rounds from round 0 on that directory
until ``--seconds`` have passed (at least ``MIN_ROUNDS``, at most
``MAX_ROUNDS``). Round 0 fetches every seed and discovers several new
URLs per fetched page, so the per-row work of the fetch politeness
UDF, the parse decode UDF, updatedb's explode / aggregate / new-row
anti-join and the URL-seen merge is what a round spends beyond Spark's
per-job cost.

Every round is checked, outside the timed region, against
``tests/crawl_oracle.CrawlOracle`` run on the same config, web and
seeds: the fetched URL set, the fetch status counts, and (after the
last round) the frontier's URL set and the URL-seen filter's answer for
every URL the oracle has seen.

The traced run crawls that directory stage by stage with the
store and URL-seen methods wrapped, then serves a short burst of
``/db`` host-range reads over that crawl's frontier, checked against
the oracle's frontier.
"""

from __future__ import annotations

import os
import random
import statistics
import time

import pandas as pd
from pyspark.sql import functions as F

from warps_nutch_spark.config import CrawlConfig
from warps_nutch_spark.functions.urls import reverse_url
from warps_nutch_spark.plans.round import RoundDriver
from warps_nutch_spark.service.master import NutchMasterServer
from warps_nutch_spark.simweb import SimWeb
from warps_nutch_spark.store.frontier import ParquetFrontierStore
from warps_nutch_spark.store.urlseen import BloomUrlSeen

from . import tracing
from .env import disk_bytes

START_MS = 1_700_000_000_000
HOSTS = 200
PAGES_BASE = 60
SEEDS_PER_HOST = 4
MIN_ROUNDS = 1
MAX_ROUNDS = 3
# one round stage by stage: a traced run has about the time of an
# untraced one plus its per-layer bookkeeping
TRACED_ROUNDS = 1
STAGES = ("generate", "fetch", "parse", "updatedb")
DB_CLIENTS = 3
DB_QUERIES_PER_CLIENT = 2

# top_n and max_per_host never bind, so the fetchlist is the whole
# eligible frontier (the oracle has no detail quota)
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


def web_params(seed: int) -> tuple:
    return (HOSTS, PAGES_BASE, seed)


def seed_urls(seed: int) -> list[str]:
    return SimWeb(*web_params(seed)).seeds(SEEDS_PER_HOST)


def setup(ctx) -> RoundDriver:
    """A driver over a fresh crawl directory with the seed list injected."""
    drv = RoundDriver(
        ctx.spark, os.path.join(ctx.work, "crawl", "crawl"), CONFIG, web_params(ctx.seed), START_MS
    )
    drv.inject(ctx.spark.createDataFrame([(u,) for u in seed_urls(ctx.seed)], ["value"]))
    return drv


# -- rounds -------------------------------------------------------------------

def run_rounds(drv: RoundDriver, seconds: float) -> list[dict]:
    """Untraced rounds until ``seconds`` have passed (within
    ``MIN_ROUNDS``..``MAX_ROUNDS``). A round that raises ends the loop;
    its entry carries the error."""
    t0 = time.perf_counter()
    stats: list[dict] = []
    for r in range(MAX_ROUNDS):
        t = time.perf_counter()
        try:
            st = drv.run_round(r)
        except Exception as exc:  # noqa: BLE001 - a failed round is a measured outcome
            stats.append({"error": f"{type(exc).__name__}: {exc}"})
            break
        st["wall_s"] = time.perf_counter() - t
        stats.append(st)
        if r + 1 >= MIN_ROUNDS and time.perf_counter() - t0 >= seconds:
            break
    return stats


def traced_rounds(ctx, drv: RoundDriver) -> tuple[list[dict], dict]:
    """Rounds with one ``run_round(r, stop_after=stage)`` call per
    stage, each inside its own span, and the eager store and URL-seen
    methods wrapped. A full read of the store is timed before the
    rounds and again after their delta merges; the pass ends with a
    compaction of the store. Returns the round stats and the layer
    metrics that are not Spark counters."""
    tracer = ctx.tracer
    version_before = drv.store.current_version()
    rows_before = drv.store.read().count()
    restore = [
        tracing.wrap(tracer, ParquetFrontierStore, "merge_linked", "frontier.merge_linked"),
        tracing.wrap(tracer, ParquetFrontierStore, "compact", "frontier.compact"),
        tracing.wrap(tracer, BloomUrlSeen, "merge_round", "urlseen.merge_round"),
    ]
    stats: list[dict] = []
    try:
        with tracer.span("traced") as traced:
            full_read(tracer, drv.store)
            for r in range(TRACED_ROUNDS):
                calls: dict[str, dict] = {}
                with tracer.span("round", round=r) as sp:
                    try:
                        for stage in STAGES:
                            with tracer.span(stage, round=r) as ss:
                                calls[stage] = drv.run_round(
                                    r, stop_after=None if stage == "updatedb" else stage
                                )
                            calls[stage]["span_s"] = ss["end"] - ss["start"]
                    except Exception as exc:  # noqa: BLE001
                        calls = {"error": f"{type(exc).__name__}: {exc}"}
                if "error" in calls:
                    stats.append(calls)
                    break
                st = dict(calls["updatedb"])
                st["wall_s"] = sp["end"] - sp["start"]
                # time in the round that the program's own stage timers
                # do not cover: marker checks, artifact re-reads and the
                # frontier release and re-read each per-stage call adds
                st["overhead_s"] = sum(
                    c["span_s"] - c["stage_sec"].get(stage, 0.0) for stage, c in calls.items()
                )
                stats.append(st)
            full_read(tracer, drv.store)
            drv.store.compact({"op": "compact"})
    finally:
        for undo in restore:
            undo()
    return stats, store_layers(drv, tracer, traced, stats, rows_before, version_before)


def full_read(tracer, store: ParquetFrontierStore) -> None:
    """``store.read()`` carried out in full, merge-on-read and every
    column of every row, in a ``frontier.read`` span. ``read`` alone
    only plans the read."""
    with tracer.span("frontier.read"):
        store.read().write.format("noop").mode("overwrite").save()


def _artifact(drv: RoundDriver, r: int, stage: str):
    # stage artifacts live at rounds/<batch_id>/<stage>/data
    return drv.spark.read.parquet(
        os.path.join(drv.workdir, "rounds", f"batch-{r:04d}", stage, "data")
    )


def store_layers(drv, tracer, traced, stats, rows_before, version_before) -> dict:
    """Layer metrics of a traced pass that are not Spark counters: span
    totals, artifact row counts and store state."""
    ok = [s for s in stats if "error" not in s]
    within = [traced]
    gen_rows = fetched = host_groups = parse_rows = decode_ok = merged = 0
    for r in range(len(ok)):
        gen_rows += _artifact(drv, r, "generate").count()
        fetch = _artifact(drv, r, "fetch")
        fetched += fetch.filter(F.col("fetched")).count()
        host_groups += fetch.select("host").distinct().count()
        parse = _artifact(drv, r, "parse")
        parse_rows += parse.count()
        decode_ok += parse.filter(F.col("decode_ok")).count()
        merged += _artifact(drv, r, "updatedb").count()
    rows_after = drv.store.read().count()
    chain = drv.store.lineage_chain()
    return {
        "generate.wall_s": tracer.total("generate", within),
        "generate.rows_out": gen_rows,
        "fetch.wall_s": tracer.total("fetch", within),
        "fetch.rows_fetched": fetched,
        "fetch.fetched_ratio": fetched / gen_rows if gen_rows else 0.0,
        "fetch.host_groups": host_groups,
        "parse.wall_s": tracer.total("parse", within),
        "parse.rows": parse_rows,
        "parse.decode_ok_ratio": decode_ok / parse_rows if parse_rows else 0.0,
        "updatedb.wall_s": tracer.total("updatedb", within),
        "updatedb.plan_write_s": sum(s["stage_sec"].get("updatedb.plan_write", 0.0) for s in ok),
        "updatedb.rows_merged": merged,
        "updatedb.new_rows": rows_after - rows_before,
        "frontier.merge_linked_s": tracer.self_time(
            "frontier.merge_linked", "frontier.compact", within
        ),
        "frontier.compact_s": tracer.total("frontier.compact", within),
        "frontier.compactions": sum(
            1 for ln in chain[version_before + 1 :] if ln.get("op") == "compact"
        ),
        "frontier.delta_snapshots": sum(
            1 for ln in chain[version_before + 1 :] if ln.get("kind") == "delta"
        ),
        "frontier.rows": rows_after,
        "frontier.disk_bytes": disk_bytes(drv.store.path),
        "frontier.read_s": tracer.total("frontier.read", within),
        "urlseen.merge_round_s": tracer.total("urlseen.merge_round", within),
        "urlseen.disk_bytes": disk_bytes(drv.urlseen.path),
        "round.overhead_s": sum(s["overhead_s"] for s in ok) / max(1, len(ok)),
    }


# -- output check ----------------------------------------------------------

def oracle_rounds(cfg: CrawlConfig, params: tuple, seeds: list[str], n_rounds: int, rows=None):
    """The oracle's rounds over the same web, after it has been loaded
    with ``rows`` (a frontier table: url, status, fetch_time, score) and
    given ``seeds``. Returns the per-round results and the oracle."""
    from tests.crawl_oracle import CrawlOracle, OracleRow

    oracle = CrawlOracle(cfg, params, START_MS)
    if rows is not None:
        for rec in rows[["url", "host", "status", "fetch_time", "score"]].itertuples(index=False):
            oracle.frontier[rec.url] = OracleRow(
                rec.url,
                rec.host,
                status=int(rec.status),
                fetch_time=int(rec.fetch_time),
                fetch_interval=cfg.default_fetch_interval_sec,
                score=float(rec.score),
                distance=0,
                priority=cfg.priority_default,
            )
    oracle.inject(seeds)
    return [oracle.run_round(r) for r in range(n_rounds)], oracle


def check(drv: RoundDriver, stats: list[dict], expected: list[dict]) -> dict[int, str]:
    """Mismatching rounds -> reason; empty when every round matches
    the oracle."""
    bad: dict[int, str] = {}
    for r, st in enumerate(stats):
        if "error" in st:
            bad[r] = st["error"]
            continue
        exp = expected[r]
        fetched = {
            row["url"]
            for row in _artifact(drv, r, "fetch").filter(F.col("fetched")).select("url").collect()
        }
        counts = {
            int(row["counter"]): row["value"]
            for row in drv.metrics()
            .filter((F.col("batch_id") == f"batch-{r:04d}") & (F.col("stage") == "fetch"))
            .collect()
        }
        if fetched != exp["fetched_set"]:
            bad[r] = f"fetched set differs ({len(fetched)} vs {len(exp['fetched_set'])} URLs)"
        elif counts != exp["status_counts"]:
            bad[r] = f"fetch status counts {counts} vs {exp['status_counts']}"
        elif r == len(stats) - 1:
            why = seen_mismatch(drv, exp["seen"])
            if why:
                bad[r] = why
    return bad


def seen_mismatch(drv: RoundDriver, seen: set[str]) -> str | None:
    """The frontier holds exactly the oracle's URLs, and the URL-seen
    filter answers "maybe seen" for every one of them."""
    urls = {row["url"] for row in drv.store.read().select("url").collect()}
    if urls != seen:
        return f"frontier URL set differs ({len(urls)} vs {len(seen)} URLs)"
    probe = drv.store.read().select("url_hash")
    missed = drv.urlseen.maybe_seen(probe, "url_hash").filter(~F.col("maybe_seen")).count()
    if missed:
        return f"URL-seen filter misses {missed} frontier URLs"
    return None


def oracle_table(oracle) -> pd.DataFrame:
    """The oracle's frontier as the ``/db`` check's pandas table."""
    tab = pd.DataFrame(
        [(r.url, r.host, r.status) for r in oracle.frontier.values()],
        columns=["url", "host", "status"],
    )
    tab["key"] = tab["url"].map(reverse_url)
    return tab.sort_values("key", kind="stable").reset_index(drop=True)


# -- the workload -----------------------------------------------------------

def measure(ctx, drv: RoundDriver) -> dict:
    seeds = seed_urls(ctx.seed)
    layers: dict = {}
    db_calls: list[tuple] = []
    if ctx.trace:
        stats, layers = traced_rounds(ctx, drv)
    else:
        stats = run_rounds(drv, ctx.seconds)
    walls = [s["wall_s"] for s in stats if "error" not in s]

    expected, oracle = oracle_rounds(CONFIG, web_params(ctx.seed), seeds, len(stats))
    failures = [f"round {r}: {why}" for r, why in check(drv, stats, expected).items()]
    if ctx.trace:
        # compared with the untraced runs' op_ms_p50, this gives the
        # tracing overhead
        layers["trace.op_ms"] = 1000.0 * statistics.median(walls) if walls else 0.0
        db_calls, db_layers, db_failures = db_burst(ctx, drv, oracle_table(oracle))
        layers.update(db_layers)
        failures += db_failures

    work = sum(s["fetched"] + s["updated"] for s in stats if "error" not in s)
    per_s = work / sum(walls) if walls else 0.0
    return {
        "attempted": len(stats) + len(db_calls),
        "failures": failures,
        "op_ms": [w * 1000.0 for w in walls],
        "work_per_s": per_s,
        "view": {
            "crawl_urls_per_s": (per_s, "urls/s"),
            "round_s_p50": (statistics.median(walls) if walls else 0.0, f"s (n={len(walls)})"),
        },
        "layers": layers,
        "detail": [s.get("stage_sec", s) for s in stats],
    }


def db_burst(ctx, drv: RoundDriver, tab: pd.DataFrame) -> tuple[list[tuple], dict, list[str]]:
    """A short burst of ``/db`` host-range reads over the crawl's
    frontier, with the server's db handler traced, each page checked
    against ``tab``."""
    from . import dbread  # dbread builds on this module

    rng = random.Random(ctx.seed)
    per_client = [
        [
            {
                "startKey": f"http://host{h}.test/",
                "endKey": f"http://host{h}.test/~",
                "batchId": None,
                "fields": ["url", "host", "status"],
                "limit": 50,
            }
            for h in (rng.randrange(HOSTS) for _ in range(DB_QUERIES_PER_CLIENT))
        ]
        for _ in range(DB_CLIENTS)
    ]
    server = NutchMasterServer(ctx.spark, os.path.dirname(drv.workdir), web_params=web_params(ctx.seed))
    try:
        calls, layers = dbread.traced_queries(ctx, server, per_client, os.path.basename(drv.workdir))
    finally:
        server.close()
    return calls, layers, dbread.check(tab, calls)

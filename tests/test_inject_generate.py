"""Inject + Generate semantics vs a pure-Python oracle — mirrors the
reference's TestInjector and TestGenerator
(src/test/org/apache/nutch/crawl/TestGenerator.java:72-265: topN picks
highest scores; generate.max.count per host; filter toggle)."""

import pandas as pd
from pyspark.sql import functions as F

from warps_nutch_spark.config import make_test_config
from warps_nutch_spark.functions.status import CrawlStatus
from warps_nutch_spark.operators import generate as gen_op
from warps_nutch_spark.operators import inject as inj_op
from warps_nutch_spark.operators.rows import complete_rows
from warps_nutch_spark.store.frontier import ParquetFrontierStore

NOW = 1_700_000_000_000


def _store(spark, workdir):
    return ParquetFrontierStore(spark, f"{workdir}/frontier", host_buckets=4)


def test_inject_seed_rows(spark, workdir):
    cfg = make_test_config()
    seeds = spark.createDataFrame(
        [
            ("http://host0.test/index/0",),
            ("# a comment",),
            ("http://host1.test/detail/1\tnutch.score=7.5\tnutch.fetchIntervalSec=120",),
            ("HTTP://Host2.TEST:80/a/../b",),
            ("",),
        ],
        ["value"],
    )
    store = _store(spark, workdir)
    parsed = inj_op.parse_seed_lines(spark, seeds)
    inj_op.inject(store, parsed, cfg, NOW, "b0")
    rows = {r["url"]: r for r in store.read().collect()}

    assert set(rows) == {
        "http://host0.test/index/0",
        "http://host1.test/detail/1",
        "http://host2.test/b",
    }
    r0 = rows["http://host0.test/index/0"]
    assert r0["score"] == cfg.injected_score
    assert r0["cash"] == cfg.injected_score  # OPIC injectedScore
    assert r0["fetch_interval"] == cfg.seed_fetch_interval_sec
    assert r0["priority"] == cfg.priority_seed
    assert r0["distance"] == 0 and r0["is_seed"]
    assert r0["status"] == CrawlStatus.UNFETCHED
    r1 = rows["http://host1.test/detail/1"]
    assert r1["score"] == 7.5 and r1["fetch_interval"] == 120
    assert len(r0["url_hash"]) == 40


def test_reinject_preserves_crawl_state(spark, workdir):
    cfg = make_test_config()
    store = _store(spark, workdir)
    seeds = spark.createDataFrame([("http://host0.test/index/0",)], ["value"])
    inj_op.inject(store, inj_op.parse_seed_lines(spark, seeds), cfg, NOW, "b0")
    # simulate a fetch: flip status
    df = store.read().withColumn("status", F.lit(CrawlStatus.FETCHED))
    store.merge(df)
    inj_op.inject(store, inj_op.parse_seed_lines(spark, seeds), cfg, NOW, "b1")
    row = store.read().collect()[0]
    assert row["status"] == CrawlStatus.FETCHED  # crawl state kept
    assert row["is_seed"] and row["priority"] == cfg.priority_seed


def _mk_frontier(spark, cfg, rows):
    """rows: list of (url, score, priority, distance)"""
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["url", "score", "priority", "distance"])
    )
    return complete_rows(df, cfg, NOW)


def _oracle_generate(rows, cfg):
    """Independent pure-Python implementation of the Generator
    selection (priority desc, score desc, url asc; per-host cap; topN
    with must-fetch exemption)."""
    import re

    def host(u):
        return re.match(r"^https?://([^/:]+)", u).group(1)

    rows = sorted(rows, key=lambda r: (-r[2], -r[1], r[0]))
    per_host = {}
    capped = []
    for r in rows:
        h = host(r[0])
        per_host[h] = per_host.get(h, 0) + 1
        if per_host[h] <= cfg.max_per_host:
            capped.append(r)
    exempt = [r for r in capped if r[2] >= cfg.priority_must_fetch]
    normal = [r for r in capped if r[2] < cfg.priority_must_fetch][: cfg.top_n]
    return {r[0] for r in exempt + normal}


def test_generate_topn_highest_scores(spark, workdir):
    cfg = make_test_config(top_n=5, max_per_host=100)
    rows = [
        (f"http://host{i % 3}.test/page/{i}", float((i * 37) % 100), 0, 1)
        for i in range(30)
    ]
    frontier = _mk_frontier(spark, cfg, rows)
    fl = gen_op.generate(frontier, cfg, NOW, "b1")
    got = {r["url"] for r in fl.select("url").collect()}
    assert got == _oracle_generate(rows, cfg)
    assert fl.filter(F.col("generated_batch") != "b1").count() == 0


def test_generate_max_per_host(spark, workdir):
    cfg = make_test_config(top_n=100, max_per_host=3)
    rows = [(f"http://host0.test/page/{i}", float(i), 0, 1) for i in range(10)]
    rows += [(f"http://host1.test/page/{i}", float(i), 0, 1) for i in range(2)]
    frontier = _mk_frontier(spark, cfg, rows)
    fl = gen_op.generate(frontier, cfg, NOW, "b1").toPandas()
    by_host = fl.groupby("host").size().to_dict()
    assert by_host["host0.test"] == 3
    assert by_host["host1.test"] == 2
    # best-first within host0: highest scores kept
    h0 = set(fl[fl.host == "host0.test"].url)
    assert h0 == {f"http://host0.test/page/{i}" for i in (7, 8, 9)}


def test_generate_guards(spark, workdir):
    cfg = make_test_config(top_n=100, max_distance=2)
    rows = [
        ("http://host0.test/page/1", 1.0, 0, 1),
        ("http://host0.test/page/2", 1.0, 0, 5),  # too deep
        ("http://host0.test/page/3", 1.0, 0, 2),
    ]
    frontier = _mk_frontier(spark, cfg, rows)
    # page/3 already generated; page/1 not due yet
    frontier = frontier.withColumn(
        "generated_batch",
        F.when(F.col("url").endswith("/3"), "old").otherwise(F.lit(None)),
    ).withColumn(
        "fetch_time",
        F.when(F.col("url").endswith("/1"), F.lit(NOW + 10_000_000)).otherwise(
            F.col("fetch_time")
        ),
    )
    got = {r["url"] for r in gen_op.generate(frontier, cfg, NOW, "b1").collect()}
    assert got == set()  # all three excluded for different reasons

    # unreachable host guard
    rows2 = [("http://bad.test/p/1", 1.0, 0, 0), ("http://ok.test/p/1", 1.0, 0, 0)]
    f2 = _mk_frontier(spark, cfg, rows2)
    unreachable = spark.createDataFrame([("bad.test",)], ["host"])
    got2 = {r["url"] for r in gen_op.generate(f2, cfg, NOW, "b1", unreachable).collect()}
    assert got2 == {"http://ok.test/p/1"}


def test_generate_seeds_exempt_from_topn(spark, workdir):
    cfg = make_test_config(top_n=2, max_per_host=100)
    rows = [(f"http://host0.test/page/{i}", float(i), 0, 1) for i in range(5)]
    rows += [(f"http://seed.test/index/{i}", 0.5, cfg.priority_seed, 0) for i in range(3)]
    frontier = _mk_frontier(spark, cfg, rows)
    got = {r["url"] for r in gen_op.generate(frontier, cfg, NOW, "b1").collect()}
    assert got == _oracle_generate(rows, cfg)
    assert len([u for u in got if "seed.test" in u]) == 3  # all seeds in
    assert len(got) == 5  # 3 seeds + topN(2)


def test_generate_detail_quota_demotes(spark, workdir):
    cfg = make_test_config(top_n=3, max_per_host=100)
    # 5 detail pages with high scores, 3 index pages with low scores
    rows = [(f"http://host0.test/detail/{i}", 100.0 + i, 0, 1) for i in range(5)]
    rows += [(f"http://host1.test/index.html", 1.0, 0, 1)]
    frontier = _mk_frontier(spark, cfg, rows)
    fl = gen_op.generate(frontier, cfg, NOW, "b1").toPandas()
    # quota = 2/3 * 3 = 2 detail pages keep priority; overflow demoted
    # but still competes at default priority. topN=3 -> 2 best details
    # + best of the demoted/index pool by (priority, score, url).
    details = fl[fl.url.str.contains("/detail/")]
    assert len(details) <= 3
    kept_best = {f"http://host0.test/detail/{i}" for i in (3, 4)}
    assert kept_best <= set(fl.url)


def test_bandwidth_cap_limits_fetchlist(spark):
    """Q6: with fetcher.net.bandwidth.m configured, generate's topN is
    tightened to 30 x bandwidth_bytes / (avgPageBytes x 8)
    (TaskScheduler.java:391-394 inverted into a per-round cap)."""
    from warps_nutch_spark.config import make_test_config
    from warps_nutch_spark.operators import generate as gen_op
    from warps_nutch_spark.operators.generate import bandwidth_row_cap
    from warps_nutch_spark.operators.rows import complete_rows

    cfg = make_test_config(top_n=100, max_per_host=100, bandwidth_mbytes=1)
    avg_bytes = 500_000.0  # cap = 30 * 1MiB / (500k * 8) = 7
    assert bandwidth_row_cap(avg_bytes, cfg) == int(30 * 1024 * 1024 / (avg_bytes * 8))
    df = spark.createDataFrame(
        [(f"http://h{i % 5}.test/doc/{i}",) for i in range(200)], ["url"]
    )
    fr = complete_rows(df, cfg, 1_700_000_000_000)
    out = gen_op.generate(fr, cfg, 1_700_000_000_001, "b1", avg_page_bytes=avg_bytes)
    assert out.count() == bandwidth_row_cap(avg_bytes, cfg)
    # throttle off -> full topN
    out_full = gen_op.generate(fr, cfg, 1_700_000_000_001, "b1")
    assert out_full.count() == cfg.top_n


def test_complete_rows_adds_one_projection(spark):
    """complete_rows fills the frontier schema in one projection over
    its input, whichever frontier columns the input already carries."""
    from warps_nutch_spark import schema

    cfg = make_test_config()

    def projects(df):
        return df._jdf.queryExecution().analyzed().toString().count("Project [")

    for src in (
        spark.createDataFrame([("http://host0.test/a",)], ["url"]),
        spark.createDataFrame([("http://host0.test/a", "host0.test", 3)], ["url", "host", "distance"]),
    ):
        out = complete_rows(src, cfg, NOW)
        assert projects(out) == projects(src) + 1
        assert [(f.name, f.dataType) for f in out.schema] == [
            (f.name, f.dataType) for f in schema.FRONTIER
        ]

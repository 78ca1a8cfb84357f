"""Fetch politeness + robots + status dispatch + parse invariants.

Mirrors the reference's TestFetcher
(src/test/org/apache/nutch/fetch/TestFetcher.java:72-133): politeness
elapsed >= (n+1) * delay per host; all eligible pages fetched; content
golden checks — here the input_hint invariants: decoded-pixel PSNR
>= 40 dB for lossy, caption byte-equality."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from warps_nutch_spark import simweb
from warps_nutch_spark.config import make_test_config
from warps_nutch_spark.functions import codec
from warps_nutch_spark.functions.status import CrawlStatus, ProtocolStatus
from warps_nutch_spark.operators import fetch as fetch_op
from warps_nutch_spark.operators import generate as gen_op
from warps_nutch_spark.operators import inject as inj_op
from warps_nutch_spark.operators import parse as parse_op
from warps_nutch_spark.operators.rows import complete_rows

NOW = 1_700_000_000_000
WEB = (6, 80, 42)


def _fetchlist(spark, cfg, urls, batch="b1"):
    df = spark.createDataFrame(pd.DataFrame({"url": urls}))
    rows = complete_rows(df, cfg, NOW)
    return rows.withColumn("generated_batch", F.lit(batch)).withColumn(
        "batch_id", F.lit(batch)
    )


def test_politeness_spacing_per_host(spark):
    cfg = make_test_config(crawl_delay_ms=1000)
    web = simweb.SimWeb(*WEB)
    # pick several same-host URLs that all return 200
    hi = np.full(60, 0)
    j = np.arange(60)
    ok = web.http_status(hi, j) == 200
    urls = [f"http://host0.test/{simweb.CATEGORIES[x % 8]}/{x}" for x in j[ok][:10]]
    fl = _fetchlist(spark, cfg, urls)
    res = fetch_op.fetch(fl, None, cfg, NOW, "b1", WEB).toPandas()
    ts = sorted(res[res.fetched].fetch_ts)
    diffs = np.diff(ts)
    assert (diffs >= cfg.crawl_delay_ms).all()  # TestFetcher.java:104-106
    # all eligible fetched
    assert res.fetched.all()


def test_politeness_round_budget_caps_host(spark):
    # budget of 3.5 delays -> only 4 requests possible per host
    cfg = make_test_config(crawl_delay_ms=1000, round_time_limit_ms=3500)
    urls = [f"http://host0.test/detail/{x}" for x in range(1, 60, 8)]
    fl = _fetchlist(spark, cfg, urls)
    res = fetch_op.fetch(fl, None, cfg, NOW, "b1", WEB).toPandas()
    assert res.fetched.sum() == 4
    # unfetched rows keep their old status
    assert (res[~res.fetched].new_status == CrawlStatus.UNFETCHED).all()


def test_hosts_fetched_in_parallel_independent_clocks(spark):
    cfg = make_test_config(crawl_delay_ms=1000)
    urls = [f"http://host{h}.test/detail/1" for h in range(4)]
    fl = _fetchlist(spark, cfg, urls)
    res = fetch_op.fetch(fl, None, cfg, NOW, "b1", WEB).toPandas()
    # each host's first fetch starts at round start: no cross-host delay
    assert (res[res.fetched].fetch_ts == NOW).all()


def test_robots_gate_and_delay_override(spark):
    cfg = make_test_config(crawl_delay_ms=1000)
    web = simweb.SimWeb(*WEB)
    robots = spark.createDataFrame(web.robots())
    urls = [
        "http://host1.test/search/4",  # disallowed prefix /search
        "http://host1.test/detail/1",
        "http://host2.test/detail/1",  # forbid-all host
        "http://host3.test/detail/1",  # crawl_delay override 2000ms
        "http://host3.test/detail/9",
    ]
    fl = _fetchlist(spark, cfg, urls)
    res = fetch_op.fetch(fl, robots, cfg, NOW, "b1", WEB).toPandas().set_index("url")
    assert res.loc["http://host1.test/search/4", "proto_code"] == ProtocolStatus.ROBOTS_DENIED
    assert res.loc["http://host1.test/search/4", "new_status"] == CrawlStatus.GONE
    assert res.loc["http://host2.test/detail/1", "proto_code"] == ProtocolStatus.ROBOTS_DENIED
    h3 = res.loc[res.index.str.startswith("http://host3"), "fetch_ts"].sort_values()
    assert h3.iloc[1] - h3.iloc[0] >= 2000  # per-host override honored


def test_status_dispatch_counters(spark):
    cfg = make_test_config(round_time_limit_ms=10_000_000)
    web = simweb.SimWeb(*WEB)
    hi = np.full(80, 0)
    j = np.arange(80)
    http = web.http_status(hi, j)
    urls = [f"http://host0.test/{simweb.CATEGORIES[x % 8]}/{x}" for x in j]
    fl = _fetchlist(spark, cfg, urls)
    res = fetch_op.fetch(fl, None, cfg, NOW, "b1", WEB).toPandas()
    res = res.set_index("url")
    for x, code in zip(j, http):
        u = urls[x]
        got = res.loc[u, "new_status"]
        if code == 200:
            assert got == CrawlStatus.FETCHED
        elif code == 301:
            assert got == CrawlStatus.REDIR_PERM
        elif code == 302:
            assert got == CrawlStatus.REDIR_TEMP
        elif code == 404:
            assert got == CrawlStatus.GONE
        elif code == 500:
            assert got == CrawlStatus.RETRY
        elif code == -1:
            assert got == CrawlStatus.GONE  # timeout


def test_redirect_recorded_as_outlink(spark):
    cfg = make_test_config(round_time_limit_ms=10_000_000)
    web = simweb.SimWeb(*WEB)
    hi = np.full(200, 1)
    j = np.arange(200)
    http = web.http_status(hi, j)
    redirs = j[(http == 301) | (http == 302)]
    assert len(redirs) > 0
    x = int(redirs[0])
    url = f"http://host1.test/{simweb.CATEGORIES[x % 8]}/{x}"
    fl = _fetchlist(spark, cfg, [url])
    res = fetch_op.fetch(fl, None, cfg, NOW, "b1", WEB).toPandas()
    target = web.redirect_target(np.array([1]), np.array([x]))[0]
    assert list(res.out_urls.iloc[0]) == [target]


def test_parse_extracts_caption_phash_and_invariants(spark):
    cfg = make_test_config(round_time_limit_ms=10_000_000)
    web = simweb.SimWeb(*WEB)
    hi = np.full(40, 0)
    j = np.arange(40)
    ok = web.http_status(hi, j) == 200
    urls = [f"http://host0.test/{simweb.CATEGORIES[x % 8]}/{x}" for x in j[ok][:8]]
    fl = _fetchlist(spark, cfg, urls)
    res = fetch_op.fetch(fl, None, cfg, NOW, "b1", WEB)
    parsed = parse_op.parse(res, cfg, "b1").toPandas().set_index("url")
    for x in j[ok][:8]:
        u = f"http://host0.test/{simweb.CATEGORIES[x % 8]}/{x}"
        row = parsed.loc[u]
        # caption byte-equality (input_hint)
        expect_cap = str(web.caption(np.array([0]), np.array([x]))[0])
        assert row["caption"] == expect_cap
        assert row["decode_ok"]
        # PSNR invariant: decode vs original pixels
        seed = int(web.payload_seed(np.array([0]), np.array([x]))[0])
        w, h = web.image_dims(np.array([0]), np.array([x]))
        orig = codec.synth_pixels(seed, int(w[0]), int(h[0]))
        decoded = codec.decode_image(bytes(row["bytes"]))
        fmt = row["fmt"]
        if fmt == "png":
            assert np.array_equal(orig, decoded)
        else:
            assert codec.psnr(orig, decoded) >= 40.0
        assert row["phash"] == codec.phash(decoded)
        # signature = md5(bytes)
        import hashlib

        assert row["new_signature"] == hashlib.md5(bytes(row["bytes"])).hexdigest()


def test_parse_outlink_pipeline_dedup_limit(spark):
    """The X3 outlink pipeline runs in fetch_result's JVM projection:
    a fetched row's raw outlinks come out canonical, filtered, deduped
    and capped; a row the round never requested gets none and is not
    parsed."""
    cfg = make_test_config(max_outlinks_per_page=3, round_time_limit_ms=10_000_000)
    # queue rows with a raw response, as the fetch pass hands them to
    # fetch_result
    import pyspark.sql.types as T

    schema = T.StructType(
        fetch_op.CARRY_FIELDS
        + [T.StructField("denied", T.BooleanType())]
        + fetch_op.RESPONSE_FIELDS
    )
    row = {
        "url": "http://host0.test/detail/1",
        "url_hash": "a" * 40,
        "host": "host0.test",
        "status": 1,
        "fetch_time": NOW,
        "fetch_interval": 60,
        "retries_since_fetch": 0,
        "score": 0.0,
        "cash": 0.0,
        "distance": 0,
        "priority": 0,
        "batch_id": "b1",
        "signature": None,
        "is_seed": False,
        "denied": False,
        "http_status": 200,
        "fetch_ts": NOW,
        "bytes": None,
        "out_urls": [
            "http://x.test/a",
            "http://x.test/a",  # dup
            "http://x.test/style.css",  # asset
            "HTTP://X.TEST/b#frag",  # normalizes
            "http://x.test/c",
            "http://x.test/d",  # over limit
        ],
        "fetch_duration_ms": 0,
    }
    unrequested = dict(row, url_hash="b" * 40, http_status=None, fetch_ts=None)
    df = spark.createDataFrame([row, unrequested], schema=schema)
    out = fetch_op.fetch_result(df, cfg, "b1", NOW)
    res = out.toPandas().set_index("url_hash")
    assert res.at["a" * 40, "new_status"] == CrawlStatus.FETCHED
    links = [l["url"] for l in res.at["a" * 40, "outlinks"]]
    assert links == ["http://x.test/a", "http://x.test/b", "http://x.test/c"]
    assert res.at["a" * 40, "parsed_batch"] == "b1"
    assert res.at["b" * 40, "outlinks"] is None
    assert res.at["b" * 40, "parsed_batch"] is None
    assert [r.url_hash for r in parse_op.parse(out, cfg, "b1").collect()] == ["a" * 40]


def test_host_config_overrides_queue_delay(spark):
    """TasksMonitor.java:480-496: per-host q_cd overrides the default
    crawl delay; q_mt > 1 switches the spacing to q_mcd
    (FetchQueue.java:339-346)."""
    cfg = make_test_config(crawl_delay_ms=1000, min_crawl_delay_ms=100)
    web = simweb.SimWeb(*WEB)
    j = np.arange(60)
    ok0 = web.http_status(np.full(60, 0), j) == 200
    ok1 = web.http_status(np.full(60, 1), j) == 200
    urls = [f"http://host0.test/{simweb.CATEGORIES[x % 8]}/{x}" for x in j[ok0][:8]]
    urls += [f"http://host1.test/{simweb.CATEGORIES[x % 8]}/{x}" for x in j[ok1][:8]]
    fl = _fetchlist(spark, cfg, urls)
    host_cfg = spark.createDataFrame(
        [("host0.test", None, 3000, None), ("host1.test", 4, None, 200)],
        "host string, q_mt int, q_cd long, q_mcd long",
    )
    res = fetch_op.fetch(fl, None, cfg, NOW, "b1", WEB, host_config=host_cfg).toPandas()
    for host, want in [("host0.test", 3000), ("host1.test", 200)]:
        ts = sorted(res[(res.host == host) & res.fetched].fetch_ts)
        diffs = np.diff(ts)
        assert len(diffs) > 0 and (diffs >= want).all(), (host, diffs)
        # spacing is exactly the override (virtual clock, zero durations)
        assert (diffs == want).all(), (host, diffs)


def test_queue_spacing_column_matches_scalar(spark):
    """queue_spacing_cols resolves every combination of host-table
    override, robots delay and default to the FetchQueue spacing:
    q_mt > 1 spaces by q_mcd (else the configured min delay), otherwise
    by q_cd, else the robots delay, else the configured delay."""
    import itertools

    import pandas as pd

    cfg = make_test_config(crawl_delay_ms=5000, min_crawl_delay_ms=500)
    cases = list(itertools.product([None, 2000], [None, 4], [None, 250], [None, 3000]))
    # one per case, in the order above (q_cd, q_mt, q_mcd, robots_delay)
    want = [
        5000, 3000, 5000, 3000,  # no q_cd, one thread: robots > default
        500, 500, 250, 250,  # no q_cd, 4 threads: q_mcd > min delay
        2000, 2000, 2000, 2000,  # q_cd, one thread: q_cd wins
        500, 500, 250, 250,  # q_cd, 4 threads: q_mcd > min delay
    ]
    pdf = pd.DataFrame(cases, columns=["q_cd", "q_mt", "q_mcd", "robots_delay"])
    df = spark.createDataFrame(
        pdf.assign(i=range(len(pdf))),
        "q_cd long, q_mt int, q_mcd long, robots_delay long, i long",
    )
    _, _, spacing = fetch_op.queue_spacing_cols(
        F.col("q_cd"), F.col("q_mt"), F.col("q_mcd"), F.col("robots_delay"), cfg
    )
    got = {r["i"]: r["s"] for r in df.select("i", spacing.alias("s")).collect()}
    assert [got[i] for i in range(len(cases))] == want

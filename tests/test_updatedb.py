"""Updatedb semantics: OPIC distribution/aggregation, new-row
creation (URL-seen dedup), distance min-agg, schedules by status.
Mirrors TestOPICScoringFilter + TestUrlWithScore grouping semantics +
TestAdaptiveFetchSchedule."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from warps_nutch_spark.config import make_test_config
from warps_nutch_spark.functions import urls
from warps_nutch_spark.functions.schedules import (
    STATE_MODIFIED,
    STATE_NOTMODIFIED,
    adaptive_schedule_cols,
)
from warps_nutch_spark.functions.status import (
    CrawlStatus,
    ProtocolStatus,
    status_counter_cols,
)
from warps_nutch_spark.operators import fetch as fetch_op
from warps_nutch_spark.operators import updatedb as upd_op
from warps_nutch_spark.operators.rows import complete_rows

NOW = 1_700_000_000_000


def _parsed_row(url, outlink_urls, cash=10.0, distance=0, is_seed=False,
                status=CrawlStatus.FETCHED, old_sig=None):
    return {
        "url": url,
        "url_hash": urls.url_hash(url),
        "host": urls.host_of(url),
        "status": 1,
        "fetch_time": NOW - 1000,
        "fetch_interval": 3600,
        "retries_since_fetch": 0,
        "score": 1.0,
        "cash": cash,
        "distance": distance,
        "priority": 0,
        "batch_id": "b1",
        "signature": old_sig,
        "is_seed": is_seed,
        "proto_code": ProtocolStatus.SUCCESS,
        "new_status": status,
        "fetch_ts": NOW,
        "bytes": b"payload-bytes" if status == CrawlStatus.FETCHED else None,
        "out_urls": None,
        "fetched": True,
        "image_id": None,
        "caption": None,
        "phash": None,
        "w": None,
        "h": None,
        "fmt": None,
        "decode_ok": status == CrawlStatus.FETCHED,
        "new_signature": "sig:" + url if status == CrawlStatus.FETCHED else None,
        "outlinks": [{"url": u, "anchor": ""} for u in outlink_urls],
        "parsed_batch": "b1",
    }


def _parsed_df(spark, rows):
    import pyspark.sql.types as T

    schema = T.StructType(
        list(fetch_op.fetch_result_schema().fields)
        + [
            T.StructField("image_id", T.StringType()),
            T.StructField("caption", T.StringType()),
            T.StructField("phash", T.LongType()),
            T.StructField("w", T.IntegerType()),
            T.StructField("h", T.IntegerType()),
            T.StructField("fmt", T.StringType()),
            T.StructField("decode_ok", T.BooleanType()),
            T.StructField("new_signature", T.StringType()),
            T.StructField(
                "outlinks",
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField("url", T.StringType()),
                            T.StructField("anchor", T.StringType()),
                        ]
                    )
                ),
            ),
            T.StructField("parsed_batch", T.StringType()),
        ]
    )
    return spark.createDataFrame(rows, schema=schema)


def _fetchlist(frontier, parsed, cfg):
    """The fetchlist the parsed pages were fetched from, as the round
    builds it: each parsed row's carried columns over its frontier
    state (schema defaults for a page the frontier lacks), marked as
    the generate stage marks them."""
    state = frontier.drop(*(c for c in fetch_op.CARRY_COLS if c != "url_hash"))
    carried = parsed.select(*fetch_op.CARRY_COLS).join(state, on="url_hash", how="left")
    return complete_rows(carried, cfg, NOW).withColumn("generated_batch", F.lit("b1"))


def _updatedb(frontier, parsed, cfg):
    return upd_op.updatedb(frontier, _fetchlist(frontier, parsed, cfg), parsed, cfg, NOW, "b1")


def _updated_counts(merged, batch_id):
    """The updatedb stage counters (rows this batch updated, per
    status) as the round driver defines them."""
    cols = status_counter_cols(F.col("status"), F.col("updated_batch") == batch_id)
    return merged.agg(*cols).first().asDict()


def test_opic_distribution_positional_and_cash(spark):
    cfg = make_test_config()
    # page A (cash 12) links to 3 urls: positional scores 3,2,1 + 12/3=4 each
    parsed = _parsed_df(
        spark,
        [
            _parsed_row(
                "http://a.test/p",
                ["http://a.test/x", "http://a.test/y", "http://b.test/z"],
                cash=12.0,
            )
        ],
    )
    contribs = upd_op.explode_contributions(parsed, cfg).toPandas().set_index("to_url")
    assert contribs.loc["http://a.test/x", "contribution"] == pytest.approx(3 + 4)
    assert contribs.loc["http://a.test/y", "contribution"] == pytest.approx(2 + 4)
    assert contribs.loc["http://b.test/z", "contribution"] == pytest.approx(1 + 4)
    assert (contribs["inlink_distance"] == 1).all()


def test_updatedb_new_rows_and_existing_update(spark):
    cfg = make_test_config()
    frontier = complete_rows(
        spark.createDataFrame(
            pd.DataFrame(
                {
                    "url": ["http://a.test/p", "http://a.test/known"],
                    "score": [1.0, 5.0],
                    "cash": [12.0, 2.0],
                }
            )
        ),
        cfg,
        NOW - 5000,
    )
    parsed = _parsed_df(
        spark,
        [
            _parsed_row(
                "http://a.test/p",
                ["http://a.test/known", "http://a.test/new"],
                cash=12.0,
                distance=2,
            )
        ],
    )
    merged = _updatedb(frontier, parsed, cfg)
    counters = _updated_counts(merged, "b1")
    rows = {r["url"]: r for r in merged.collect()}
    # source page: cash reset, fetched schedule applied, marks cleared
    src = rows["http://a.test/p"]
    assert src["cash"] == 0.0
    assert src["status"] == CrawlStatus.FETCHED
    assert src["generated_batch"] is None
    assert src["fetched_batch"] == "b1" and src["updated_batch"] == "b1"
    assert src["prev_fetch_time"] == NOW - 1000
    assert src["fetch_time"] > NOW
    # existing target: score += 2 + 12/2 = 8; distance min(0, 3)=0
    known = rows["http://a.test/known"]
    assert known["score"] == pytest.approx(5.0 + 2 + 6)
    assert known["cash"] == pytest.approx(2.0 + 8)
    assert known["distance"] == 0
    # new row: UNFETCHED, score = contribution, distance = 3
    new = rows["http://a.test/new"]
    assert new["status"] == CrawlStatus.UNFETCHED
    assert new["score"] == pytest.approx(1 + 6)
    assert new["cash"] == pytest.approx(1 + 6)
    assert new["distance"] == 3
    assert new["priority"] == cfg.priority_default
    # counters cover all updated rows
    assert sum(counters.values()) == 3


def test_updatedb_from_seed_priority(spark):
    cfg = make_test_config()
    frontier = complete_rows(
        spark.createDataFrame(pd.DataFrame({"url": ["http://s.test/seed"]})), cfg, NOW
    )
    parsed = _parsed_df(
        spark,
        [_parsed_row("http://s.test/seed", ["http://s.test/child"], is_seed=True)],
    )
    merged = _updatedb(frontier, parsed, cfg)
    child = [r for r in merged.collect() if r["url"].endswith("child")][0]
    assert child["priority"] == cfg.priority_from_seed


def test_updatedb_retry_and_gone(spark):
    cfg = make_test_config(max_retries=3)
    frontier = complete_rows(
        spark.createDataFrame(
            pd.DataFrame({"url": ["http://r.test/a", "http://g.test/b"]})
        ),
        cfg,
        NOW,
    )
    rows = [
        _parsed_row("http://r.test/a", [], status=CrawlStatus.RETRY),
        _parsed_row("http://g.test/b", [], status=CrawlStatus.GONE),
    ]
    rows[0]["retries_since_fetch"] = 0
    merged = _updatedb(frontier, _parsed_df(spark, rows), cfg)
    out = {r["url"]: r for r in merged.collect()}
    a = out["http://r.test/a"]
    assert a["status"] == CrawlStatus.RETRY and a["retries_since_fetch"] == 1
    b = out["http://g.test/b"]
    assert b["status"] == CrawlStatus.GONE
    assert b["fetch_interval"] == int(3600 * cfg.gone_interval_factor)

    # retries exhausted -> GONE
    rows2 = [_parsed_row("http://r.test/a", [], status=CrawlStatus.RETRY)]
    rows2[0]["retries_since_fetch"] = 2
    merged2 = _updatedb(frontier, _parsed_df(spark, rows2), cfg)
    a2 = [r for r in merged2.collect() if r["url"] == "http://r.test/a"][0]
    assert a2["status"] == CrawlStatus.GONE


def test_adaptive_schedule_golden(spark):
    """TestAdaptiveFetchSchedule semantics: interval shrinks 20% on
    modified, grows 20% on notmodified, clamped to [60, 365d]."""
    cfg = make_test_config()
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "fetch_time": [NOW, NOW, NOW],
                "modified_time": [NOW, NOW, NOW],
                "interval": [1000, 1000, 100_000_000],
                "state": [STATE_MODIFIED, STATE_NOTMODIFIED, STATE_NOTMODIFIED],
            }
        )
    )
    ft, iv = adaptive_schedule_cols(
        F.col("fetch_time"), F.col("modified_time"), F.col("interval"), F.col("state"), cfg
    )
    got = df.select(iv.alias("iv"), ft.alias("ft")).collect()
    assert got[0]["iv"] == 800  # *0.8
    assert got[1]["iv"] == 1200  # *1.2
    assert got[2]["iv"] == cfg.adaptive_max_interval_sec  # clamp
    assert got[0]["ft"] == NOW + 800 * 1000


def test_updatedb_dedup_no_duplicate_urlhash(spark):
    """A URL that is both fetched and an outlink target appears once."""
    cfg = make_test_config()
    frontier = complete_rows(
        spark.createDataFrame(
            pd.DataFrame({"url": ["http://a.test/p", "http://a.test/q"]})
        ),
        cfg,
        NOW,
    )
    parsed = _parsed_df(
        spark,
        [
            _parsed_row("http://a.test/p", ["http://a.test/q"]),
            _parsed_row("http://a.test/q", ["http://a.test/p"]),
        ],
    )
    merged = _updatedb(frontier, parsed, cfg)
    pdf = merged.toPandas()
    assert pdf.url_hash.nunique() == len(pdf) == 2
    # both fetched rows got the inlink bonus on top of the fetch update
    byu = pdf.set_index("url")
    assert byu.loc["http://a.test/p", "score"] == pytest.approx(1.0 + 1 + 10)
    assert byu.loc["http://a.test/q", "cash"] == pytest.approx(0.0 + 1 + 10)


def test_inlinks_state_and_repr_url(spark):
    """Capped inlink (url, anchor) state persists on link targets
    (webpage.avsc inlinks), and redirect rows get a repr_url chosen by
    the URLUtil.chooseRepr rule."""
    cfg = make_test_config(max_stored_inlinks=2)
    frontier = complete_rows(
        spark.createDataFrame(
            pd.DataFrame(
                {
                    "url": ["http://a.test/p", "http://a.test/q", "http://a.test/known"],
                    "cash": [12.0, 6.0, 0.0],
                    "score": [1.0, 1.0, 1.0],
                }
            )
        ),
        cfg,
        NOW - 5000,
    )
    parsed = _parsed_df(
        spark,
        [
            # two pages link to 'known'; cap 2 keeps both, best first
            _parsed_row("http://a.test/p", ["http://a.test/known", "http://a.test/new"], cash=12.0),
            _parsed_row("http://a.test/q", ["http://a.test/known"], cash=6.0),
            # temp redirect: repr chosen between src and target
            _parsed_row(
                "http://a.test/r/old/page", ["http://a.test/r2"],
                status=CrawlStatus.REDIR_TEMP,
            ),
        ],
    )
    # the redirect row's page is not in the frontier, so not in the
    # fetchlist either: it is still merged once
    merged = _updatedb(frontier, parsed, cfg)
    pdf = merged.toPandas()
    assert pdf.url_hash.nunique() == len(pdf) == 6
    rows = {r["url"]: r for r in merged.collect()}
    known = rows["http://a.test/known"]
    inl = [i["url"] for i in known["inlinks"]]
    # p contributes 2 + 12/2 = 8; q contributes 1 + 6 = 7 -> p first
    assert inl == ["http://a.test/p", "http://a.test/q"]
    new = rows["http://a.test/new"]
    assert [i["url"] for i in new["inlinks"]] == ["http://a.test/p"]
    # temp redirect, src not root, dst root-ish shorter path -> chooseRepr
    r = rows["http://a.test/r/old/page"]
    from warps_nutch_spark.functions.urls import choose_repr

    assert r["repr_url"] == choose_repr(
        "http://a.test/r/old/page", "http://a.test/r2", True
    )
    # non-redirect fetched rows keep repr_url null
    assert rows["http://a.test/p"]["repr_url"] is None


def test_retry_row_cash_reset_on_refetch(spark):
    """A RETRY outcome is still a fetch attempt: OPIC distribute resets
    its cash (OPICScoringFilter runs unconditionally), so a later
    re-fetch distributes from the post-reset cash — the impl/oracle
    divergence flagged in r1's review."""
    cfg = make_test_config()
    parsed = _parsed_df(
        spark,
        [
            _parsed_row(
                "http://a.test/flaky", [], cash=7.5, status=CrawlStatus.RETRY
            )
        ],
    )
    frontier = complete_rows(
        spark.createDataFrame(pd.DataFrame({"url": ["http://a.test/flaky"]})), cfg, NOW
    )
    out = _updatedb(frontier, parsed, cfg).collect()[0]
    assert out["cash"] == 0.0
    assert out["status"] == CrawlStatus.RETRY
    assert out["retries_since_fetch"] == 1


def test_budget_dropped_rows_keep_mark_and_fold_inlinks(spark):
    """Fetchlist rows the fetch budget dropped (no parsed row) keep
    their GENERATE_MARK; one that receives an inlink from a fetched
    page also gets its score and cash folded and is counted."""
    cfg = make_test_config()
    frontier = complete_rows(
        spark.createDataFrame(
            pd.DataFrame(
                {
                    "url": ["http://a.test/p", "http://a.test/linked", "http://a.test/idle"],
                    "score": [1.0, 5.0, 3.0],
                    "cash": [12.0, 2.0, 4.0],
                    "distance": [0, 4, 2],
                }
            )
        ),
        cfg,
        NOW - 5000,
    )
    # the generate stage marks the fetchlist rows; the frontier rows
    # carry no mark until updatedb merges them
    fetchlist = frontier.withColumn("generated_batch", F.lit("b1")).withColumn(
        "batch_id", F.lit("b1")
    )
    parsed = _parsed_df(
        spark, [_parsed_row("http://a.test/p", ["http://a.test/linked"], cash=12.0)]
    )
    merged = upd_op.updatedb(frontier, fetchlist, parsed, cfg, NOW, "b1")
    rows = {r["url"]: r for r in merged.collect()}
    assert len(rows) == merged.count() == 3
    assert rows["http://a.test/p"]["generated_batch"] is None
    linked = rows["http://a.test/linked"]
    assert linked["generated_batch"] == "b1" and linked["batch_id"] == "b1"
    # one outlink: positional 1 + cash 12/1
    assert linked["score"] == pytest.approx(5.0 + 13)
    assert linked["cash"] == pytest.approx(2.0 + 13)
    assert linked["distance"] == 1
    assert linked["updated_batch"] == "b1"
    idle = rows["http://a.test/idle"]
    want = fetchlist.filter(F.col("url") == "http://a.test/idle").collect()[0]
    assert idle.asDict() == want.asDict()
    counted = _updated_counts(merged, "b1")
    assert sum(counted.values()) == 2


def _plan_leaves(plan):
    """Leaf operators of an executed physical plan, descending into
    adaptive query stages, cached relations and subqueries."""
    name = plan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        kids = [plan.executedPlan()]
    elif name.endswith("QueryStageExec"):
        kids = [plan.plan()]
    elif name == "InMemoryTableScanExec":
        return [plan] + _plan_leaves(plan.relation().cachedPlan())
    else:
        seqs = [plan.children(), plan.subqueries()]
        kids = [s.apply(i) for s in seqs for i in range(s.size())]
    if not kids:
        return [plan]
    return [leaf for k in kids for leaf in _plan_leaves(k)]


def test_merge_rows_scan_the_frontier_once_uncached(spark, workdir):
    """The merge rows are one keyed fold over one frontier lookup: the
    executed plan reads the frontier's files once and caches nothing."""
    import os

    from warps_nutch_spark.store.urlseen import BloomUrlSeen

    cfg = make_test_config()
    path = os.path.join(workdir, "frontier")
    complete_rows(
        spark.createDataFrame(
            pd.DataFrame({"url": ["http://a.test/p", "http://a.test/known", "http://a.test/d"]})
        ),
        cfg,
        NOW,
    ).write.parquet(path)
    frontier = spark.read.parquet(path)
    fl_path = os.path.join(workdir, "fetchlist")
    frontier.filter(F.col("url") != "http://a.test/known").withColumn(
        "generated_batch", F.lit("b1")
    ).write.parquet(fl_path)
    parsed_path = os.path.join(workdir, "parsed")
    _parsed_df(
        spark, [_parsed_row("http://a.test/p", ["http://a.test/known", "http://a.test/new"])]
    ).write.parquet(parsed_path)
    seen = BloomUrlSeen(os.path.join(workdir, "urlseen"), 2, 1000, 0.01)
    seen.merge_round(frontier.select("url_hash"), "url_hash", "inject")

    merged = upd_op.updatedb(
        frontier, spark.read.parquet(fl_path), spark.read.parquet(parsed_path),
        cfg, NOW, "b1", seen,
    )
    assert sorted(r["url"] for r in merged.collect()) == [
        "http://a.test/d", "http://a.test/known", "http://a.test/new", "http://a.test/p",
    ]
    leaves = _plan_leaves(merged._jdf.queryExecution().executedPlan())
    names = [leaf.getClass().getSimpleName() for leaf in leaves]

    def roots(scan):
        paths = scan.relation().location().rootPaths()
        return [paths.apply(i).toString().rstrip("/") for i in range(paths.size())]

    frontier_scans = [
        leaf for leaf, name in zip(leaves, names)
        if name == "FileSourceScanExec" and any(r.endswith("/frontier") for r in roots(leaf))
    ]
    assert len(frontier_scans) == 1, names
    assert "InMemoryTableScanExec" not in names


def _joins(plan) -> int:
    """Join nodes in a logical plan tree."""
    kids = plan.children()
    return int(plan.getClass().getSimpleName() == "Join") + sum(
        _joins(kids.apply(i)) for i in range(kids.size())
    )


def test_own_rows_are_one_fetchlist_join(spark, workdir):
    """Over a base-only store, the merge rows' optimized plan has four
    joins: the fetchlist with the parse results, the link targets
    against the fetchlist keys, the frontier semi-join and the keyed
    fold. A fetched row's prior state is its fetchlist row, so no join
    re-attaches that state, and no anti-join looks for the rows the
    fetch budget dropped."""
    import os

    from warps_nutch_spark.store.frontier import ParquetFrontierStore
    from warps_nutch_spark.store.urlseen import BloomUrlSeen

    cfg = make_test_config()
    store = ParquetFrontierStore(spark, os.path.join(workdir, "frontier"), cfg.host_buckets)
    store.init(complete_rows(
        spark.createDataFrame(pd.DataFrame(
            {"url": ["http://a.test/p", "http://a.test/known", "http://a.test/d"]}
        )),
        cfg,
        NOW,
    ))
    seen = BloomUrlSeen(os.path.join(workdir, "urlseen"), 2, 1000, 0.01)
    seen.merge_round(store.read().select("url_hash"), "url_hash", "inject")
    frontier = store.read()
    parsed_path = os.path.join(workdir, "parsed")
    _parsed_df(
        spark, [_parsed_row("http://a.test/p", ["http://a.test/known", "http://a.test/new"])]
    ).write.parquet(parsed_path)
    parsed = spark.read.parquet(parsed_path)
    fl_path = os.path.join(workdir, "fetchlist")
    _fetchlist(frontier, parsed, cfg).unionByName(
        frontier.filter(F.col("url") == "http://a.test/d").withColumn(
            "generated_batch", F.lit("b1")
        )
    ).write.parquet(fl_path)

    merged = upd_op.updatedb(
        frontier, spark.read.parquet(fl_path), parsed, cfg, NOW, "b1", seen
    )
    assert _joins(merged._jdf.queryExecution().optimizedPlan()) == 4
    rows = {r["url"]: r for r in merged.collect()}
    assert sorted(rows) == [
        "http://a.test/d", "http://a.test/known", "http://a.test/new", "http://a.test/p",
    ]
    assert rows["http://a.test/p"]["fetched_batch"] == "b1"
    assert rows["http://a.test/d"]["generated_batch"] == "b1"


def test_second_inject_seed_keeps_seed_state_when_linked(spark, workdir):
    """Every inject feeds the URL-seen pre-screen, also a second one
    under the same default batch id: a seed of the second inject that
    gets an inlink before it is fetched is found in the frontier and
    keeps its seed state, rather than being re-created as a new row."""
    import os

    from warps_nutch_spark.plans.round import RoundDriver

    cfg = make_test_config(host_buckets=4, bloom_partitions=2)
    drv = RoundDriver(spark, os.path.join(workdir, "crawl"), cfg, start_ms=NOW)
    first, second = "http://a.test/p", "http://b.test/seed"
    drv.inject(spark.createDataFrame([(first,)], ["value"]))
    drv.inject(spark.createDataFrame([(second,)], ["value"]))

    frontier = drv.store.read()
    parsed = _parsed_df(spark, [_parsed_row(first, [second], is_seed=True)])
    merged = upd_op.updatedb(
        frontier, _fetchlist(frontier, parsed, cfg), parsed, cfg, NOW, "b1", drv.urlseen
    )
    seed = {r["url"]: r for r in merged.collect()}[second]
    injected = frontier.filter(F.col("url") == second).collect()[0]
    assert seed["is_seed"] is True
    assert seed["priority"] == injected["priority"] == cfg.priority_seed
    assert seed["fetch_interval"] == injected["fetch_interval"]
    assert len(drv.urlseen.manifest()["rounds"]) == 2

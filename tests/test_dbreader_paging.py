"""DbReader paging invariants: consecutive /db pages tile the full
reversed-key-ordered result with no gaps, overlaps, or reorderings —
including the reference's start-1 offset quirk (DbResource.java:48) —
and a page cut from the Arrow frontier view equals the DataFrame form's."""

import pytest

from warps_nutch_spark.functions.urlfilters import DEFAULT_REGEX_RULES
from warps_nutch_spark.queries import derived_frontier
from warps_nutch_spark.service.dbreader import db_page, db_query, frontier_view


def _urls(page):
    return [r["url"] for r in page.collect()]


@pytest.mark.parametrize("page_size", [7, 50, 400])
def test_pages_tile_the_full_scan(spark, page_size):
    fr = derived_frontier(spark, "/root/testdata/sf0.001").filter(
        "url NOT LIKE '%index.html'"  # unique keys -> total order
    )
    full = _urls(db_query(fr, batch_id=None, fields=["url"], start=0,
                          limit=10_000))
    assert full  # sanity
    tiled = []
    # reference offset semantics: page p starts at start = p*size + 1
    # (the server skips start-1 rows)
    for p in range(0, len(full) // page_size + 1):
        page = _urls(
            db_query(fr, batch_id=None, fields=["url"],
                     start=p * page_size + 1, limit=page_size)
        )
        assert len(page) <= page_size
        tiled.extend(page)
    assert tiled == full


def test_start_quirk_and_bounds(spark):
    fr = derived_frontier(spark, "/root/testdata/sf0.001").filter(
        "url NOT LIKE '%index.html'"
    )
    full = _urls(db_query(fr, batch_id=None, fields=["url"], start=0,
                          limit=10_000))
    # start=0 and start=1 are the same page (skip max(0, start-1) rows)
    assert _urls(db_query(fr, batch_id=None, fields=["url"], start=1,
                          limit=5)) == full[:5]
    assert _urls(db_query(fr, batch_id=None, fields=["url"], start=2,
                          limit=5)) == full[1:6]
    # past-the-end start yields an empty page, not an error
    assert _urls(db_query(fr, batch_id=None, fields=["url"],
                          start=len(full) + 10, limit=5)) == []
    # bad key -> ValueError (DbReader 'Wrong url format!')
    with pytest.raises(ValueError):
        db_query(fr, start_key="not a url", batch_id=None).collect()


def test_deep_page_over_persisted_frontier_is_one_take_ordered(spark):
    """A deep-``start`` page over a persisted frontier (the REST
    server's cached view) plans as one TakeOrderedAndProject carrying
    the offset, with no shuffle above the cached relation."""
    fr = derived_frontier(spark, "/root/testdata/sf0.001").persist()
    try:
        fr.count()
        page = db_query(fr, batch_id=None, start=120, limit=50)
        plan = page._jdf.queryExecution().executedPlan().toString()
        # what follows InMemoryRelation is the cached plan, built once
        above_cache = plan.split("InMemoryRelation")[0]
        assert "InMemoryTableScan" in above_cache
        assert "TakeOrderedAndProject(limit=169, offset=119," in above_cache
        assert "Exchange" not in above_cache
        assert "Window" not in above_cache
    finally:
        fr.unpersist()


# the default rule set as a rules body: its trap guard uses a backreference
DEFAULT_RULES_BODY = "\n".join(("+" if ok else "-") + pat for ok, pat in DEFAULT_REGEX_RULES)


@pytest.mark.parametrize(
    "flt",
    [
        # q_db_query's filter: raw reversed keys, a rules body, deep start
        dict(start_key="test.src1", end_key="test.src1~", keys_reversed=True,
             url_filter="-\\.jpg$\n-index\\.html$\n+.", batch_id=None,
             fields=["url", "host", "score", "fetch_time"], start=11, limit=200),
        dict(url_filter=DEFAULT_RULES_BODY, batch_id=None, start=30, limit=50),
        dict(url_filter=r"src[0-9]\.test/.*[0-9]$", batch_id=None, fields=["score", "url"],
             limit=25),
        dict(start_key="http://test.src2/", batch_id=None, start=3, limit=0),
    ],
)
def test_arrow_page_equals_db_query(spark, flt):
    fr = derived_frontier(spark, "/root/testdata/sf0.001").filter(
        "url NOT LIKE '%index.html'"
    )
    want = [r.asDict(recursive=True) for r in db_query(fr, **flt).collect()]
    assert db_page(frontier_view(fr), **flt) == want
    assert want or flt["limit"] == 0

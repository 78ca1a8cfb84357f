"""DbReader paging invariants: consecutive /db pages tile the full
reversed-key-ordered result with no gaps, overlaps, or reorderings —
including the reference's start-1 offset quirk (DbResource.java:48)."""

import pytest

from warps_nutch_spark.queries import derived_frontier
from warps_nutch_spark.service.dbreader import db_query


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

"""DbReader: the REST ``/db`` query path over the frontier.

Reference: ``service/impl/db/DbReader.java`` + ``DbIterator.java`` and
the request model ``service/model/request/DbFilter.java`` — a Gora
key-range scan over reversed-URL row keys with a regex URL filter, an
UPDATEDB-mark batch filter, field projection, and start/limit paging.

A DbFilter is read once, by :func:`read_filter`, into a :class:`DbRead`:
the key bounds, the URL filter, the mark rule, the output columns and
the offset. Two forms evaluate it:

- :func:`db_page` cuts a page from a frontier view (:func:`frontier_view`),
  an in-process Arrow table sorted by the reversed key. The REST server
  holds one per store version and serves every page this way, in the
  request thread with no Spark job, as the reference's DbReader scans
  rows inside the server: the key bounds are a binary search on the
  sorted key, the mark filter an Arrow kernel, and the URL filter runs
  row by row through :class:`RegexUrlFilter`'s scalar form until
  ``offset + limit`` rows passed.
- :func:`db_query` is the DataFrame form, served by the driver query
  ``q_db_query`` and the tests' reference for the pages the server
  returns: the reversed key is a codegen expression
  (``reverse_url_col``), the range predicate and regex chain are
  Catalyst filters, and paging is a global
  ``orderBy(key).offset().limit()``, which Spark plans as one
  ``TakeOrderedAndProject(limit=offset+limit, offset=offset)``.

Reference quirks mirrored exactly (so a reference user sees identical
pages):

- ``DbResource.runQuery`` skips with ``while (++ignoreCount <
  filter.getStart() ...)`` — i.e. it skips ``start - 1`` rows, not
  ``start`` (``DbResource.java:48-51``). ``offset = max(0, start - 1)``.
- ``DbIterator.isRelevant`` (``DbIterator.java:47-56``): rows whose
  UPDATEDB mark is null are dropped even for the default batch id
  ``-all`` (``shouldProcess`` returns false for a null mark). Passing
  ``batch_id=None`` disables the mark filter entirely — the
  ``filter.getBatchId() == null`` branch.
- The URL filter string is a regex-urlfilter.txt *rules body*
  (``DbIterator.java:19-26`` feeds it to RegexURLFilter). A string
  with no ``+``/``-`` rule lines (e.g. the DbFilter default ``.+``)
  is treated as a bare accept-regex.
"""

from __future__ import annotations

import re
from bisect import bisect_left, bisect_right
from dataclasses import dataclass
from itertools import islice
from operator import methodcaller

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import urls
from ..functions.urlfilters import RegexUrlFilter
from ..sources.readers import frontier_stats

#: DbFilter.DefaultDbLimit
DEFAULT_DB_LIMIT = 100
#: the reversed row key a page is ordered and bounded by
KEY = "_db_key"
_AS_PY = methodcaller("as_py")


def readdb_stats(store) -> dict:
    """ReadDb ``-stats`` (``WebTableReader.java:68-160``): the frontier's
    rows per status code, read from :func:`frontier_stats`, and the
    store version, for ``readdb --stats`` and the REST READDB job.
    ``rows`` is the sum over the statuses, so the stats cost one Spark
    job."""
    # selecting the count alone lets the optimizer prune the score
    # aggregates and the score column from the scan
    rows = frontier_stats(store.read()).select("status", "n").collect()
    by_status = {str(r["status"]): r["n"] for r in rows}
    return {
        "rows": sum(by_status.values()),
        "by_status": by_status,
        "version": store.current_version(),
    }


@dataclass(frozen=True)
class DbRead:
    """One DbFilter, read: everything both page forms share."""

    #: inclusive reversed-key bounds (None: unbounded)
    start_key: str | None
    end_key: str | None
    #: None accepts every URL
    url_filter: RegexUrlFilter | None
    #: drop rows with a null UPDATEDB mark
    marked: bool
    #: keep only this mark (None: any)
    batch_id: str | None
    columns: list[str]
    offset: int
    limit: int


def _url_filter(rules_text: str | None) -> RegexUrlFilter | None:
    """A regex-urlfilter rules body, or a bare accept-regex when it has
    no +/- rule lines. None/empty accepts everything (DbResource feeds
    '+.' when the client omits the filter)."""
    if not rules_text or rules_text.strip() in (".", ".+", "+."):
        return None
    try:
        flt = RegexUrlFilter.parse_rules(rules_text)
        return flt if flt.rules else RegexUrlFilter([(True, rules_text)])
    except re.error as e:
        raise ValueError(
            f"Bad urlFilter pattern {e.pattern!r} (Python re syntax): {e}"
        ) from None


def read_filter(
    columns: list[str],
    *,
    start_key: str | None = None,
    end_key: str | None = None,
    url_filter: str | None = None,
    batch_id: str | None = "-all",
    fields: list[str] | None = None,
    start: int = 0,
    limit: int = DEFAULT_DB_LIMIT,
    keys_reversed: bool = False,
) -> DbRead:
    """Read a DbFilter against a frontier with ``columns``; bad input
    raises ValueError.

    ``start_key``/``end_key`` are URLs unless ``keys_reversed`` (the
    DbFilter.isKeysReversed flag), in which case they are raw reversed
    keys; the range is inclusive on both ends (Gora setStartKey /
    setEndKey). ``fields`` projects the row; ``url`` rides along unless
    an explicit field list omits it (``DbIterator.pageAsMap``).

    ``url_filter`` patterns are Python ``re`` patterns, the engine a
    page runs, not Java regex: Java-only syntax such as ``\\p{Alpha}``
    raises ValueError.
    """

    def bound(url: str | None) -> str | None:
        if not url:
            return None
        key = url if keys_reversed else urls.reverse_url(url)
        if key is None:
            raise ValueError(f"Wrong url format: {url!r}")
        return key

    if int(limit) < 0:
        raise ValueError(f"limit must not be negative: {limit}")
    if fields:
        out_cols = (["url"] if "url" in fields else []) + [
            c for c in fields if c in columns and c != "url"
        ]
    else:
        out_cols = list(columns)
    return DbRead(
        start_key=bound(start_key),
        end_key=bound(end_key),
        url_filter=_url_filter(url_filter),
        marked=batch_id is not None,
        batch_id=None if batch_id in (None, "-all", "all") else batch_id,
        columns=out_cols,
        offset=max(0, int(start) - 1),  # DbResource.java off-by-one, mirrored
        limit=int(limit),
    )


def db_query(frontier: DataFrame, **db_filter) -> DataFrame:
    """One page of frontier rows in reversed-key order, as a DataFrame;
    ``db_filter`` takes :func:`read_filter`'s keywords."""
    q = read_filter(frontier.columns, **db_filter)
    df = frontier.withColumn(KEY, urls.reverse_url_col(F.col("url")))
    if q.start_key is not None:
        df = df.filter(F.col(KEY) >= q.start_key)
    if q.end_key is not None:
        df = df.filter(F.col(KEY) <= q.end_key)
    if q.url_filter is not None:
        df = df.filter(q.url_filter.accepts_col(F.col("url")))
    if q.batch_id is not None:
        df = df.filter(F.col("updated_batch") == q.batch_id)
    elif q.marked:
        df = df.filter(F.col("updated_batch").isNotNull())
    page = df.orderBy(KEY).select(*q.columns, KEY)
    if q.offset:
        page = page.offset(q.offset)
    return page.limit(q.limit).drop(KEY)


def frontier_view(frontier: DataFrame) -> pa.Table:
    """The frontier's rows as one Arrow table sorted by :data:`KEY`. The
    key is computed on the JVM; Arrow sorts strings by their bytes, as
    Spark's ``orderBy`` does."""
    rows = frontier.withColumn(KEY, urls.reverse_url_col(F.col("url"))).toArrow()
    return rows.sort_by(KEY)


def db_page(view: pa.Table, **db_filter) -> list[dict]:
    """One page of a :func:`frontier_view` as JSON-ready dicts, equal
    to ``db_query`` over the same rows; ``db_filter`` takes
    :func:`read_filter`'s keywords."""
    q = read_filter([c for c in view.column_names if c != KEY], **db_filter)
    keys = view.column(KEY)
    lo = 0 if q.start_key is None else bisect_left(keys, q.start_key, key=_AS_PY)
    hi = len(keys) if q.end_key is None else bisect_right(keys, q.end_key, key=_AS_PY)
    rows = view.slice(lo, max(0, hi - lo))
    if q.batch_id is not None:
        rows = rows.filter(pc.equal(rows.column("updated_batch"), q.batch_id))
    elif q.marked:
        rows = rows.filter(pc.is_valid(rows.column("updated_batch")))
    if q.url_filter is not None:
        accepted = (
            i for i, url in enumerate(rows.column("url").to_pylist()) if q.url_filter.accepts(url)
        )
        rows = rows.take(pa.array(list(islice(accepted, q.offset + q.limit)), pa.int64()))
    return rows.slice(q.offset, q.limit).select(q.columns).to_pylist()

"""DbReader: the REST ``/db`` query path over the frontier.

Reference: ``service/impl/db/DbReader.java`` + ``DbIterator.java`` and
the request model ``service/model/request/DbFilter.java`` — a Gora
key-range scan over reversed-URL row keys with a regex URL filter, an
UPDATEDB-mark batch filter, field projection, and start/limit paging.

Spark shape: one declarative plan — the reversed key is a codegen
expression (``reverse_url_col``), the range predicate and regex chain
are Catalyst filters (pushed to the scan where the source allows), and
paging is a global ``orderBy(key).offset().limit()``, which Spark plans
as one ``TakeOrderedAndProject(limit=offset+limit, offset=offset)``:
each partition keeps its first ``offset + limit`` rows by key and the
driver merges them and drops the offset (no shuffle, no single-partition
window). The reference iterates the whole range driver-side row by row;
here only the top rows of each partition leave the executors. Over the
REST server's persisted frontier view (``service/master.py``) a page is
one Spark job: ``InMemoryTableScan`` → filter → ``TakeOrderedAndProject``.

Reference quirks mirrored exactly (so a reference user sees identical
pages):

- ``DbResource.runQuery`` skips with ``while (++ignoreCount <
  filter.getStart() ...)`` — i.e. it skips ``start - 1`` rows, not
  ``start`` (``DbResource.java:48-51``). ``effective_offset =
  max(0, start - 1)``.
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

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import urls
from ..functions.urlfilters import RegexUrlFilter

#: DbFilter.DefaultDbLimit
DEFAULT_DB_LIMIT = 100


def readdb_stats(store) -> dict:
    """ReadDb ``-stats`` (``WebTableReader.java:68-160``): the frontier's
    rows per status and the store version, for ``readdb --stats`` and
    the REST READDB job. ``rows`` is the sum over the statuses, so the
    stats cost one Spark job."""
    by_status = {
        str(r["status"]): r["n"]
        for r in store.read().groupBy("status").agg(F.count("*").alias("n")).collect()
    }
    return {
        "rows": sum(by_status.values()),
        "by_status": by_status,
        "version": store.current_version(),
    }


def url_filter_col(url: Column, rules_text: str | None) -> Column:
    """Compile a regex-urlfilter rules body (or bare regex) into a
    boolean Column. None/empty accepts everything (DbResource feeds
    '+.' when the client omits the filter)."""
    if not rules_text or rules_text.strip() in (".", ".+", "+."):
        return F.lit(True)
    flt = RegexUrlFilter.parse_rules(rules_text)
    if not flt.rules:
        # no +/- rule lines: bare regex, accept-on-match
        return url.rlike(rules_text)
    return flt.accepts_col(url)


def db_query(
    frontier: DataFrame,
    *,
    start_key: str | None = None,
    end_key: str | None = None,
    url_filter: str | None = None,
    batch_id: str | None = "-all",
    fields: list[str] | None = None,
    start: int = 0,
    limit: int = DEFAULT_DB_LIMIT,
    keys_reversed: bool = False,
) -> DataFrame:
    """One page of frontier rows in reversed-key order.

    ``start_key``/``end_key`` are URLs unless ``keys_reversed`` (the
    DbFilter.isKeysReversed flag), in which case they are raw reversed
    keys; the range is inclusive on both ends (Gora setStartKey /
    setEndKey). ``fields`` projects the row; ``url`` rides along unless
    an explicit field list omits it (``DbIterator.pageAsMap``).
    """
    key = urls.reverse_url_col(F.col("url")).alias("_db_key")
    df = frontier.withColumn("_db_key", key)
    if start_key:
        sk = start_key if keys_reversed else urls.reverse_url(start_key)
        if sk is None:
            raise ValueError(f"Wrong url format: {start_key!r}")
        df = df.filter(F.col("_db_key") >= sk)
    if end_key:
        ek = end_key if keys_reversed else urls.reverse_url(end_key)
        if ek is None:
            raise ValueError(f"Wrong url format: {end_key!r}")
        df = df.filter(F.col("_db_key") <= ek)
    df = df.filter(url_filter_col(F.col("url"), url_filter))
    if batch_id is not None:
        if batch_id in ("-all", "all"):
            df = df.filter(F.col("updated_batch").isNotNull())
        else:
            df = df.filter(F.col("updated_batch") == batch_id)

    if fields:
        cols = [c for c in fields if c in frontier.columns and c != "url"]
        out_cols = (["url"] if "url" in fields else []) + cols
    else:
        out_cols = list(frontier.columns)
    offset = max(0, int(start) - 1)  # DbResource.java off-by-one, mirrored
    page = df.orderBy("_db_key").select(*out_cols, "_db_key")
    if offset:
        page = page.offset(offset)
    return page.limit(int(limit)).drop("_db_key")

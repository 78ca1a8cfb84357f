"""Crawl/protocol status codes and the fetch-status dispatch.

Codes mirror the reference:
- CrawlStatus (``crawl/CrawlStatus.java:22-48``)
- ProtocolStatusCodes (``protocol/ProtocolStatusCodes.java:22-63``)
- dispatch ProtocolStatus -> CrawlStatus
  (``fetch/TaskScheduler.java:665-729``)

Each mapping is a plain dict (for the protocol plugins, the driver
queries' SQL and the test oracle) and a Spark Column lookup, which
the fetch result projection
(``operators/fetch.py::fetch_result``) applies to every response,
native or crowd. :func:`status_counter_cols` defines the per-status
counters fetch and updatedb record.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


class CrawlStatus:
    UNFETCHED = 0x01
    FETCHED = 0x02
    GONE = 0x03
    REDIR_TEMP = 0x04
    REDIR_PERM = 0x05
    RETRY = 0x22
    NOTMODIFIED = 0x26

    NAMES = {
        0x01: "unfetched",
        0x02: "fetched",
        0x03: "gone",
        0x04: "redir_temp",
        0x05: "redir_perm",
        0x22: "retry",
        0x26: "notmodified",
    }


class ProtocolStatus:
    SUCCESS = 1
    FAILED = 2
    PROTO_NOT_FOUND = 10
    GONE = 11
    MOVED = 12
    TEMP_MOVED = 13
    NOTFOUND = 14
    RETRY = 15
    EXCEPTION = 16
    ACCESS_DENIED = 17
    ROBOTS_DENIED = 18
    REDIR_EXCEEDED = 19
    NOTFETCHING = 20
    NOTMODIFIED = 21
    WOULDBLOCK = 22
    BLOCKED = 23
    UNKNOWN_HOST = 24  # -> GONE + unreachable-host accounting
    TIMEOUT = 25  # (reference routes THREAD_TIMEOUT via RETRY/GONE paths)


# ProtocolStatus -> CrawlStatus (TaskScheduler.java:665-729)
PROTOCOL_TO_CRAWL: dict[int, int] = {
    ProtocolStatus.SUCCESS: CrawlStatus.FETCHED,
    ProtocolStatus.MOVED: CrawlStatus.REDIR_PERM,
    ProtocolStatus.TEMP_MOVED: CrawlStatus.REDIR_TEMP,
    ProtocolStatus.TIMEOUT: CrawlStatus.GONE,
    ProtocolStatus.UNKNOWN_HOST: CrawlStatus.GONE,
    ProtocolStatus.FAILED: CrawlStatus.RETRY,
    ProtocolStatus.EXCEPTION: CrawlStatus.RETRY,
    ProtocolStatus.RETRY: CrawlStatus.RETRY,
    ProtocolStatus.BLOCKED: CrawlStatus.RETRY,
    ProtocolStatus.WOULDBLOCK: CrawlStatus.RETRY,
    ProtocolStatus.GONE: CrawlStatus.GONE,
    ProtocolStatus.NOTFOUND: CrawlStatus.GONE,
    ProtocolStatus.ACCESS_DENIED: CrawlStatus.GONE,
    ProtocolStatus.ROBOTS_DENIED: CrawlStatus.GONE,
    ProtocolStatus.REDIR_EXCEEDED: CrawlStatus.GONE,
    ProtocolStatus.NOTMODIFIED: CrawlStatus.NOTMODIFIED,
}

# HTTP status -> ProtocolStatus (lib-http HttpBase.java:233-380 mapping)
HTTP_TO_PROTOCOL: dict[int, int] = {
    200: ProtocolStatus.SUCCESS,
    301: ProtocolStatus.MOVED,
    302: ProtocolStatus.TEMP_MOVED,
    303: ProtocolStatus.TEMP_MOVED,
    304: ProtocolStatus.NOTMODIFIED,
    307: ProtocolStatus.TEMP_MOVED,
    401: ProtocolStatus.ACCESS_DENIED,
    403: ProtocolStatus.ACCESS_DENIED,
    404: ProtocolStatus.NOTFOUND,
    410: ProtocolStatus.GONE,
    500: ProtocolStatus.EXCEPTION,
    503: ProtocolStatus.RETRY,
}


def _lookup_col(key: Column, table: dict[int, int], default: int) -> Column:
    """``table[key]``, or ``default`` for a key outside the table or
    null, as one map-literal lookup. PySpark records a call site for
    each Column function it builds, so a CASE chain costs several such
    calls per entry to plan; the map literal costs the same at any
    size."""
    pairs = ", ".join(f"{k}, {v}" for k, v in table.items())
    return F.coalesce(F.element_at(F.expr(f"map({pairs})"), key), F.lit(default))


def protocol_to_crawl_col(code: Column) -> Column:
    """Column form of :data:`PROTOCOL_TO_CRAWL`; an unmapped code
    retries."""
    return _lookup_col(code, PROTOCOL_TO_CRAWL, CrawlStatus.RETRY)


def http_to_protocol_col(http_status: Column) -> Column:
    """Column form of :data:`HTTP_TO_PROTOCOL`; -1 is a timeout and
    any other unmapped code an exception."""
    table = {-1: ProtocolStatus.TIMEOUT, **HTTP_TO_PROTOCOL}
    return _lookup_col(http_status, table, ProtocolStatus.EXCEPTION)


def status_counter_cols(status: Column, where: Column) -> list[Column]:
    """A stage's status counters as aggregate Columns: per CrawlStatus
    code, the rows matching ``where`` with that status, named by the
    code. One ``observe`` on the artifact write evaluates them all, as
    the reference counts its status families in the reduce that writes
    the rows (``ReduceDatumBuilder.java:278-306``)."""
    return [F.count_if(where & (status == code)).alias(str(code)) for code in CrawlStatus.NAMES]


def status_name_col(status: Column) -> Column:
    expr = F.lit("unknown")
    for code, name in CrawlStatus.NAMES.items():
        expr = F.when(status == code, F.lit(name)).otherwise(expr)
    return expr

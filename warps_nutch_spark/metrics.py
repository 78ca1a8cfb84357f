"""NutchMetrics: file-based side reports next to the crawl.

Reference: ``tools/NutchMetrics.java`` — a per-day report directory
holding ``unreachable-hosts.txt`` (read back by TasksMonitor at
startup, ``TasksMonitor.java:103``) plus append-only debug reports the
fetch engine emits per batch: redirects
(``TaskScheduler.java:753`` — ``[%s] - %100s -> %s``), urls-from-seed
(``NutchMetrics.reportUrlsFromSeed`` — ``seed -> url``), and fetch-time
history (``TaskScheduler.java:806-815`` — only rows fetched at least
twice).

The engine's canonical status counters live in each round stage's
``_DONE`` record and are served by ``RoundDriver.metrics()`` (R11);
these text reports are the operator-facing debug surface a reference
user greps, produced from the same state. Report content
streams through ``toLocalIterator`` — one page of rows in driver
memory at a time, never a full collect."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: metadata/Nutch.java:284
FILE_UNREACHABLE_HOSTS = "unreachable-hosts.txt"


class NutchMetrics:
    """Per-day report directory with append-only report files."""

    def __init__(self, report_dir: str, day: str = "19700101"):
        # the reference stamps yyyyMMdd of "now"; deterministic callers
        # pass the crawl's virtual day instead
        self.dir = os.path.join(report_dir, day)
        os.makedirs(self.dir, exist_ok=True)
        self._written: set[str] = set()
        self.unreachable_hosts_path = os.path.join(
            self.dir, FILE_UNREACHABLE_HOSTS
        )
        if not os.path.exists(self.unreachable_hosts_path):
            open(self.unreachable_hosts_path, "w").close()

    # -- unreachable hosts (TasksMonitor startup state) -----------------
    def load_unreachable_hosts(self) -> set[str]:
        with open(self.unreachable_hosts_path) as f:
            return {ln.strip() for ln in f if ln.strip()}

    def write_unreachable_hosts(self, hosts) -> int:
        """Persist the detached-host set (sorted, one per line — the
        reference keeps a TreeSet). ``hosts`` is an iterable or a
        single-column DataFrame."""
        if isinstance(hosts, DataFrame):
            hosts = [r[0] for r in hosts.toLocalIterator()]
        merged = sorted(set(hosts) | self.load_unreachable_hosts())
        with open(self.unreachable_hosts_path, "w") as f:
            f.write("\n".join(merged) + ("\n" if merged else ""))
        return len(merged)

    # -- report files ------------------------------------------------------
    # The engine appends as events happen (the reference's streaming
    # writers); a REGENERATED report (the `reports` CLI verb rebuilding
    # from state) must truncate first or re-running duplicates every
    # line — each NutchMetrics instance overwrites a file on its first
    # write and appends within its own lifetime.
    def _append(self, name: str, lines) -> int:
        mode = "a" if name in self._written else "w"
        self._written.add(name)
        n = 0
        with open(os.path.join(self.dir, name), mode) as f:
            for ln in lines:
                f.write(ln)
                n += 1
        return n

    def report_redirects(self, frontier: DataFrame, suffix: str) -> int:
        """``fetch-redirects-{suffix}.txt`` — one ``[TEMP|PERM] -
        url -> reprUrl`` line per redirected row
        (TaskScheduler.java:748-753). Takes any frontier-shaped frame
        (url, repr_url, status) — redirect state lands there via
        updatedb's choose_repr."""
        from .functions.status import CrawlStatus

        rows = (
            frontier.filter(
                F.col("repr_url").isNotNull()
                & (F.col("repr_url") != F.col("url"))
                & F.col("status").isin(
                    CrawlStatus.REDIR_TEMP, CrawlStatus.REDIR_PERM
                )
            )
            .select(
                "url",
                "repr_url",
                F.when(F.col("status") == CrawlStatus.REDIR_PERM, "PERM")
                .otherwise("TEMP")
                .alias("redir_type"),
            )
        )
        return self._append(
            f"fetch-redirects-{suffix}.txt",
            (
                "[%s] - %100s -> %s\n" % (r["redir_type"], r["url"], r["repr_url"])
                for r in rows.toLocalIterator()
            ),
        )

    def report_urls_from_seed(self, outlinks: DataFrame, suffix: str) -> int:
        """``fetch-urls-from-seed-{suffix}.txt`` — ``seed -> url`` lines
        (NutchMetrics.reportUrlsFromSeed). Expects (seed_url, url)."""
        return self._append(
            f"fetch-urls-from-seed-{suffix}.txt",
            (
                f"{r['seed_url']} -> {r['url']}\n"
                for r in outlinks.select("seed_url", "url").toLocalIterator()
            ),
        )

    def report_fetch_time_history(self, frontier: DataFrame, suffix: str) -> int:
        """``fetch-time-history-{suffix}.txt`` — rows fetched at least
        twice, ``%60s`` url + comma-joined history + status name
        (TaskScheduler.java:806-815 gates on the history containing a
        comma; the engine keeps (prev_fetch_time, fetch_time))."""
        from .functions.status import CrawlStatus

        names = CrawlStatus.NAMES
        rows = frontier.filter(
            (F.col("prev_fetch_time") > 0)
            & (F.col("fetch_time") > F.col("prev_fetch_time"))
        ).select("url", "prev_fetch_time", "fetch_time", "status")
        return self._append(
            f"fetch-time-history-{suffix}.txt",
            (
                "%60s\tfetchTimeHistory : %d,%d\tstatus : %s\n"
                % (
                    r["url"],
                    r["prev_fetch_time"],
                    r["fetch_time"],
                    names.get(r["status"], str(r["status"])),
                )
                for r in rows.toLocalIterator()
            ),
        )

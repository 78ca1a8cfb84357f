"""Pure-Python oracle of the crawl-round semantics, independent of the
Spark implementation (used by E2E round tests to assert generated-set,
URL-seen membership, status counts and score parity — FIXTURES.md §6).

Implements, in plain dicts/loops, exactly the semantics from the
reference: Generator sort+caps, politeness budget, robots gate, status
dispatch, outlink explode with positional+OPIC scores, group-by-URL
merge, adaptive schedule. Float math in python doubles; comparisons
use tolerances.
"""

from __future__ import annotations

import hashlib
import re

import numpy as np

from warps_nutch_spark import simweb as sw
from warps_nutch_spark.config import CrawlConfig
from warps_nutch_spark.functions.status import (
    HTTP_TO_PROTOCOL,
    PROTOCOL_TO_CRAWL,
    CrawlStatus,
    ProtocolStatus,
)


def f32(x: float) -> float:
    """Quantize to float32: the frontier schema stores score/cash as
    float (webpage.avsc float fields), so the oracle must round-trip
    through f32 at every store point or queue tie-breaks diverge at
    budget cutoffs."""
    return float(np.float32(x))


class OracleRow:
    __slots__ = (
        "url", "host", "status", "fetch_time", "fetch_interval", "retries",
        "score", "cash", "distance", "priority", "generated_batch", "is_seed",
        "has_sig",
    )

    def __init__(self, url, host, **kw):
        self.url = url
        self.host = host
        self.status = kw.get("status", CrawlStatus.UNFETCHED)
        self.fetch_time = kw.get("fetch_time", 0)
        self.fetch_interval = kw.get("fetch_interval", 2592000)
        self.retries = kw.get("retries", 0)
        self.score = kw.get("score", 0.0)
        self.cash = kw.get("cash", 0.0)
        self.distance = kw.get("distance", 99999)
        self.priority = kw.get("priority", 0)
        self.generated_batch = None
        self.is_seed = kw.get("is_seed", False)
        self.has_sig = False


class CrawlOracle:
    def __init__(self, cfg: CrawlConfig, web_params: tuple, start_ms: int):
        self.cfg = cfg
        self.web = sw.SimWeb(*web_params)
        self.start_ms = start_ms
        self.frontier: dict[str, OracleRow] = {}
        self.robots = {
            r["host"]: (list(r["disallow"]), r["crawl_delay_ms"])
            for _, r in self.web.robots().iterrows()
        }
        self.host_failures: dict[str, int] = {}

    # -- helpers ---------------------------------------------------------
    @staticmethod
    def host_of(url):
        return re.match(r"^[a-z]+://([^/:?#]+)", url).group(1)

    def inject(self, urls):
        for u in urls:
            r = self.frontier.get(u)
            if r is None:
                r = OracleRow(u, self.host_of(u))
                self.frontier[u] = r
            r.score = self.cfg.injected_score
            r.cash = self.cfg.injected_score
            r.priority = self.cfg.priority_seed
            r.fetch_interval = self.cfg.seed_fetch_interval_sec
            r.distance = 0
            r.is_seed = True
            r.fetch_time = self.start_ms

    def seen(self) -> set[str]:
        return set(self.frontier)

    # -- one round ---------------------------------------------------------
    def generate(self, now, current_round=None):
        cfg = self.cfg
        unreachable = {
            h for h, n in self.host_failures.items() if n >= cfg.max_host_failures
        }

        def mark_ok(r):
            if r.generated_batch is None:
                return True
            if current_round is None:
                return False
            # F9 stale-mark escape (mirrors operators/generate.py)
            return current_round - int(r.generated_batch[-4:]) >= cfg.regen_rounds

        cands = [
            r
            for r in self.frontier.values()
            if mark_ok(r)
            and r.host not in unreachable
            and (
                r.fetch_time <= now
                or r.fetch_time - now > cfg.max_fetch_interval_sec * 1000
            )
            and (cfg.max_distance < 0 or r.distance <= cfg.max_distance)
        ]
        cands.sort(key=lambda r: (-r.priority, -r.score, r.url))
        per_host: dict[str, int] = {}
        capped = []
        for r in cands:
            per_host[r.host] = per_host.get(r.host, 0) + 1
            if per_host[r.host] <= cfg.max_per_host:
                capped.append(r)
        exempt = [r for r in capped if r.priority >= cfg.priority_must_fetch]
        normal = [r for r in capped if r.priority < cfg.priority_must_fetch][: cfg.top_n]
        return exempt + normal

    def run_round(self, r_idx: int):
        cfg = self.cfg
        now = self.start_ms + r_idx * cfg.round_time_limit_ms
        batch = f"batch-{r_idx:04d}"
        fetchlist = self.generate(now, current_round=r_idx)
        for r in fetchlist:
            r.generated_batch = batch

        # fetch per host with virtual clock
        by_host: dict[str, list[OracleRow]] = {}
        for r in fetchlist:
            by_host.setdefault(r.host, []).append(r)
        results = []  # (row, proto, fetch_ts, outlinks)
        counts: dict[int, int] = {}
        for host, rows in by_host.items():
            rows.sort(key=lambda r: (-r.priority, -r.score, r.url))
            disallow, delay_override = self.robots.get(host, ([], None))
            import pandas as pd

            has_override = delay_override is not None and not pd.isna(delay_override)
            delay = int(delay_override) if has_override else cfg.crawl_delay_ms
            t = now
            budget_end = now + cfg.round_time_limit_ms
            for r in rows:
                path = re.sub(r"^[a-z]+://[^/]+", "", r.url)
                if any(path.startswith(p) for p in disallow):
                    results.append((r, ProtocolStatus.ROBOTS_DENIED, t, []))
                    continue
                if t >= budget_end:
                    r.generated_batch = batch  # stays marked, unfetched
                    continue
                m = re.match(sw._URL_PARSE_RE, r.url)
                if not m:
                    results.append((r, ProtocolStatus.NOTFOUND, t, []))
                    t += delay
                    continue
                hi, j = int(m.group(1)), int(m.group(3))
                http = int(self.web.http_status(np.array([hi]), np.array([j]))[0])
                if http == -1:
                    proto = ProtocolStatus.TIMEOUT
                    self.host_failures[host] = self.host_failures.get(host, 0) + 1
                else:
                    proto = HTTP_TO_PROTOCOL.get(http, ProtocolStatus.EXCEPTION)
                outlinks = []
                if proto == ProtocolStatus.SUCCESS:
                    outlinks = self.web.outlinks_of(np.array([hi]), np.array([j]))[0]
                elif proto in (ProtocolStatus.MOVED, ProtocolStatus.TEMP_MOVED):
                    outlinks = [
                        str(self.web.redirect_target(np.array([hi]), np.array([j]))[0])
                    ]
                results.append((r, proto, t, outlinks))
                t += delay

        # updatedb
        contribs: dict[str, list] = {}  # url -> [(contribution, dist, from_seed)]
        for r, proto, ts, outlinks in results:
            # outlink post-processing (X3): canonical already; dedup+limit
            seen_links = []
            for u in outlinks:
                if u not in seen_links:
                    seen_links.append(u)
            seen_links = seen_links[: cfg.max_outlinks_per_page]
            n = len(seen_links)
            for i, u in enumerate(seen_links):
                pos_score = n - i
                unit = r.cash / n if n else 0.0
                factor = (
                    cfg.internal_score_factor
                    if self.host_of(u) == r.host
                    else cfg.external_score_factor
                )
                contribs.setdefault(u, []).append(
                    (f32(pos_score + unit * factor), r.distance + 1, r.is_seed)
                )

        for r, proto, ts, outlinks in results:
            crawl = PROTOCOL_TO_CRAWL.get(proto, CrawlStatus.RETRY)
            # OPIC distribute resets cash on EVERY fetch attempt,
            # outlinks or not (OPICScoringFilter.distributeScoreToOutlinks
            # runs unconditionally in the updatedb map) — including
            # RETRY/GONE rows, matching the fetched-row update in
            # operators/updatedb.py.
            r.cash = 0.0
            if crawl == CrawlStatus.RETRY:
                r.retries += 1
                if r.retries >= cfg.max_retries:
                    crawl = CrawlStatus.GONE
                else:
                    r.fetch_time = now + r.fetch_interval * 1000
            if crawl in (
                CrawlStatus.FETCHED,
                CrawlStatus.REDIR_PERM,
                CrawlStatus.REDIR_TEMP,
                CrawlStatus.NOTMODIFIED,
            ):
                r.retries = 0
                # adaptive schedule: first fetch -> state UNKNOWN
                # (interval kept); re-fetch of identical content ->
                # NOTMODIFIED (interval *1.2, int-trunc); sync_delta
                # contributes 0 because modified_time == fetch_ts.
                iv = r.fetch_interval
                if r.has_sig and proto == ProtocolStatus.SUCCESS:
                    iv = int(iv * (1.0 + cfg.adaptive_inc_rate))
                iv = max(cfg.adaptive_min_interval_sec, min(cfg.adaptive_max_interval_sec, iv))
                r.fetch_interval = iv
                r.fetch_time = ts + iv * 1000
                if proto == ProtocolStatus.SUCCESS:
                    r.has_sig = True
            elif crawl == CrawlStatus.GONE:
                # fetch_time computed with the OLD interval, then backoff
                r.fetch_time = now + r.fetch_interval * 1000
                r.fetch_interval = min(
                    cfg.max_fetch_interval_sec,
                    int(r.fetch_interval * cfg.gone_interval_factor),
                )
            r.status = crawl
            r.generated_batch = None
            counts[crawl] = counts.get(crawl, 0) + 1

        for u, lst in contribs.items():
            lst.sort(key=lambda x: -x[0])
            lst = lst[: cfg.max_inlinks]
            s = sum(x[0] for x in lst)
            dmin = min(x[1] for x in lst)
            from_seed = any(x[2] for x in lst)
            row = self.frontier.get(u)
            if row is None:
                if not self.cfg.additions_allowed:
                    continue
                row = OracleRow(u, self.host_of(u))
                row.score = f32(s)
                row.cash = f32(s)
                row.distance = dmin
                row.priority = (
                    self.cfg.priority_from_seed if from_seed else self.cfg.priority_default
                )
                row.fetch_time = now
                self.frontier[u] = row
            else:
                row.score = f32(row.score + s)
                row.cash = f32(row.cash + s)
                row.distance = min(row.distance, dmin)
        return {
            "fetched_set": {r.url for r, p, t, o in results},
            "status_counts": counts,
            "seen": set(self.frontier),
        }

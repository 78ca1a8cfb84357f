"""Deterministic simulated web ("SimWeb").

Plays the role of the reference's embedded-Jetty test site
(``src/testresources/fetch-test-site/``: index, pagea/pageb,
dup_of_pagea, nested_spider_trap, exception.html, robots.txt) but as a
*pure function* of the URL, so fetch behavior is identical regardless
of scale, partitioning, or which executor evaluates it — no external
data, no network (north_rule: synthesize deterministically).

URL space: ``http://host{i}.test/{category}/{j}`` with host sizes
Zipf-skewed (host0 holds roughly 30% of the URL mass — FIXTURES.md §4,
exercising salting + maxPerHost). All behavior (status, redirects,
outlinks, payload pixels, caption) derives from splitmix64 mixing of
(host_idx, page_idx, seed): fully numpy-vectorized, no per-row Python
hashing in the hot path.

Behavior classes (deterministic fractions of the URL space):
- ~90% HTTP 200 with an image payload (WNIM bytes, png or jpeg),
- ~3% 301/302 redirect to another same-host page,
- ~3% 404, ~2% 500 (-> RETRY), ~2% timeout (-> GONE, feeds the
  unreachable-host counter like TasksMonitor.java:343-366),
- pages in the ``trap`` category link one level deeper (the
  nested_spider_trap fixture), bounded only by generate.max.distance,
- duplicate-content pairs: pages where j is even in the ``dup``
  category share payload seed with j-1 (dup_of_pagea fixture).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from .functions import codec

CATEGORIES = ["index", "detail", "detail", "detail", "search", "media", "dup", "trap"]
U64 = np.uint64


def splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 (public-domain PRNG mixer)."""
    with np.errstate(over="ignore"):
        z = (x.astype(U64) + U64(0x9E3779B97F4A7C15)) & U64(0xFFFFFFFFFFFFFFFF)
        z = (z ^ (z >> U64(30))) * U64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> U64(27))) * U64(0x94D049BB133111EB)
        return z ^ (z >> U64(31))


def host_name(i: int | np.ndarray) -> str | np.ndarray:
    if isinstance(i, np.ndarray):
        return np.char.add(np.char.add("host", i.astype(str)), ".test")
    return f"host{i}.test"


def category_of(j: np.ndarray) -> np.ndarray:
    return np.array(CATEGORIES, dtype=object)[j % len(CATEGORIES)]


def make_url(hi: np.ndarray, j: np.ndarray) -> np.ndarray:
    cat = category_of(j)
    return (
        "http://host"
        + pd.Series(hi).astype(str)
        + ".test/"
        + pd.Series(cat).astype(str)
        + "/"
        + pd.Series(j).astype(str)
    ).to_numpy(dtype=object)


_URL_PARSE_RE = r"^http://host(\d+)\.test/([a-z]+)/(\d+)$"


def parse_urls(urls: pd.Series) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(host_idx, page_idx, valid) extracted from SimWeb URLs."""
    ext = urls.astype("string").str.extract(_URL_PARSE_RE)
    valid = ext[0].notna().to_numpy()
    hi = pd.to_numeric(ext[0], errors="coerce").fillna(0).astype(np.int64).to_numpy()
    j = pd.to_numeric(ext[2], errors="coerce").fillna(0).astype(np.int64).to_numpy()
    return hi, j, valid


class SimWeb:
    """Pure-function web of ``n_hosts`` hosts with Zipf page counts."""

    def __init__(
        self,
        n_hosts: int = 20,
        pages_per_host_base: int = 1000,
        seed: int = 42,
        dim_spread: int = 57,
    ):
        self.n_hosts = n_hosts
        self.seed = seed
        # image dims are 8 .. 8+dim_spread px per side (corpus knob:
        # the scaling bench uses a thumbnail corpus so engine work,
        # not this VM's memory-bandwidth-bound codec, dominates)
        self.dim_spread = max(1, dim_spread)
        # Zipf sizes: host i gets base / (i+1) pages (host0 ~30% of mass)
        weights = 1.0 / (np.arange(n_hosts) + 1)
        weights /= weights.sum()
        self.host_sizes = np.maximum(
            (weights * pages_per_host_base * n_hosts).astype(np.int64), 4
        )

    # -- vectorized behavior lookups ------------------------------------
    def _mix(self, hi: np.ndarray, j: np.ndarray, salt: int) -> np.ndarray:
        key = (hi.astype(U64) << U64(32)) ^ j.astype(U64) ^ U64(self.seed * 1_000_003 + salt)
        return splitmix64(key)

    def http_status(self, hi: np.ndarray, j: np.ndarray) -> np.ndarray:
        r = self._mix(hi, j, 1) % U64(100)
        status = np.full(len(hi), 200, dtype=np.int64)
        status[r >= 90] = 301
        status[r >= 92] = 302
        status[r >= 93] = 404
        status[r >= 96] = 500
        status[r >= 98] = -1  # timeout sentinel
        return status

    def redirect_target(self, hi: np.ndarray, j: np.ndarray) -> np.ndarray:
        sizes = self.host_sizes[np.minimum(hi, self.n_hosts - 1)]
        j2 = (j * 17 + (self._mix(hi, j, 2) % U64(1024)).astype(np.int64) + 1) % sizes
        return make_url(hi, j2)

    def n_outlinks(self, hi: np.ndarray, j: np.ndarray) -> np.ndarray:
        return 3 + (self._mix(hi, j, 3) % U64(6)).astype(np.int64)

    def outlinks_of(self, hi: np.ndarray, j: np.ndarray) -> list[list[str]]:
        """Outlink lists per page. Trap pages link one level deeper on
        the same host (self-growing); others link mostly same-host with
        ~20% cross-host."""
        n = self.n_outlinks(hi, j)
        cat = category_of(j)
        sizes = self.host_sizes[np.minimum(hi, self.n_hosts - 1)]
        out: list[list[str]] = []
        for k in range(len(hi)):
            h, p, cnt = int(hi[k]), int(j[k]), int(n[k])
            if cat[k] == "trap":
                # nested spider trap: one link, always deeper (new URL)
                out.append([f"http://host{h}.test/trap/{p + len(CATEGORIES)}"])
                continue
            links = []
            mixes = splitmix64(
                (U64(h) << U64(32))
                ^ U64(p)
                ^ (np.arange(cnt, dtype=U64) * U64(0x9E3779B9))
                ^ U64(self.seed * 7 + 5)
            )
            for t in range(cnt):
                m = int(mixes[t])
                if m % 5 == 0 and self.n_hosts > 1:  # 20% cross-host
                    h2 = (h + 1 + (m >> 8) % (self.n_hosts - 1)) % self.n_hosts
                else:
                    h2 = h
                size2 = int(self.host_sizes[h2])
                p2 = (p * 31 + t * 7 + ((m >> 16) % 97)) % max(size2, 1)
                c2 = CATEGORIES[p2 % len(CATEGORIES)]
                links.append(f"http://host{h2}.test/{c2}/{p2}")
            out.append(links)
        return out

    def response_time_ms(self, hi: np.ndarray, j: np.ndarray) -> np.ndarray:
        """Simulated per-request latency: ~100-700 ms, with every 13th
        host (hi % 13 == 5) a slow host (~3-4 s) so the Q5 slow-queue
        eviction has something to evict."""
        base = 100 + (self._mix(hi, j, 17) % U64(600)).astype(np.int64)
        slow = (hi % 13) == 5
        return np.where(slow, base + 3000, base)

    def payload_seed(self, hi: np.ndarray, j: np.ndarray) -> np.ndarray:
        """Duplicate-content pairs: 'dup'-category pages come in pairs
        (j, j+8) — the second shares the payload seed of the first
        (same bytes, different URL; the dup_of_pagea fixture)."""
        cat = category_of(j)
        ncat = len(CATEGORIES)
        j_eff = np.where((cat == "dup") & ((j // ncat) % 2 == 1), j - ncat, j)
        return (self._mix(hi, j_eff, 9) & U64(0x7FFFFFFF)).astype(np.int64)

    def _payload_j(self, j: np.ndarray) -> np.ndarray:
        """Effective page index for payload identity (dup pairing)."""
        cat = category_of(j)
        ncat = len(CATEGORIES)
        return np.where((cat == "dup") & ((j // ncat) % 2 == 1), j - ncat, j)

    def image_dims(self, hi: np.ndarray, j: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        m = self._mix(hi, self._payload_j(j), 11)
        spread = U64(self.dim_spread)
        w = 8 + (m % spread).astype(np.int64)
        h = 8 + ((m >> U64(8)) % spread).astype(np.int64)
        return w, h

    def image_fmt(self, hi: np.ndarray, j: np.ndarray) -> np.ndarray:
        lossy = (self._mix(hi, self._payload_j(j), 13) % U64(2)) == 1
        return np.where(lossy, "jpeg", "png").astype(object)

    def image_id(self, hi: np.ndarray, j: np.ndarray) -> np.ndarray:
        seeds = self.payload_seed(hi, j)
        return ("img-" + pd.Series(seeds).map(lambda s: f"{s:012d}")).to_numpy(object)

    def caption(self, hi: np.ndarray, j: np.ndarray) -> np.ndarray:
        ids = self.image_id(hi, j)
        hosts = host_name(hi.astype(np.int64))
        return (
            "caption of "
            + pd.Series(ids).astype(str)
            + " on "
            + pd.Series(hosts).astype(str)
        ).to_numpy(object)

    def render_payload(self, hi: int, j: int) -> bytes:
        """Encode one page's image bytes + embedded caption."""
        return self.render_payload_batch(np.array([hi]), np.array([j]))[0]

    def render_payload_batch(self, hi: np.ndarray, j: np.ndarray) -> list[bytes]:
        """Vectorized payload rendering: all per-page attributes are
        computed in numpy batches; only pixel synthesis + zlib encode
        loop per image (each image has its own seed/dims)."""
        seeds = self.payload_seed(hi, j)
        w, h = self.image_dims(hi, j)
        fmts = self.image_fmt(hi, j)
        captions = self.caption(hi, j)
        out = []
        for k in range(len(hi)):
            px = codec.synth_pixels(int(seeds[k]), int(w[k]), int(h[k]))
            out.append(codec.encode_image(px, str(fmts[k]), caption=str(captions[k])))
        return out

    def respond(
        self, hi: np.ndarray, j: np.ndarray, valid: np.ndarray
    ) -> tuple[np.ndarray, list[bytes | None], list[list[str] | None]]:
        """One request to each page: (HTTP status, payload, outlinks).
        A 200 carries the rendered payload and its outlinks, a redirect
        its target as the single outlink (TaskScheduler.java:731-774).
        A URL outside the SimWeb space (``valid`` False) answers 404."""
        http = self.http_status(hi, j)
        http[~valid] = 404
        blobs: list[bytes | None] = [None] * len(hi)
        outs: list[list[str] | None] = [None] * len(hi)
        ok = np.flatnonzero(http == 200)
        if len(ok):  # the batch renderer needs at least one page
            rendered = self.render_payload_batch(hi[ok], j[ok])
            for i, blob, links in zip(ok, rendered, self.outlinks_of(hi[ok], j[ok])):
                blobs[i], outs[i] = blob, links
        redir = np.flatnonzero(np.isin(http, (301, 302)))
        for i, target in zip(redir, self.redirect_target(hi[redir], j[redir])):
            outs[i] = [str(target)]
        return http, blobs, outs

    # -- enumeration (for seeds and oracle checks) ----------------------
    def all_urls(self) -> pd.DataFrame:
        frames = []
        for h in range(self.n_hosts):
            j = np.arange(self.host_sizes[h], dtype=np.int64)
            hi = np.full_like(j, h)
            frames.append(pd.DataFrame({"hi": hi, "j": j, "url": make_url(hi, j)}))
        return pd.concat(frames, ignore_index=True)

    def seeds(self, per_host: int = 5) -> list[str]:
        """Seed list: first pages of each host (index pages first)."""
        out = []
        for h in range(self.n_hosts):
            for j in range(min(per_host, int(self.host_sizes[h]))):
                out.append(f"http://host{h}.test/{CATEGORIES[j % len(CATEGORIES)]}/{j}")
        return out

    def robots(self) -> pd.DataFrame:
        """Per-host robots rules: host1 disallows /search, host2 is
        forbid-all (403 semantics, HttpRobotRulesParser.java:121-122),
        host3 has a long crawl delay override (Host table q_cd,
        TasksMonitor.java:480-496)."""
        rows = []
        for h in range(self.n_hosts):
            disallow: list[str] = []
            delay = None
            if h == 1:
                disallow = ["/search"]
            elif h == 2:
                disallow = ["/"]
            elif h == 3:
                delay = 2000
            rows.append({"host": host_name(h), "disallow": disallow, "crawl_delay_ms": delay})
        return pd.DataFrame(rows)

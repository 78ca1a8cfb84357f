"""REST fetch-service transport — the fork's crowdsourcing headline
feature served over live HTTP (``fetch/service/FetchServer.java``
embedded-Jetty server + ``fetch/service/FetchResource.java`` REST
resource), serving the task table and result schema of
:mod:`.fetch_service`:

- ``GET /fetch/schedule/{count}[?per_queue=N]`` — lease up to ``count``
  tasks, spread round-robin across politeness queues (at most
  ``per_queue`` consecutive tasks of one host per call — the
  ``TaskSchedulers.randomFetchItems`` fairness property, deterministic
  here), each carrying its queue's ``crawl_delay_ms`` so external
  workers honor politeness. Mirrors
  ``FetchResource.getFetchItems`` (MAX_TASKS_PER_SCHEDULE=100).
- ``PUT /fetch/submit`` — accept a JSON array of forwarded worker
  responses (payload bytes base64-encoded); the first submission per
  task wins, and later duplicates and unknown task keys are counted
  and dropped, so ``drain_results`` holds one row per task. Mirrors
  ``FetchResource.postFetchResult``.
- ``GET /fetch/status`` — ``{published, leased, submitted}`` counters.

The server is the ENGINE side (it runs next to the round driver, like
the reference's FetchServer inside the Nutch runtime); workers are
external processes. State is driver-local and O(round fetchlist) —
the same footprint as the reference's in-memory ``FetchItemQueues``;
the 100 TB frontier never rides through it, only the round's leased
task batch (bounded by ``top_n``).
"""

from __future__ import annotations

import base64
import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import DataFrame, SparkSession

from .fetch_service import CROWD_RESULT

#: FetchResource.java MAX_TASKS_PER_SCHEDULE
MAX_TASKS_PER_SCHEDULE = 100


class FetchServer:
    """In-process HTTP fetch service. Start once per crawl, publish
    each round's task table, wait for workers, drain their results."""

    def __init__(
        self, port: int = 0, host: str = "127.0.0.1", lease_ttl_s: float = 15.0
    ):
        self._lock = threading.Lock()
        self._lease_ttl_s = lease_ttl_s
        self._tasks: dict[str, dict] = {}  # url_hash -> task row
        self._queues: dict[str, list[str]] = {}  # queue_id -> ranked url_hashes
        self._lease_ts: dict[str, float] = {}  # url_hash -> lease time
        self._results: dict[str, dict] = {}  # url_hash -> first submission
        self._dup_submissions = 0
        self._unknown_submissions = 0
        outer = self

        class _Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # quiet
                pass

            def _reply(self, code: int, payload) -> None:
                body = json.dumps(payload).encode("utf-8")
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_GET(self):
                path, _, query = self.path.partition("?")
                parts = [p for p in path.split("/") if p]
                if len(parts) == 3 and parts[:2] == ["fetch", "schedule"]:
                    try:
                        count = int(parts[2])
                    except ValueError:
                        return self._reply(400, {"error": "bad count"})
                    per_queue = 1
                    for kv in query.split("&"):
                        if kv.startswith("per_queue="):
                            per_queue = max(1, int(kv.split("=", 1)[1]))
                    return self._reply(200, outer.schedule(count, per_queue))
                if parts == ["fetch", "status"]:
                    return self._reply(200, outer.status())
                return self._reply(404, {"error": "not found"})

            def do_PUT(self):
                if self.path.partition("?")[0] != "/fetch/submit":
                    return self._reply(404, {"error": "not found"})
                try:
                    raw = self.rfile.read(int(self.headers.get("Content-Length", 0)))
                    results = json.loads(raw.decode("utf-8"))
                    assert isinstance(results, list)
                except Exception:
                    return self._reply(400, {"error": "bad submit body"})
                return self._reply(200, outer.submit(results))

            do_POST = do_PUT  # lenient: the reference resource accepts POST

        self._srv = ThreadingHTTPServer((host, port), _Handler)
        self._thread = threading.Thread(target=self._srv.serve_forever, daemon=True)
        self._thread.start()

    # -- engine-side API -------------------------------------------------
    @property
    def endpoint(self) -> str:
        h, p = self._srv.server_address[:2]
        return f"http://{h}:{p}"

    def publish(self, tasks: DataFrame) -> int:
        """Load a round's task table (from ``emit_fetch_tasks``) into
        the leaseable queue state; replaces any previous round's tasks
        that were never submitted (pending-requeue happens upstream)."""
        rows = tasks.select(
            "url_hash", "url", "queue_id", "queue_rank", "crawl_delay_ms"
        ).collect()
        with self._lock:
            self._tasks = {r["url_hash"]: r.asDict() for r in rows}
            queues: dict[str, list] = {}
            for r in sorted(rows, key=lambda r: (r["queue_rank"], r["url"])):
                queues.setdefault(r["queue_id"], []).append(r["url_hash"])
            self._queues = queues
            self._lease_ts = {}
            self._results = {}
            return len(self._tasks)

    def schedule(self, count: int, per_queue: int = 1) -> list[dict]:
        """Deterministic ``randomFetchItems``: next ``per_queue``
        leasable tasks per queue, interleaved by in-queue position then
        queue id, capped at ``count`` (and MAX_TASKS_PER_SCHEDULE).
        A lease older than ``lease_ttl_s`` with no submission becomes
        leasable again (the pending-task retune,
        ``TasksMonitor.java:retune`` — a crashed worker cannot starve
        the round)."""
        import time

        count = min(count, MAX_TASKS_PER_SCHEDULE)
        now = time.time()
        with self._lock:
            candidates = []
            for qid in sorted(self._queues):
                taken = 0
                for uh in self._queues[qid]:
                    if taken >= per_queue:
                        break
                    if uh in self._results:
                        continue
                    ts = self._lease_ts.get(uh)
                    if ts is not None and now - ts <= self._lease_ttl_s:
                        continue
                    candidates.append((taken, qid, uh))
                    taken += 1
            candidates.sort()
            # build the full reply BEFORE touching lease state so a bad
            # task row can never leave half the batch marked leased
            leased = []
            for _, qid, uh in candidates[:count]:
                t = self._tasks[uh]
                leased.append(
                    {
                        "url_hash": uh,
                        "url": t["url"],
                        "queue_id": qid,
                        "crawl_delay_ms": int(t["crawl_delay_ms"]),
                    }
                )
            for entry in leased:
                self._lease_ts[entry["url_hash"]] = now
            return leased

    def submit(self, results: list[dict]) -> dict:
        accepted = 0
        with self._lock:
            for r in results:
                uh = r.get("url_hash")
                if uh not in self._tasks:
                    self._unknown_submissions += 1
                    continue
                if uh in self._results:
                    self._dup_submissions += 1
                    continue
                row = {k: r.get(k) for k in CROWD_RESULT.names}
                if row["bytes"] is not None:
                    row["bytes"] = base64.b64decode(row["bytes"])
                self._results[uh] = row
                accepted += 1
        return {"accepted": accepted}

    def status(self) -> dict:
        with self._lock:
            return {
                "published": len(self._tasks),
                "leased": len(self._lease_ts),
                "submitted": len(self._results),
                "duplicate_submissions": self._dup_submissions,
                "unknown_submissions": self._unknown_submissions,
            }

    def await_complete(self, timeout_s: float, poll_s: float = 0.05) -> bool:
        """Block until every published task has a submission (True) or
        the round budget runs out (False — unreturned tasks then flow
        through ``ingest_fetch_results`` as pending-requeue rows)."""
        import time

        deadline = time.time() + timeout_s
        while time.time() < deadline:
            with self._lock:
                if len(self._results) >= len(self._tasks):
                    return True
            time.sleep(poll_s)
        return False

    def drain_results(self, spark: SparkSession) -> DataFrame:
        """Collected worker submissions as a typed DataFrame in the
        ``ingest_fetch_results`` input schema."""
        with self._lock:
            rows = [
                tuple(r[k] for k in CROWD_RESULT.names)
                for r in self._results.values()
            ]
        return spark.createDataFrame(rows, schema=CROWD_RESULT)

    def close(self) -> None:
        self._srv.shutdown()
        self._srv.server_close()


# -- worker-side client -------------------------------------------------
def worker_poll_once(
    endpoint: str,
    fetch_fn,
    worker_id: str,
    count: int = 20,
    per_queue: int = 2,
    timeout_s: float = 10.0,
) -> int:
    """One external-worker cycle: lease up to ``count`` tasks, fetch
    each via ``fetch_fn(url) -> (http_status, payload_bytes|None,
    out_urls|None)``, submit the forwarded responses. Returns the
    number of tasks processed (0 = nothing leaseable right now).

    This is the whole worker protocol — a real crowd worker is this
    loop plus politeness sleeps of each task's ``crawl_delay_ms``.
    """
    import time
    import urllib.request

    req = urllib.request.Request(
        f"{endpoint}/fetch/schedule/{count}?per_queue={per_queue}"
    )
    with urllib.request.urlopen(req, timeout=timeout_s) as resp:
        tasks = json.loads(resp.read().decode("utf-8"))
    if not tasks:
        return 0
    results = []
    for i, t in enumerate(tasks):
        t0 = time.time()
        http_status, blob, out_urls = fetch_fn(t["url"])
        results.append(
            {
                "url_hash": t["url_hash"],
                "http_status": int(http_status),
                "bytes": base64.b64encode(blob).decode("ascii")
                if blob is not None
                else None,
                "out_urls": list(out_urls) if out_urls is not None else None,
                "fetch_ts": int(time.time() * 1000) + i,
                "fetch_duration_ms": int((time.time() - t0) * 1000),
                "worker_id": worker_id,
            }
        )
    body = json.dumps(results).encode("utf-8")
    req = urllib.request.Request(
        f"{endpoint}/fetch/submit",
        data=body,
        method="PUT",
        headers={"Content-Type": "application/json"},
    )
    with urllib.request.urlopen(req, timeout=timeout_s) as resp:
        json.loads(resp.read().decode("utf-8"))
    return len(tasks)

"""NutchMaster: the REST admin server.

Reference: ``service/NutchMaster.java`` (embedded REST component
registering Job/Admin/Config/Db/Seed resources) and the resource
classes under ``service/resources/``:

- ``GET  /admin``                         → NutchStatus (start date,
  config ids, all jobs, running jobs) — ``AdminResource.java:28-38``
- ``GET  /admin/stop[?force=true]``       → deferred server stop,
  refused while jobs run unless forced — ``AdminResource.java:40-50``
  (the reference delays 10 s; configurable here so tests don't wait)
- ``GET  /config`` · ``GET /config/{id}`` · ``GET /config/{id}/{prop}``
  · ``POST /config/{id}`` · ``PUT /config/{id}/{prop}`` ·
  ``DELETE /config/{id}``                 — ``ConfigResource.java``
- ``POST /job/create`` · ``GET /job[?state=]`` · ``GET /job/{id}`` ·
  ``GET /job/{id}/stop`` · ``GET /job/{id}/abort`` — ``JobResource.java``
- ``POST /db`` (DbFilter JSON)            → DbQueryResult {values:[...]}
  — ``DbResource.java`` over :func:`..service.dbreader.db_page`
- ``POST /seed/create`` (SeedList JSON)   → seed dir path —
  ``SeedResource.java:36-63`` (writes the url list to a server-side
  file whose parent dir is returned, to be fed to an INJECT job)

Transport is stdlib ThreadingHTTPServer (the proven in-process live
test pattern from the ES-bulk / fetch-server sinks); every job delegates
to the shared SparkSession and streams through Spark. The only row data
the server holds is one frontier view per ``crawlId``: the
merge-on-read (MOR) resolution of the store at one version, copied into
the server process as an Arrow table sorted by the reversed row key. A
``/db`` page is cut from it in the request thread with no Spark job
(:func:`..service.dbreader.db_page`), as the reference's DbReader scans
rows inside the server process. The view is replaced when the
store's version changes and dropped on ``close()``. Beyond that the
footprint is O(jobs + configs), like the reference's in-memory managers.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import threading
import urllib.parse
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from ..schema import FRONTIER
from .dbreader import DEFAULT_DB_LIMIT, db_page, frontier_view, read_filter
from .jobs import ANY, ConfManager, JobManager, RUNNING


def _json_safe(v):
    if isinstance(v, (bytes, bytearray)):
        import base64

        return base64.b64encode(bytes(v)).decode("ascii")
    if isinstance(v, dict):
        return {k: _json_safe(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_json_safe(x) for x in v]
    if isinstance(v, _dt.datetime):
        return v.isoformat()
    return v


class NutchMasterServer:
    """In-process REST admin server bound to one SparkSession."""

    def __init__(
        self,
        spark,
        base_dir: str,
        port: int = 0,
        host: str = "127.0.0.1",
        web_params: tuple = (20, 1000, 42),
        stop_delay_s: float = 0.2,
    ):
        self.spark = spark
        self.base_dir = base_dir
        self.confs = ConfManager()
        self.jobs = JobManager(spark, base_dir, self.confs, web_params)
        self.start_time_ms = int(_dt.datetime.now().timestamp() * 1000)
        self._stop_delay_s = stop_delay_s
        self._stopped = threading.Event()
        # crawlId -> (store, resolved version, Arrow frontier view)
        self._views: dict[str, tuple] = {}
        self._views_lock = threading.Lock()
        outer = self

        class _Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # quiet
                pass

            def _reply(self, code: int, payload) -> None:
                body = json.dumps(_json_safe(payload)).encode("utf-8")
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def _body(self):
                n = int(self.headers.get("Content-Length") or 0)
                raw = self.rfile.read(n) if n else b""
                ctype = self.headers.get("Content-Type", "")
                if "form" in ctype:
                    return dict(urllib.parse.parse_qsl(raw.decode("utf-8")))
                return json.loads(raw.decode("utf-8")) if raw else None

            def _route(self, method: str):
                path, _, query = self.path.partition("?")
                parts = [urllib.parse.unquote(p) for p in path.split("/") if p]
                params = dict(urllib.parse.parse_qsl(query))
                try:
                    handled = outer._dispatch(method, parts, params,
                                              self._body if method != "GET" else None)
                except ValueError as e:
                    return self._reply(400, {"error": str(e)})
                except KeyError as e:
                    return self._reply(404, {"error": str(e)})
                except RuntimeError as e:
                    return self._reply(409, {"error": str(e)})
                except Exception as e:  # noqa: BLE001 — transport boundary
                    return self._reply(500, {"error": f"{type(e).__name__}: {e}"})
                if handled is None:
                    return self._reply(404, {"error": "not found"})
                code, payload = handled
                return self._reply(code, payload)

            def do_GET(self):
                return self._route("GET")

            def do_POST(self):
                return self._route("POST")

            def do_PUT(self):
                return self._route("PUT")

            def do_DELETE(self):
                return self._route("DELETE")

        self._srv = ThreadingHTTPServer((host, port), _Handler)
        self._thread = threading.Thread(target=self._srv.serve_forever, daemon=True)
        self._thread.start()

    # -- engine-side API --------------------------------------------------
    @property
    def endpoint(self) -> str:
        h, p = self._srv.server_address[:2]
        return f"http://{h}:{p}"

    def close(self) -> None:
        if not self._stopped.is_set():
            self._stopped.set()
            self._srv.shutdown()
            self._srv.server_close()
        with self._views_lock:
            self._views.clear()

    # -- routing ----------------------------------------------------------
    def _dispatch(self, method, parts, params, read_body):
        body = read_body() if read_body else None
        head = parts[0] if parts else ""

        if head == "admin":
            return self._admin(method, parts, params)
        if head == "config":
            return self._config(method, parts, body)
        if head == "job":
            return self._job(method, parts, params, body)
        if head == "db" and method == "POST" and len(parts) == 1:
            return 200, self._db_query(body or {})
        if head == "seed" and method == "POST" and parts[1:] == ["create"]:
            return 200, {"path": self._create_seed(body or {})}
        return None

    def _admin(self, method, parts, params):
        if method != "GET":
            return None
        if len(parts) == 1:
            return 200, {
                "startDate": self.start_time_ms,
                "configuration": self.confs.list(),
                "jobs": self.jobs.list(ANY),
                "runningJobs": self.jobs.list(RUNNING),
            }
        if parts[1] == "stop":
            force = str(params.get("force", "")).lower() == "true"
            running = self.jobs.list(RUNNING)
            if running and not force:
                return 200, {
                    "message": "Can't stop now. There are jobs running."
                               " Try force option."
                }
            threading.Timer(self._stop_delay_s, self.close).start()
            return 200, {"message": f"Stopping in {self._stop_delay_s} seconds."}
        return None

    def _config(self, method, parts, body):
        if method == "GET":
            if len(parts) == 1:
                return 200, self.confs.list()
            if len(parts) == 2:
                return 200, self.confs.get_as_map(parts[1])
            if len(parts) == 3:
                return 200, self.confs.get_as_map(parts[1]).get(parts[2])
        if method == "POST" and len(parts) == 2:
            if not body:
                raise ValueError("Nutch configuration cannot be empty!")
            body.setdefault("configId", parts[1])
            created = self.confs.create(body)
            if created is None:
                raise RuntimeError(f"Config {parts[1]} already exists")
            return 200, created
        if method == "PUT" and len(parts) == 3:
            value = (body or {}).get("value")
            if value is None:
                raise ValueError("Missing property value!")
            self.confs.set_property(parts[1], parts[2], str(value))
            return 200, "OK"
        if method == "DELETE" and len(parts) == 2:
            self.confs.delete(parts[1])
            return 200, "OK"
        return None

    def _job(self, method, parts, params, body):
        if method == "POST" and parts[1:] == ["create"]:
            if not body:
                raise ValueError("Job configuration is required!")
            return 200, self.jobs.create(body)
        if method != "GET":
            return None
        if len(parts) == 1:
            return 200, self.jobs.list(params.get("state"))
        if len(parts) == 2:
            return 200, self.jobs.get(parts[1])
        if len(parts) == 3 and parts[2] == "stop":
            return 200, self.jobs.stop(parts[1])
        if len(parts) == 3 and parts[2] == "abort":
            return 200, self.jobs.abort(parts[1])
        return None

    # -- db (DbResource.runQuery) ------------------------------------------
    def _db_query(self, flt: dict) -> dict:
        db_filter = dict(
            start_key=flt.get("startKey"),
            end_key=flt.get("endKey"),
            url_filter=flt.get("urlFilter"),
            batch_id=flt.get("batchId", "-all"),
            fields=flt.get("fields"),
            start=flt.get("start", 0),
            limit=flt.get("limit", DEFAULT_DB_LIMIT),
            keys_reversed=bool(flt.get("isKeysReversed", False)),
        )
        view = self._frontier_view(flt.get("crawlId") or "default")
        if view is None:
            # a crawl with no store answers bad input as an existing one does
            read_filter(FRONTIER.names, **db_filter)
            return {"values": []}
        return {"values": db_page(view, **db_filter)}

    @staticmethod
    def _is_live(entry: tuple | None) -> bool:
        """The cached view still serves its store's current version."""
        return entry is not None and entry[0].current_version() == entry[1]

    def _frontier_view(self, crawl_id: str):
        """The crawl's frontier, MOR-resolved into an Arrow table sorted
        by the reversed row key once per store version
        (:func:`..service.dbreader.frontier_view`), or None when the
        crawl has no store yet. A hit reads only the store's manifest
        (``_VERSION``); a miss builds the view under the lock, so
        concurrent first queries after a commit resolve it once.
        Opening the store and planning the read take the layout and
        schema from the manifest, not from Spark.

        The view holds its rows in the server process's memory, one copy
        per ``crawlId``, and does not spill to disk. It references no
        snapshot file, so no store version stays pinned by it."""
        from ..store.frontier import ParquetFrontierStore

        entry = self._views.get(crawl_id)
        if self._is_live(entry):
            return entry[2]
        with self._views_lock:
            entry = self._views.get(crawl_id)
            if self._is_live(entry):
                return entry[2]
            self._views.pop(crawl_id, None)  # free the old copy before the build
            try:
                # pure reader: adopt the store's recorded bucket layout
                store = ParquetFrontierStore.open(
                    self.spark, os.path.join(self.base_dir, crawl_id, "frontier")
                )
            except FileNotFoundError:
                return None
            # tag the view with the version read() resolved: unchanged
            # across the call means no commit landed inside it
            version = store.current_version()
            while True:
                frontier = store.read()
                before, version = version, store.current_version()
                if version == before:
                    break
            view = frontier_view(frontier)
            if not self._stopped.is_set():  # close() already dropped the views
                self._views[crawl_id] = (store, version, view)
            return view

    # -- seed (SeedResource.createSeedFile) --------------------------------
    def _create_seed(self, seed_list: dict) -> str:
        urls = [
            su["url"]
            for su in seed_list.get("seedUrls") or []
            if su.get("url")
        ]
        if not urls:
            raise ValueError("Seed list cannot be empty!")
        import tempfile

        seed_dir = tempfile.mkdtemp(prefix="seed-",
                                    dir=_ensure(os.path.join(self.base_dir, "seeds")))
        with open(os.path.join(seed_dir, "seed.txt"), "w") as fh:
            fh.write("\n".join(urls) + "\n")
        return seed_dir


def _ensure(d: str) -> str:
    os.makedirs(d, exist_ok=True)
    return d

"""Config manager + job manager for the REST admin service.

Reference: ``service/impl/ConfManagerImpl.java`` (named configuration
registry with a seeded default, duplicate-id refusal unless forced,
``{uiCrawlId}-{priority}-{seq}`` generated ids) and
``service/impl/JobManagerImpl.java`` + ``JobWorker.java`` (async job
workers with the JobInfo state machine IDLE→RUNNING→FINISHED/FAILED/
KILLED, one-running-job-per-config admission, stop vs abort).

Job types (``service/impl/JobFactory.java:34-41``):

    INJECT GENERATE FETCH PARSE UPDATEDB INDEX READDB CRAWL

map onto the Spark engine: INJECT → RoundDriver.inject; the four stage
jobs → ``run_round(r, stop_after=stage)`` over the same checkpointed
batch artifacts (running them in sequence is bit-identical to one
native round — pinned by test); INDEX → build_index_documents over the
frontier; READDB → status stats; CRAWL → full rounds.

Concurrency model: each job runs in its own Python thread against the
shared SparkSession with a per-job Spark job group (PySpark pinned
thread mode keeps the group thread-local), so ``abort`` maps to
``cancelJobGroup`` — the analog of JobWorker.killJob — and ``stop``
sets a cooperative flag checked between rounds (JobWorker.stopJob
semantics: finish the current unit, skip the rest).
"""

from __future__ import annotations

import dataclasses
import itertools
import os
import threading
import time
from dataclasses import dataclass, field
from typing import Any

from ..config import CrawlConfig

DEFAULT_CONFIG = "default"

#: JobInfo.State (service/model/response/JobInfo.java:28-30)
IDLE = "IDLE"
RUNNING = "RUNNING"
FINISHED = "FINISHED"
FAILED = "FAILED"
KILLED = "KILLED"
STOPPING = "STOPPING"
ANY = "ANY"
NOT_FOUND = "NOT_FOUND"
TERMINAL_STATES = (FINISHED, FAILED, KILLED)

JOB_TYPES = (
    "INJECT",
    "GENERATE",
    "FETCH",
    "PARSE",
    "UPDATEDB",
    "INDEX",
    "READDB",
    "CRAWL",
)
_STAGE_OF = {"GENERATE": "generate", "FETCH": "fetch", "PARSE": "parse",
             "UPDATEDB": "updatedb"}


def default_config_map() -> dict[str, str]:
    """The default CrawlConfig flattened to a string property map (the
    ConfManagerImpl seeded NutchConfiguration analog). Only scalar
    fields flatten — container-typed fields (dict/list defaults) can't
    round-trip through string properties and keep their dataclass
    defaults instead."""
    defaults = CrawlConfig()
    out: dict[str, str] = {}
    for f in dataclasses.fields(CrawlConfig):
        v = getattr(defaults, f.name)
        if isinstance(v, (dict, list, set, tuple)):
            continue
        out[f.name] = str(v).lower() if isinstance(v, bool) else str(v)
    return out


def config_from_map(props: dict[str, str]) -> CrawlConfig:
    """Typed CrawlConfig from a property map; unknown keys ride along
    for user code but don't reach the dataclass."""
    defaults = CrawlConfig()
    kw: dict[str, Any] = {}
    for f in dataclasses.fields(CrawlConfig):
        if f.name not in props:
            continue
        raw = props[f.name]
        default_v = getattr(defaults, f.name)
        if isinstance(default_v, (dict, list, set, tuple)):
            continue  # container fields never flatten (see above)
        if isinstance(default_v, bool):
            kw[f.name] = str(raw).strip().lower() in ("true", "1", "yes")
        elif isinstance(default_v, int):
            kw[f.name] = int(raw)
        elif isinstance(default_v, float):
            kw[f.name] = float(raw)
        else:
            kw[f.name] = raw
    return CrawlConfig(**kw)


class ConfManager:
    """ConfManagerImpl analog over plain property maps."""

    def __init__(self):
        self._lock = threading.Lock()
        self._configs: dict[str, dict[str, str]] = {
            DEFAULT_CONFIG: default_config_map()
        }
        self._seq = itertools.count(1)

    def list(self) -> list[str]:
        with self._lock:
            return sorted(self._configs)

    def get(self, conf_id: str | None) -> dict[str, str] | None:
        with self._lock:
            return self._configs.get(conf_id or DEFAULT_CONFIG)

    def get_as_map(self, conf_id: str) -> dict[str, str]:
        with self._lock:
            if conf_id not in self._configs:
                raise KeyError(f"Unknown configId <{conf_id}>")
            return dict(self._configs[conf_id])

    def set_property(self, conf_id: str, name: str, value: str) -> None:
        with self._lock:
            if conf_id not in self._configs:
                raise KeyError(f"Unknown configId <{conf_id}>")
            self._configs[conf_id][name] = value

    def delete(self, conf_id: str) -> None:
        with self._lock:
            self._configs.pop(conf_id, None)

    def create(self, new_config: dict) -> str | None:
        """``POST /config/{id}`` body: {configId?, params?, force?,
        priority?} (model/request/NutchConfig). Returns the id, or
        None when the id exists and force is unset (ConfManagerImpl.
        canCreate)."""
        conf_id = (new_config.get("configId") or "").strip()
        params = new_config.get("params") or {}
        if not conf_id:
            ui_crawl_id = params.get("ui.crawl.id", "crawl")
            priority = new_config.get("priority", "default")
            conf_id = f"{ui_crawl_id}-{priority}-{next(self._seq)}"
        with self._lock:
            if conf_id in self._configs and not new_config.get("force"):
                return None
            conf = default_config_map()
            conf["nutch.config.id"] = conf_id
            conf.update({str(k): str(v) for k, v in params.items()})
            self._configs[conf_id] = conf
        return conf_id


@dataclass
class JobInfo:
    id: str
    type: str
    conf_id: str
    crawl_id: str
    args: dict = field(default_factory=dict)
    state: str = IDLE
    msg: str = ""
    result: Any = None

    def as_dict(self) -> dict:
        return {
            "id": self.id,
            "type": self.type,
            "confId": self.conf_id,
            "crawlId": self.crawl_id,
            "args": self.args,
            "state": self.state,
            "msg": self.msg,
            "result": self.result,
        }


class JobManager:
    """JobManagerImpl analog: admission, worker threads, state."""

    def __init__(self, spark, base_dir: str, conf_manager: ConfManager,
                 web_params: tuple = (20, 1000, 42)):
        self.spark = spark
        self.base_dir = base_dir
        self.confs = conf_manager
        self.web_params = web_params
        self._lock = threading.Lock()
        self._jobs: dict[str, JobInfo] = {}
        self._threads: dict[str, threading.Thread] = {}
        self._stop_flags: dict[str, threading.Event] = {}
        self._seq = itertools.count(1)

    # -- admission (JobManagerImpl.create) ------------------------------
    def create(self, job_config: dict) -> str:
        if job_config.get("args") is None:
            raise ValueError("Arguments cannot be null!")
        jtype = str(job_config.get("type", "")).upper()
        if jtype not in JOB_TYPES:
            raise ValueError(f"Unknown job type {jtype!r}")
        conf_id = job_config.get("confId") or DEFAULT_CONFIG
        if self.confs.get(conf_id) is None:
            raise ValueError(f"Unknown confId {conf_id}")
        crawl_id = job_config.get("crawlId") or "default"
        with self._lock:
            # purge pass (JobManagerImpl calls executor.purge() on every
            # create): drop thread/stop-flag refs for terminal jobs whose
            # worker has exited, so a long-lived master doesn't grow
            # unboundedly and admission doesn't scan dead threads
            for jid, info in list(self._jobs.items()):
                t = self._threads.get(jid)
                if info.state in TERMINAL_STATES and (t is None or not t.is_alive()):
                    self._threads.pop(jid, None)
                    self._stop_flags.pop(jid, None)
            for info in self._jobs.values():
                # a KILLED job's thread may still be unwinding (abort()
                # sets the state, and Spark cancellation is
                # asynchronous); admission must wait for the worker to
                # actually exit or two jobs could write the same
                # workdir concurrently. Every other terminal state is
                # published by the worker as its last act.
                t = self._threads.get(info.id)
                busy = info.state in (RUNNING, IDLE, STOPPING) or (
                    info.state == KILLED and t is not None and t.is_alive()
                )
                if info.conf_id == conf_id and busy:
                    raise RuntimeError(
                        f"Another running job using config : {conf_id}"
                    )
            job_id = f"{crawl_id}-{jtype}-{next(self._seq)}"
            info = JobInfo(job_id, jtype, conf_id, crawl_id,
                           dict(job_config["args"]))
            self._jobs[job_id] = info
            stop = threading.Event()
            self._stop_flags[job_id] = stop
            t = threading.Thread(
                target=self._run, args=(info, stop), daemon=True,
                name=f"job-{job_id}",
            )
            self._threads[job_id] = t
        t.start()
        return job_id

    def list(self, state: str | None = None) -> list[dict]:
        with self._lock:
            infos = list(self._jobs.values())
        if state and state != ANY:
            if state in (RUNNING, IDLE, STOPPING):
                infos = [i for i in infos if i.state in (RUNNING, IDLE, STOPPING)]
            else:
                infos = [i for i in infos
                         if i.state not in (RUNNING, IDLE, STOPPING)]
        return [i.as_dict() for i in infos]

    def get(self, job_id: str) -> dict:
        with self._lock:
            info = self._jobs.get(job_id)
        if info is None:
            return JobInfo(job_id, "", "", "", state=NOT_FOUND,
                           msg="JOB NOT FOUND").as_dict()
        return info.as_dict()

    def stop(self, job_id: str) -> bool:
        """Cooperative stop: the job finishes its current round/stage
        then exits (JobWorker.stopJob)."""
        with self._lock:
            info = self._jobs.get(job_id)
            if info is None:
                return False
            if info.state in (RUNNING, IDLE):
                info.state = STOPPING
            self._stop_flags[job_id].set()
        return True

    def abort(self, job_id: str) -> bool:
        """Hard kill: cancel the job group (JobWorker.killJob)."""
        with self._lock:
            info = self._jobs.get(job_id)
            if info is None:
                return False
            if info.state not in (RUNNING, IDLE, STOPPING):
                return False  # already terminal — nothing to kill
            self._stop_flags[job_id].set()
            info.state = KILLED
        try:
            self.spark.sparkContext.cancelJobGroup(job_id)
        except Exception:
            pass
        return True

    def wait(self, job_id: str, timeout_s: float = 120.0) -> dict:
        """Engine-side convenience (tests / CLI): block until terminal."""
        t0 = time.time()
        while time.time() - t0 < timeout_s:
            info = self.get(job_id)
            if info["state"] not in (IDLE, RUNNING, STOPPING):
                return info
            time.sleep(0.05)
        return self.get(job_id)

    # -- execution -------------------------------------------------------
    def _driver(self, info: JobInfo):
        from ..plans.round import RoundDriver

        cfg = config_from_map(self.confs.get(info.conf_id) or {})
        workdir = os.path.join(self.base_dir, info.crawl_id)
        return RoundDriver(self.spark, workdir, cfg, self.web_params)

    def _next_round(self, workdir: str, stage: str) -> int:
        """Infer the batch a stage job should work on: GENERATE starts
        the first round whose generate artifact is absent; the later
        stages resume the newest round that has a generate artifact
        (matching how the reference threads one batchId through the
        four stage jobs)."""
        rounds_dir = os.path.join(workdir, "rounds")
        rounds = sorted(
            int(d.split("-")[1])
            for d in (os.listdir(rounds_dir) if os.path.isdir(rounds_dir) else [])
            if d.startswith("batch-")
        )
        if not rounds:
            return 0
        last = rounds[-1]
        done = os.path.exists(
            os.path.join(rounds_dir, f"batch-{last:04d}", "updatedb", "_DONE")
        )
        if stage == "generate":
            return last + 1 if done else last
        return last

    def _run(self, info: JobInfo, stop: threading.Event) -> None:
        sc = self.spark.sparkContext
        try:
            sc.setJobGroup(info.id, f"{info.type} {info.crawl_id}",
                           interruptOnCancel=True)
        except Exception:
            pass
        with self._lock:
            if info.state == KILLED:
                return  # aborted before the worker started
            if info.state == STOPPING:
                info.state = FINISHED
                info.msg = "stopped before start"
                return
            info.state = RUNNING
        drv = None
        state, result, msg = FAILED, None, ""
        try:
            drv = self._driver(info)
            result = self._execute(info, drv, stop)
            state = FINISHED
        except Exception as e:  # noqa: BLE001 — job boundary
            msg = f"{type(e).__name__}: {e}"
        finally:
            if drv is not None:
                try:
                    drv.close()
                except Exception:
                    pass
            try:
                sc.setJobGroup("", "")
            except Exception:
                pass
        # the terminal state is the worker's last act: a client that
        # reads it may create the next job on this config at once
        with self._lock:
            if info.state != KILLED:
                info.state, info.result, info.msg = state, result, msg

    def _execute(self, info: JobInfo, drv, stop: threading.Event):
        args = info.args
        if info.type == "INJECT":
            seed_dir = args.get("seedDir") or args.get("seed_dir")
            if not seed_dir:
                raise ValueError("INJECT requires args.seedDir")
            drv.inject(self.spark.read.text(seed_dir))
            return {"frontier_rows": drv.store.read().count()}
        if info.type in _STAGE_OF:
            stage = _STAGE_OF[info.type]
            r = int(args.get("round", self._next_round(drv.workdir, stage)))
            stats = drv.run_round(r, stop_after=stage)
            return stats
        if info.type == "CRAWL":
            rounds = int(args.get("rounds", 1))
            seed_dir = args.get("seedDir") or args.get("seed_dir")
            if seed_dir and drv.store.current_version() < 0:
                drv.inject(self.spark.read.text(seed_dir))
            stats = []
            for r in range(int(args.get("startRound", 0)),
                           int(args.get("startRound", 0)) + rounds):
                if stop.is_set():
                    break
                stats.append(drv.run_round(r))
            return stats
        if info.type == "INDEX":
            from ..operators.indexer import (
                build_index_documents,
                to_bulk_ndjson,
                write_bulk_files,
            )

            docs = build_index_documents(
                drv.store.read(), batch_id=args.get("batch")
            )
            out = args.get("out") or os.path.join(drv.workdir, "index-job")
            lines = to_bulk_ndjson(docs, index_name=args.get("indexName", "nutch"))
            write_bulk_files(lines, out)
            if args.get("endpoint"):
                from ..operators.indexer import push_bulk_http

                push_bulk_http(lines, args["endpoint"])
            return {"indexed_docs": docs.count(), "out": out}
        if info.type == "READDB":
            from pyspark.sql import functions as F

            fr = drv.store.read()
            by_status = {
                str(r["status"]): r["n"]
                for r in fr.groupBy("status").agg(F.count("*").alias("n")).collect()
            }
            return {
                "rows": fr.count(),
                "by_status": by_status,
                "version": drv.store.current_version(),
            }
        raise ValueError(f"Unknown job type {info.type}")

"""Round driver: the ``bin/crawl`` loop re-expressed.

Reference: ``src/bin/crawl:128-193`` runs inject once, then per round
generate -> fetch -> parse -> updatedb, each a separate MR job keyed
by a batch id; a ``.STOP`` file breaks the loop. Here each stage is
one DataFrame job writing a parquet artifact under
``rounds/<batch_id>/<stage>/`` and, last, a ``_DONE`` record holding
the stage's time and status counters (the NutchCounter families,
``NutchCounter.java:49-71``; :meth:`RoundDriver.metrics` serves them).
The frontier store is versioned, so **any kill point resumes**:
completed stages are skipped (their artifacts re-read), the
interrupted stage re-runs idempotently (mirroring ``-resume`` /
mark-presence guards, ``FetchMapper.java:115-123``,
``ParserMapper.java:132-141``).

:meth:`RoundDriver.run` is the one crawl loop: the CLI, the tools and
the REST CRAWL job all call it. Generate and updatedb each read the
committed store themselves, as each reference job scans the web table
with its own field projection (``GenerateJob.java:159-168``); a round
caches no frontier view.

Time is a virtual clock: round r starts at start_ms +
r * round_time_limit_ms, so politeness spacing, schedules and scores
are bit-reproducible across re-runs (SURVEY.md §7 hard-part 5).

Crawl state and the one record that commits each kind:
- a round's stage artifacts, by each stage's ``_DONE``. The fetch
  stage's also holds ``hosts``, the cumulative host table (3 strikes
  -> detached, ``TasksMonitor.java:343-366``), and the parse stage's
  covers the round's payload slice ``payloads/<batch_id>`` (the
  input_hint image+caption corpus);
- the frontier snapshots, by the store manifest ``_VERSION``;
- the URL-seen Bloom partitions (``store/urlseen.py``), by their
  ``_MANIFEST.json``.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections.abc import Sequence

import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import CrawlConfig
from ..functions.status import ProtocolStatus, status_counter_cols
from ..operators import fetch as fetch_op
from ..operators import generate as gen_op
from ..operators import inject as inj_op
from ..operators import parse as parse_op
from ..operators import updatedb as upd_op
from ..schema import HOSTS, METRICS, PAYLOADS
from ..store.frontier import ParquetFrontierStore, link_parts
from ..store.urlseen import BloomUrlSeen

#: the parquet footer key under which Spark stores a file's row schema
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def host_eviction_cond(cfg: CrawlConfig):
    """Detached-host predicate over the host-state table: unreachable
    (>= max failures, TasksMonitor.java:343-366) plus, when slow-queue
    eviction is on, hosts whose avg fetch duration exceeds the
    threshold (Q5, FetchMonitor.java:437-460). Oracle-checked by the
    `slow_host_eviction` driver query."""
    cond = F.col("failures") >= cfg.max_host_failures
    if cfg.slow_host_avg_ms > 0:
        avg = F.col("total_duration_ms") / F.greatest(F.col("fetch_count"), F.lit(1))
        cond = cond | ((F.col("fetch_count") >= 3) & (avg > cfg.slow_host_avg_ms))
    return cond


def _host_state(workdir: str) -> str | None:
    """The host table of the newest round, by round number, whose
    fetch stage is done (``rounds/<batch_id>/fetch/hosts``, committed
    by that stage's ``_DONE``), or None before the first fetch."""
    base = os.path.join(workdir, "rounds")
    done = [
        d for d in (os.listdir(base) if os.path.isdir(base) else [])
        if os.path.exists(os.path.join(base, d, "fetch", "_DONE"))
    ]
    if not done:
        return None
    newest = max(done, key=lambda d: int(d.split("-")[1]))
    path = os.path.join(base, newest, "fetch", "hosts")
    if not os.path.isdir(path):
        raise ValueError(
            f"crawl dir {workdir} was written before host tables moved into the "
            f"fetch stage (it keeps host state in hosts/vNNNN-<batch> dirs, and "
            f"{path} is missing); start a new crawl dir"
        )
    return path


def unreachable_hosts(spark: SparkSession, workdir: str, cfg: CrawlConfig) -> DataFrame | None:
    """Detached hosts in the latest committed host state (see
    :func:`host_eviction_cond`), or None before the first fetch."""
    path = _host_state(workdir)
    if path is None:
        return None
    hosts = spark.read.schema(HOSTS).parquet(path)
    return hosts.filter(host_eviction_cond(cfg)).select("host")


class RoundDriver:
    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        cfg: CrawlConfig,
        web_params: tuple = (20, 1000, 42),
        start_ms: int = 1_700_000_000_000,
    ):
        self.spark = spark
        self.workdir = workdir
        self.cfg = cfg
        self.web_params = web_params
        self.start_ms = start_ms
        self.store = ParquetFrontierStore(
            spark, os.path.join(workdir, "frontier"), cfg.host_buckets
        )
        self.urlseen = BloomUrlSeen(
            os.path.join(workdir, "urlseen"),
            cfg.bloom_partitions,
            cfg.bloom_capacity_per_partition,
            cfg.bloom_fp_rate,
        )
        os.makedirs(os.path.join(workdir, "rounds"), exist_ok=True)

    # ---- helpers ------------------------------------------------------
    def _stage_dir(self, batch_id: str, stage: str) -> str:
        return os.path.join(self.workdir, "rounds", batch_id, stage)

    def _record(self, batch_id: str, stage: str) -> dict | None:
        """The stage's ``_DONE`` record, or None while it is not done."""
        try:
            with open(os.path.join(self._stage_dir(batch_id, stage), "_DONE")) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    def _mark_done(self, batch_id: str, stage: str, meta: dict | None = None) -> None:
        """Write the ``_DONE`` record atomically: a kill mid-write
        leaves only the temp file, and the stage reads as not done."""
        d = self._stage_dir(batch_id, stage)
        os.makedirs(d, exist_ok=True)
        tmp = os.path.join(d, "_DONE.tmp")
        with open(tmp, "w") as f:
            json.dump(meta or {}, f)
        os.replace(tmp, os.path.join(d, "_DONE"))

    def _write_stage(self, df: DataFrame, batch_id: str, stage: str) -> DataFrame:
        """Write the stage artifact and return it read back with the
        schema it was written with (no schema-inference job)."""
        path = os.path.join(self._stage_dir(batch_id, stage), "data")
        df.write.mode("overwrite").parquet(path)
        return self.spark.read.schema(df.schema).parquet(path)

    def _read_stage(self, batch_id: str, stage: str) -> DataFrame:
        """A committed stage artifact, read with the Spark schema its
        writer left in a part file's footer (no schema-inference job)."""
        path = os.path.join(self._stage_dir(batch_id, stage), "data")
        part = min(fn for fn in os.listdir(path) if fn.startswith("part-"))
        meta = pq.read_schema(os.path.join(path, part)).metadata
        schema = T.StructType.fromJson(json.loads(meta[_SPARK_SCHEMA_KEY]))
        return self.spark.read.schema(schema).parquet(path)

    def _stage(
        self, batch_id: str, stage: str, build, *after, counters: Sequence[Column] = ()
    ) -> DataFrame | None:
        """The round's one checkpoint protocol. A stage whose ``_DONE``
        record exists returns its artifact. Otherwise the stage writes
        ``build()`` as its artifact, or reuses the committed one, runs
        the post-write actions ``after`` in order in the caller's thread
        (each called with the artifact, each idempotent on resume), and
        last records its time and counters in ``_DONE``. With ``build``
        None the stage has no artifact and its actions get None.

        ``counters`` are aggregate Columns (see
        :func:`~warps_nutch_spark.functions.status.status_counter_cols`):
        an ``Observation`` evaluates them during the artifact write, so
        they cost no job of their own; a reused artifact is counted by
        one ``agg`` over it. Zero counters are left out of the record.

        A committed artifact (its ``_SUCCESS``) is reused, never
        rebuilt: for updatedb, recomputing against the already-merged
        frontier would double-apply inlink contributions."""
        if self._record(batch_id, stage) is not None:
            return self._read_stage(batch_id, stage) if build else None
        t0 = time.time()
        art, record, counts = None, {}, {}
        if build is not None:
            committed = os.path.join(self._stage_dir(batch_id, stage), "data", "_SUCCESS")
            if os.path.exists(committed):
                art = self._read_stage(batch_id, stage)  # resume: reuse
                if counters:
                    counts = art.agg(*counters).first().asDict()
            elif counters:
                # unnamed: two crawls on one session may run the same stage
                obs = Observation()
                art = self._write_stage(build().observe(obs, *counters), batch_id, stage)
                counts = obs.get
            else:
                art = self._write_stage(build(), batch_id, stage)
            record["write_sec"] = time.time() - t0
        for fn in after:
            fn(art)
        record.update(
            sec=time.time() - t0, counters={k: v for k, v in counts.items() if v}
        )
        self._mark_done(batch_id, stage, record)
        return art

    def metrics(self) -> DataFrame:
        """The status counters of every done stage, one
        (batch_id, stage, counter, value) row each, from the ``_DONE``
        records (no Spark job until the rows are read)."""
        base = os.path.join(self.workdir, "rounds")
        rows = [
            (batch_id, stage, counter, value)
            for batch_id in sorted(os.listdir(base))
            for stage in sorted(os.listdir(os.path.join(base, batch_id)))
            for counter, value in (self._record(batch_id, stage) or {})
            .get("counters", {}).items()
        ]
        return self.spark.createDataFrame(rows, METRICS)

    def payloads(self) -> DataFrame:
        """Every round's payload slice, read with the schema the parse
        stage writes it with (no schema-inference job)."""
        return self.spark.read.schema(PAYLOADS).option("recursiveFileLookup", "true").parquet(
            os.path.join(self.workdir, "payloads")
        )

    # ---- unreachable hosts ------------------------------------------
    def unreachable_hosts(self) -> DataFrame | None:
        return unreachable_hosts(self.spark, self.workdir, self.cfg)

    def _write_host_state(self, fetch_results: DataFrame, batch_id: str) -> None:
        """Write the cumulative host table, the newest done fetch's
        table plus this batch's fetched rows, over
        ``rounds/<batch_id>/fetch/hosts``. The fetch stage's ``_DONE``
        commits it; until then the newest done fetch is an earlier
        round's, so a re-run after a kill recomputes the same table."""
        failed = F.col("proto_code").isin(ProtocolStatus.TIMEOUT, ProtocolStatus.UNKNOWN_HOST)
        rows = fetch_results.filter(F.col("fetched")).select(
            "host",
            failed.cast("long").alias("failures"),
            F.col("fetch_duration_ms").alias("total_duration_ms"),
            F.lit(1).cast("long").alias("fetch_count"),
        )
        p = _host_state(self.workdir)
        if p is not None:
            rows = rows.unionByName(self.spark.read.schema(HOSTS).parquet(p))
        rows.groupBy("host").agg(
            *(F.sum(c).alias(c) for c in HOSTS.names if c != "host")
        ).write.mode("overwrite").parquet(
            os.path.join(self._stage_dir(batch_id, "fetch"), "hosts")
        )

    def host_config(self) -> DataFrame | None:
        """Optional operator-provided per-host queue overrides
        (workdir/host_config parquet: host, q_mt, q_cd, q_mcd — the
        Host-table settings of TasksMonitor.java:480-496)."""
        p = os.path.join(self.workdir, "host_config")
        if not os.path.isdir(p):
            return None
        return self.spark.read.parquet(p)

    def _avg_page_bytes(self) -> float | None:
        """Mean payload size from prior rounds — the avePageLength
        estimate feeding the Q6 bandwidth cap. Only computed when the
        throttle is configured (one small agg over the payload table)."""
        if self.cfg.bandwidth_mbytes <= 0:
            return None
        p = os.path.join(self.workdir, "payloads")
        if not os.path.isdir(p):
            return None
        row = (
            self.payloads()
            .agg(F.avg(F.length("bytes")).alias("avg_bytes"))
            .collect()[0]
        )
        return float(row["avg_bytes"]) if row["avg_bytes"] is not None else None

    # ---- stages ---------------------------------------------------------
    def inject(self, seeds, batch_id: str = "inject") -> None:
        parsed = inj_op.parse_seed_lines(self.spark, seeds)
        rows = inj_op.inject(self.store, parsed, self.cfg, self.start_ms, batch_id)
        # keyed by the store version the inject committed: URL-seen skips
        # a batch id it already lists, and a second inject may reuse the
        # batch id while adding seeds the filter must still learn
        self.urlseen.merge_round(
            rows.select("url_hash"), "url_hash",
            f"{batch_id}@v{self.store.current_version()}",
        )

    def round_now(self, r: int) -> int:
        return self.start_ms + r * self.cfg.round_time_limit_ms

    def run_round(self, r: int, stop_after: str | None = None) -> dict:
        """Run round ``r``; with ``stop_after`` set to a stage name
        ("generate" | "fetch" | "parse" | "updatedb") return as soon as
        that stage's artifact is committed. This is how the REST job
        service maps the reference's separate GenerateJob / FetchJob /
        ParserJob / DbUpdateJob verbs onto the same checkpointed round:
        each stage-job resumes the batch at its own stage
        (``service/impl/JobFactory.java:34-41`` type table).

        The returned ``stage_sec``, ``fetched`` and ``updated`` come
        from the stages' ``_DONE`` records, so a fresh, a resumed and a
        stage-by-stage round report each stage's own time and counts."""
        batch_id = f"batch-{r:04d}"
        now = self.round_now(r)
        t0 = time.time()
        done: list[str] = []  # stages reached, in round order

        def _run(stage: str, build, *after, counters=()) -> DataFrame | None:
            art = self._stage(batch_id, stage, build, *after, counters=counters)
            done.append(stage)
            return art

        def _stage_sec() -> dict[str, float]:
            """Each reached stage's time and its artifact write's time,
            from the stage records."""
            out: dict[str, float] = {}
            for stage in done:
                rec = self._record(batch_id, stage)
                out[stage] = round(rec.get("sec", 0.0), 2)
                if "write_sec" in rec:
                    out[f"{stage}.plan_write"] = round(rec["write_sec"], 2)
            return out

        def _partial(stage: str) -> dict:
            return {
                "batch_id": batch_id,
                "elapsed_sec": time.time() - t0,
                "stopped_after": stage,
                "stage_sec": _stage_sec(),
            }

        # The GENERATE_MARK lives in the fetchlist artifact until
        # updatedb folds it into the single per-round MERGE (one
        # frontier delta per round instead of two; intra-round
        # resume is covered by the artifact + _DONE record, the
        # F13 guard semantics are unchanged for the next round).
        fetchlist = _run("generate", lambda: gen_op.generate(
            self.store.read(), self.cfg, now, batch_id,
            self.unreachable_hosts(), current_round=r,
            avg_page_bytes=self._avg_page_bytes(),
        ))
        if stop_after == "generate":
            return _partial("generate")

        # -- fetch: the status counters of the fetched rows ride the
        # artifact write; the host table is written from the artifact
        def _fetch() -> DataFrame:
            if self.cfg.fetch_mode == "crowd":
                return self._crowd_fetch(fetchlist, batch_id, now)
            return fetch_op.fetch(
                fetchlist, self._robots_df(), self.cfg, now, batch_id,
                self.web_params, host_config=self.host_config(),
            )

        fetch_results = _run(
            "fetch", _fetch, lambda res: self._write_host_state(res, batch_id),
            counters=status_counter_cols(F.col("new_status"), F.col("fetched")),
        )
        if stop_after == "fetch":
            return _partial("fetch")

        # -- parse: the fetch artifact is already the parsed row, so the
        # stage writes no artifact. Its data directory links the fetch
        # artifact's part files, and its one Spark action writes the
        # payload slice. Updatedb and the JIT index read the gated rows.
        parsed = parse_op.parse(fetch_results, self.cfg, batch_id)
        fetch_dir, parse_dir = (
            os.path.join(self._stage_dir(batch_id, s), "data") for s in ("fetch", "parse")
        )

        def _payloads(_none) -> None:
            # batch-keyed overwrite (not append): a resumed parse
            # stage rewrites its own payload slice, never duplicates it
            parse_op.payload_rows(parsed).write.mode("overwrite").parquet(
                os.path.join(self.workdir, "payloads", batch_id)
            )

        _run("parse", None, lambda _none: link_parts(fetch_dir, parse_dir), _payloads)
        if stop_after == "parse":
            return _partial("parse")

        # -- JIT index (TaskScheduler.java:799-804 + JITIndexer.java):
        # index documents leave the round as soon as parse lands,
        # without waiting for updatedb or a separate IndexJob pass
        if self.cfg.index_jit:
            def _jit_index(_none) -> None:
                from ..operators import indexer as idx_op

                docs = idx_op.build_jit_documents(
                    parsed,
                    batch_id,
                    min_text_length=self.cfg.index_min_text_length,
                    prev_state=fetchlist.select("url_hash", "inlinks", "repr_url"),
                )
                lines = idx_op.to_bulk_ndjson(docs, index_name=self.cfg.index_name)
                idx_op.write_bulk_files(
                    lines, os.path.join(self.workdir, "index", batch_id)
                )
                if self.cfg.index_endpoint:
                    # live deployment shape: the same bulk entries go
                    # to {endpoint}/_bulk from the executors. A resumed
                    # round re-pushes the batch — bulk index actions
                    # are idempotent per _id, so replays are safe.
                    idx_op.push_bulk_http(lines, self.cfg.index_endpoint)

            _run("jit_index", None, _jit_index)

        # -- updatedb: a committed artifact is NEVER recomputed on
        # resume — the frontier may already contain this batch's
        # merge, and recomputing against it would double-apply
        # inlink contributions. The artifact is pre-bucketed so it
        # doubles as the store's delta snapshot (merge_linked): the
        # round's updates hit disk ONCE, not twice.
        data_dir = os.path.join(self._stage_dir(batch_id, "updatedb"), "data")

        def _merge_rows() -> DataFrame:
            rows = upd_op.updatedb(
                self.store.read(), fetchlist, parsed, self.cfg, now, batch_id, self.urlseen
            )
            return self.store.with_bucket(rows.drop("host_bucket"))

        # the status counters of the rows this batch updated ride the
        # artifact write. The post-write actions, the store's adoption
        # of the artifact then the URL-seen merge, each skip a batch
        # their manifest already lists, so a resumed round replays
        # neither
        _run(
            "updatedb", _merge_rows,
            lambda _rows: self.store.merge_linked(
                data_dir, {"op": "updatedb", "batch_id": batch_id}
            ),
            lambda rows: self.urlseen.merge_round(rows.select("url_hash"), "url_hash", batch_id),
            counters=status_counter_cols(
                F.col("status"), F.col("updated_batch") == batch_id
            ),
        )

        fetched, updated = (
            sum(self._record(batch_id, stage).get("counters", {}).values())
            for stage in ("fetch", "updatedb")
        )
        elapsed = time.time() - t0
        return {
            "batch_id": batch_id,
            "elapsed_sec": elapsed,
            "fetched": fetched,
            "updated": updated,
            "throughput_rows_per_sec": (fetched + updated) / elapsed if elapsed else 0.0,
            "stage_sec": _stage_sec(),
        }

    def _crowd_fetch(self, fetchlist: DataFrame, batch_id: str, now: int) -> DataFrame:
        """FetchMode.CROWDSOURCING round: build the politeness queue
        plan once, publish its robots-allowed rows as tasks, hand every
        task to the crowd worker (default: the SimWeb protocol — the
        same deterministic web native mode fetches), and ingest the
        forwarded responses over the same queue plan.

        With ``fetch_service_port >= 0`` the tasks are served over HTTP
        (``operators/fetch_server.FetchServer``): external workers lease
        them through its ``schedule`` and submit responses back.
        Otherwise the driver-side toPandas below hands every task to
        ``self.crowd_worker``, the worker simulation."""
        from ..operators import fetch_service as svc

        queues = fetch_op.fetch_queues(
            fetchlist, self._robots_df(), self.host_config(), self.cfg, batch_id
        )
        tasks = svc.emit_fetch_tasks(queues, batch_id)
        if self.cfg.fetch_service_port >= 0:
            # REST transport (fetch/service/FetchServer.java): serve the
            # task table over live HTTP and wait for external workers
            srv = self._ensure_fetch_server()
            srv.publish(tasks)
            srv.await_complete(self.cfg.fetch_service_wait_s)
            submitted = srv.drain_results(self.spark)
        else:
            # the first row per task wins, as FetchServer.submit keeps
            # the first submission
            results = self.crowd_worker(tasks.select("url_hash", "url").toPandas(), now)
            submitted = self.spark.createDataFrame(
                results.drop_duplicates("url_hash")[svc.CROWD_RESULT.names],
                schema=svc.CROWD_RESULT,
            )
        return svc.ingest_fetch_results(queues, submitted, self.cfg, batch_id, now)

    def _ensure_fetch_server(self):
        if getattr(self, "_fetch_server", None) is None:
            from ..operators.fetch_server import FetchServer

            self._fetch_server = FetchServer(port=self.cfg.fetch_service_port)
        return self._fetch_server

    def close(self) -> None:
        """Release driver-held transport resources (the REST fetch
        server, when one was started)."""
        srv = getattr(self, "_fetch_server", None)
        if srv is not None:
            srv.close()
            self._fetch_server = None

    def crowd_worker(self, task_pdf, now: int):
        """Default external-worker simulation over SimWeb (override or
        monkeypatch for a real worker pool)."""
        import numpy as np
        import pandas as pd

        from .. import simweb as sw

        hi, j, valid = sw.parse_urls(task_pdf["url"])
        http, blobs, outs = sw.SimWeb(*self.web_params).respond(hi, j, valid)
        # responses are numbered in url_hash order, so a response's
        # fetch_ts does not depend on the task table's row order
        k = task_pdf["url_hash"].rank(method="first").to_numpy(dtype=np.int64) - 1
        return pd.DataFrame({
            "url_hash": task_pdf["url_hash"].to_numpy(),
            "http_status": http,
            "bytes": pd.Series(blobs, dtype=object),
            "out_urls": pd.Series(outs, dtype=object),
            "fetch_ts": now + k,
            "fetch_duration_ms": 5,
            "worker_id": [f"worker-{i % 4}" for i in k],
        })

    def _robots_df(self) -> DataFrame:
        from .. import simweb as sw

        web = sw.SimWeb(*self.web_params)
        return self.spark.createDataFrame(web.robots())

    def run(
        self,
        seeds,
        rounds: int,
        start_round: int = 0,
        stop: threading.Event | None = None,
    ) -> list[dict]:
        """The crawl loop (``src/bin/crawl:128-193``): inject ``seeds``
        when they are given and the store is empty, then run rounds
        ``start_round`` .. ``start_round + rounds - 1``. Before each
        round the loop ends if a ``.STOP`` file sits in the workdir
        (``bin/crawl:135-140``) or ``stop`` is set (the REST job's
        cooperative stop). Returns one ``run_round`` dict per round run."""
        if seeds is not None and self.store.current_version() < 0:
            self.inject(seeds)
        stats = []
        for r in range(start_round, start_round + rounds):
            if os.path.exists(os.path.join(self.workdir, ".STOP")) or (
                stop is not None and stop.is_set()
            ):
                break
            stats.append(self.run_round(r))
        return stats

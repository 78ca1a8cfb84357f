"""Round driver: the ``bin/crawl`` loop re-expressed.

Reference: ``src/bin/crawl:128-193`` runs inject once, then per round
generate -> fetch -> parse -> updatedb, each a separate MR job keyed
by a batch id; a ``.STOP`` file breaks the loop. Here each stage is
one DataFrame job writing a parquet artifact under
``rounds/<batch_id>/<stage>/`` with a ``_DONE`` marker; the frontier
store is versioned, so **any kill point resumes**: completed stages
are skipped (their artifacts re-read), the interrupted stage re-runs
idempotently (mirroring ``-resume`` / mark-presence guards,
``FetchMapper.java:115-123``, ``ParserMapper.java:132-141``).

Time is a virtual clock: round r starts at start_ms +
r * round_time_limit_ms, so politeness spacing, schedules and scores
are bit-reproducible across re-runs (SURVEY.md §7 hard-part 5).

Per-round state maintained alongside the frontier:
- URL-seen Bloom partitions (``store/urlseen.py``),
- unreachable-host table (3 strikes -> detached,
  ``TasksMonitor.java:343-366``),
- metrics table (NutchCounter families + throughput),
- payload table (the input_hint image+caption corpus).
"""

from __future__ import annotations

import json
import logging
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import CrawlConfig
from ..functions.status import CrawlStatus, ProtocolStatus
from ..operators import fetch as fetch_op
from ..operators import generate as gen_op
from ..operators import inject as inj_op
from ..operators import parse as parse_op
from ..operators import updatedb as upd_op
from ..store.frontier import ParquetFrontierStore
from ..store.urlseen import BloomUrlSeen

log = logging.getLogger(__name__)


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


def host_state_versions(workdir: str) -> list[str]:
    """Committed host-state versions under ``workdir`` (dir carries the
    batch id so a resumed fetch stage can tell its update already
    landed; only dirs with _SUCCESS count, so a mid-write kill is
    invisible)."""
    base = os.path.join(workdir, "hosts")
    if not os.path.isdir(base):
        return []
    return sorted(
        d
        for d in os.listdir(base)
        if d.startswith("v") and os.path.exists(os.path.join(base, d, "_SUCCESS"))
    )


def unreachable_hosts(spark: SparkSession, workdir: str, cfg: CrawlConfig) -> DataFrame | None:
    """Detached hosts in the latest committed host state (see
    :func:`host_eviction_cond`), or None before the first fetch."""
    versions = host_state_versions(workdir)
    if not versions:
        return None
    hosts = spark.read.parquet(os.path.join(workdir, "hosts", versions[-1]))
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
        seen_cls = BloomUrlSeen
        if cfg.urlseen_backend == "cuckoo":
            from ..store.cuckoo import CuckooUrlSeen

            seen_cls = CuckooUrlSeen
        self.urlseen = seen_cls(
            os.path.join(workdir, "urlseen"),
            cfg.bloom_partitions,
            cfg.bloom_capacity_per_partition,
            cfg.bloom_fp_rate,
        )
        os.makedirs(os.path.join(workdir, "rounds"), exist_ok=True)

    # ---- helpers ------------------------------------------------------
    def _stage_dir(self, batch_id: str, stage: str) -> str:
        return os.path.join(self.workdir, "rounds", batch_id, stage)

    def _done(self, batch_id: str, stage: str) -> bool:
        return os.path.exists(os.path.join(self._stage_dir(batch_id, stage), "_DONE"))

    def _mark_done(self, batch_id: str, stage: str, meta: dict | None = None) -> None:
        d = self._stage_dir(batch_id, stage)
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "_DONE"), "w") as f:
            json.dump(meta or {}, f)

    def _write_stage(self, df: DataFrame, batch_id: str, stage: str) -> DataFrame:
        """Write the stage artifact and return it read back with the
        schema it was written with (no schema-inference job)."""
        path = os.path.join(self._stage_dir(batch_id, stage), "data")
        df.write.mode("overwrite").parquet(path)
        return self.spark.read.schema(df.schema).parquet(path)

    def _stage_data_ok(self, batch_id: str, stage: str) -> bool:
        """True when the stage's data artifact committed (_SUCCESS) —
        a resume can reuse it instead of recomputing (critical for
        updatedb, where recomputing against the already-merged frontier
        would double-apply inlink contributions)."""
        return os.path.exists(
            os.path.join(self._stage_dir(batch_id, stage), "data", "_SUCCESS")
        )

    def _read_stage(self, batch_id: str, stage: str) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self._stage_dir(batch_id, stage), "data"))

    def _append_metrics(self, df: DataFrame, batch_id: str, stage: str) -> None:
        """Metrics are keyed by (batch, stage) and written with
        overwrite, so a resumed stage rewrites its own slice instead of
        blind-appending a duplicate."""
        path = os.path.join(self.workdir, "metrics", f"{batch_id}_{stage}")
        df.write.mode("overwrite").parquet(path)

    def _append_metrics_rows(self, rows: list, batch_id: str, stage: str) -> None:
        """Driver-side variant of :meth:`_append_metrics` for counter
        sets that were already collected (a handful of status rows):
        writes the identical (batch_id, stage, counter, value) slice
        without re-running the aggregation over the source artifact."""
        df = self.spark.createDataFrame(
            rows, schema="batch_id string, stage string, counter string, value long"
        )
        self._append_metrics(df, batch_id, stage)

    def _run_overlapped(self, *fns) -> None:
        """Run independent stage actions from a small thread pool so
        each later job back-fills the earlier jobs' task tails (guide
        §2.6 — Spark schedules concurrent jobs FIFO inside one
        application). Callers pass only actions that are mutually
        independent AND individually idempotent on resume; exceptions
        propagate after all threads finish, so the stage's _DONE marker
        is never written when any action failed. A lone failure is
        re-raised as is; several are raised together as an
        ExceptionGroup so none of their tracebacks is lost.

        Overlap only pays when there IS a task tail to back-fill: on a
        near-single-core scheduler (e.g. one-core executors in the
        host-sharded scaling protocol) concurrent jobs just interleave
        on the same core and add scheduler/driver contention, so fall
        back to sequential execution there — scale-adaptive, not a
        local[32] constant."""
        if self.spark.sparkContext.defaultParallelism < 4:
            for fn in fns:
                fn()
            return
        from concurrent.futures import ThreadPoolExecutor

        from py4j.clientserver import ClientServer
        from pyspark import SparkContext, inheritable_thread_target

        # In pinned-thread mode (PYSPARK_PIN_THREAD, on by default) each
        # action carries the caller's local properties (job group,
        # description), so a cancelJobGroup reaches the pool-thread jobs.
        # Unpinned, Python threads have no JVM thread of their own to carry
        # them, and inheritable_thread_target(session) returns the session.
        pinned = isinstance(SparkContext._gateway, ClientServer)
        wrap = inheritable_thread_target(self.spark) if pinned else (lambda f: f)
        with ThreadPoolExecutor(max_workers=len(fns)) as pool:
            futures = [pool.submit(wrap(fn)) for fn in fns]
            errors: list[BaseException] = []
            for fut in futures:
                try:
                    fut.result()
                except BaseException as exc:  # propagate after joining all
                    errors.append(exc)
        if len(errors) == 1:
            raise errors[0]
        if errors:
            # an ExceptionGroup unless an interrupt is among them
            raise BaseExceptionGroup("overlapped stage actions failed", errors)

    def _metrics_sum(self, batch_id: str, stage: str) -> int:
        """Sum of one committed metrics slice — the resume-path source
        for the per-round fetched/updated totals (the fresh-run path
        keeps the collected counter rows in memory instead)."""
        df = self.spark.read.parquet(
            os.path.join(self.workdir, "metrics", f"{batch_id}_{stage}")
        )
        row = df.agg(F.coalesce(F.sum("value"), F.lit(0)).alias("v")).collect()[0]
        return int(row["v"])

    def metrics(self) -> DataFrame:
        return self.spark.read.option("recursiveFileLookup", "true").parquet(
            os.path.join(self.workdir, "metrics")
        )

    def payloads(self) -> DataFrame:
        return self.spark.read.option("recursiveFileLookup", "true").parquet(
            os.path.join(self.workdir, "payloads")
        )

    # ---- unreachable hosts ------------------------------------------
    def _hosts_path(self) -> str:
        base = os.path.join(self.workdir, "hosts")
        versions = host_state_versions(self.workdir)
        return os.path.join(base, versions[-1]) if versions else os.path.join(base, "v0000")

    def _hosts_batch_done(self, batch_id: str) -> bool:
        return any(v.endswith(f"-{batch_id}") for v in host_state_versions(self.workdir))

    def _next_hosts_path(self, batch_id: str) -> str:
        base = os.path.join(self.workdir, "hosts")
        os.makedirs(base, exist_ok=True)
        versions = host_state_versions(self.workdir)
        n = int(versions[-1][1:5]) + 1 if versions else 0
        return os.path.join(base, f"v{n:04d}-{batch_id}")

    def unreachable_hosts(self) -> DataFrame | None:
        return unreachable_hosts(self.spark, self.workdir, self.cfg)

    def _update_host_failures(self, fetch_results: DataFrame, batch_id: str) -> None:
        if self._hosts_batch_done(batch_id):
            return  # resume: this batch's host update already committed
        stats = (
            fetch_results.filter(F.col("fetched"))
            .groupBy("host")
            .agg(
                F.sum(
                    F.col("proto_code")
                    .isin(ProtocolStatus.TIMEOUT, ProtocolStatus.UNKNOWN_HOST)
                    .cast("long")
                ).alias("new_failures"),
                F.sum(F.coalesce("fetch_duration_ms", F.lit(0))).alias("new_duration"),
                F.count("*").alias("new_count"),
            )
        )
        p = self._hosts_path()
        if os.path.exists(p):
            prev = self.spark.read.parquet(p)
            merged = prev.join(stats, on="host", how="outer").select(
                "host",
                (F.coalesce("failures", F.lit(0)) + F.coalesce("new_failures", F.lit(0))).alias(
                    "failures"
                ),
                (
                    F.coalesce("total_duration_ms", F.lit(0))
                    + F.coalesce("new_duration", F.lit(0))
                ).alias("total_duration_ms"),
                (F.coalesce("fetch_count", F.lit(0)) + F.coalesce("new_count", F.lit(0))).alias(
                    "fetch_count"
                ),
            )
        else:
            merged = stats.select(
                "host",
                F.col("new_failures").alias("failures"),
                F.col("new_duration").alias("total_duration_ms"),
                F.col("new_count").alias("fetch_count"),
            )
        merged.write.mode("overwrite").parquet(self._next_hosts_path(batch_id))

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
        (``service/impl/JobFactory.java:34-41`` type table)."""
        batch_id = f"batch-{r:04d}"
        now = self.round_now(r)
        t0 = time.time()
        stage_times: dict[str, float] = {}
        # per-round totals derived from the collected counter rows (one
        # action instead of a second scan of each stage artifact); a
        # resumed round falls back to summing the committed metrics slice
        counts: dict[str, int] = {}

        # One frontier MOR materialization per round: the store version
        # is constant from generate until the updatedb merge at the end,
        # and both generate and updatedb's frontier semi-join read it —
        # without a persist the base+delta resolution subtree executes
        # once per consumer.
        # MEMORY_AND_DISK: at 10^10 rows the cache spills instead of
        # OOMing, and a spilled read still beats re-running the MOR
        # window + anti-join per consumer.
        # ONLY cache when deltas exist: a base-only read is a plain
        # parquet scan, and caching it costs more memory traffic than
        # the re-scan it saves (the unconditional persist cut the
        # 4-executor scaling efficiency from ~0.9 to 0.64 — the cache
        # build saturated the box's shared memory bandwidth).
        _round_frontier: list[DataFrame] = []

        def _frontier() -> DataFrame:
            if not _round_frontier:
                df = self.store.read()
                if self.store.has_deltas():
                    from pyspark import StorageLevel

                    df = df.persist(StorageLevel.MEMORY_AND_DISK)
                _round_frontier.append(df)
            return _round_frontier[0]

        def _release_frontier() -> None:
            for df in _round_frontier:
                df.unpersist()
            _round_frontier.clear()

        def _partial(stage: str) -> dict:
            _release_frontier()
            return {
                "batch_id": batch_id,
                "elapsed_sec": time.time() - t0,
                "stopped_after": stage,
                "stage_sec": {k: round(v, 2) for k, v in stage_times.items()},
            }

        # a stage that runs in this call hands its artifact on as the
        # DataFrame _write_stage returned; a stage an earlier call
        # completed is read back from disk
        fetchlist = fetch_results = parsed = None
        try:
            # -- generate ----------------------------------------------------
            if not self._done(batch_id, "generate"):
                if not self._stage_data_ok(batch_id, "generate"):
                    fl = gen_op.generate(
                        _frontier(), self.cfg, now, batch_id,
                        self.unreachable_hosts(), current_round=r,
                        avg_page_bytes=self._avg_page_bytes(),
                    )
                    # The GENERATE_MARK lives in the fetchlist artifact until
                    # updatedb folds it into the single per-round MERGE (one
                    # frontier delta per round instead of two; intra-round
                    # resume is covered by the artifact + _DONE marker, the
                    # F13 guard semantics are unchanged for the next round).
                    fetchlist = self._write_stage(fl, batch_id, "generate")
                self._mark_done(batch_id, "generate")
            stage_times["generate"] = time.time() - t0
            if stop_after == "generate":
                return _partial("generate")
            if fetchlist is None:
                fetchlist = self._read_stage(batch_id, "generate")

            # -- fetch ---------------------------------------------------------
            t_f = time.time()
            if not self._done(batch_id, "fetch"):
                if self._stage_data_ok(batch_id, "fetch"):
                    fetch_results = self._read_stage(batch_id, "fetch")  # resume: reuse
                else:
                    if self.cfg.fetch_mode == "crowd":
                        res = self._crowd_fetch(fetchlist, batch_id, now)
                    else:
                        res = fetch_op.fetch(
                            fetchlist, self._robots_df(), self.cfg, now, batch_id,
                            self.web_params, host_config=self.host_config(),
                        )
                    fetch_results = self._write_stage(res, batch_id, "fetch")
                # the host-state update and the fetch metrics both read
                # the committed fetch artifact but are independent of
                # each other: overlap the two actions (guide §2.6) so
                # the second one back-fills the first one's task tail
                def _hosts_update() -> None:
                    self._update_host_failures(fetch_results, batch_id)

                def _fetch_metrics() -> None:
                    # collect the handful of per-status rows once: the
                    # same rows feed the metrics slice AND the round's
                    # fetched total, which previously cost a second
                    # artifact scan
                    fetch_counter_rows = [
                        tuple(r)
                        for r in fetch_results.filter(F.col("fetched"))
                        .groupBy("new_status")
                        .agg(F.count("*").alias("value"))
                        .select(
                            F.lit(batch_id).alias("batch_id"),
                            F.lit("fetch").alias("stage"),
                            F.col("new_status").cast("string").alias("counter"),
                            "value",
                        )
                        .collect()
                    ]
                    self._append_metrics_rows(fetch_counter_rows, batch_id, "fetch")
                    counts["fetched"] = sum(r[3] for r in fetch_counter_rows)

                self._run_overlapped(_hosts_update, _fetch_metrics)
                self._mark_done(batch_id, "fetch")
            stage_times["fetch"] = time.time() - t_f
            if stop_after == "fetch":
                return _partial("fetch")
            if fetch_results is None:
                fetch_results = self._read_stage(batch_id, "fetch")

            # -- parse -----------------------------------------------------------
            t_p = time.time()
            if not self._done(batch_id, "parse"):
                # a JVM projection of the fetch artifact, which already
                # holds the payload bytes and their decode columns
                full = parse_op.parse(fetch_results, self.cfg, batch_id)
                if self._stage_data_ok(batch_id, "parse"):
                    parsed = self._read_stage(batch_id, "parse")  # resume: reuse
                else:
                    # the payload bytes persist in the fetch artifact
                    # and the payload slice: not a third time here
                    parsed = self._write_stage(full.drop("bytes"), batch_id, "parse")
                payloads = parse_op.payload_rows(full)
                # batch-keyed overwrite (not append): a resumed parse stage
                # rewrites its own payload slice, never duplicates it
                payloads.write.mode("overwrite").parquet(
                    os.path.join(self.workdir, "payloads", batch_id)
                )
                self._mark_done(batch_id, "parse")
            stage_times["parse"] = time.time() - t_p
            if stop_after == "parse":
                return _partial("parse")
            if parsed is None:
                parsed = self._read_stage(batch_id, "parse")

            # -- JIT index (TaskScheduler.java:799-804 + JITIndexer.java):
            # index documents leave the round as soon as parse lands,
            # without waiting for updatedb or a separate IndexJob pass
            if self.cfg.index_jit:
                t_j = time.time()
                if not self._done(batch_id, "jit_index"):
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
                    self._mark_done(batch_id, "jit_index")
                stage_times["jit_index"] = time.time() - t_j

            # -- updatedb ----------------------------------------------------------
            t_u = time.time()
            if not self._done(batch_id, "updatedb"):
                t_sub = time.time()
                if self._stage_data_ok(batch_id, "updatedb"):
                    # resume after the artifact committed: NEVER recompute —
                    # the frontier may already contain this batch's merge,
                    # and recomputing against it would double-apply inlink
                    # contributions. The artifact is the single source.
                    merge_rows = self._read_stage(batch_id, "updatedb")
                else:
                    merge_rows = upd_op.updatedb(
                        _frontier(), fetchlist, parsed, self.cfg, now, batch_id, self.urlseen
                    )
                    # pre-bucket so the resume artifact doubles as the
                    # store's delta snapshot (merge_linked below): the
                    # round's updates hit disk ONCE, not twice
                    merge_rows = self.store.with_bucket(merge_rows.drop("host_bucket"))
                    merge_rows = self._write_stage(merge_rows, batch_id, "updatedb")
                # record the bucket count the artifact was written with so
                # merge_linked can reject a stale-layout artifact. A resume
                # stamps too: a kill between the artifact's commit and its
                # stamp leaves it unstamped, and this store wrote it (the
                # manifest pins the store's bucket count)
                self.store.stamp_bucketing(
                    os.path.join(self._stage_dir(batch_id, "updatedb"), "data")
                )
                counters = upd_op.updatedb_counters(merge_rows, batch_id)
                stage_times["updatedb.plan_write"] = time.time() - t_sub

                # the three post-write actions — store adopt, URL-seen
                # Bloom merge, counter metrics — touch disjoint state
                # and each is idempotent on resume (committed_ops guard,
                # URL-seen batch guard, keyed metrics overwrite):
                # overlap them (guide §2.6); per-substage times stay in
                # stage_sec as each thread's own wall
                def _adopt() -> None:
                    tt = time.time()
                    if ("updatedb", batch_id) not in self.store.committed_ops():
                        self.store.merge_linked(
                            os.path.join(self._stage_dir(batch_id, "updatedb"), "data"),
                            {"op": "updatedb", "batch_id": batch_id},
                        )
                    stage_times["updatedb.adopt"] = time.time() - tt

                def _urlseen_merge() -> None:
                    tt = time.time()
                    # a batch the URL-seen manifest already lists is
                    # skipped, so a resumed round does not replay it
                    self.urlseen.merge_round(
                        merge_rows.select("url_hash"), "url_hash", batch_id
                    )
                    stage_times["updatedb.urlseen"] = time.time() - tt

                def _updatedb_metrics() -> None:
                    tt = time.time()
                    counter_rows = [tuple(r) for r in counters.collect()]
                    self._append_metrics_rows(counter_rows, batch_id, "updatedb")
                    counts["updated"] = sum(r[3] for r in counter_rows)
                    stage_times["updatedb.metrics"] = time.time() - tt

                self._run_overlapped(_adopt, _urlseen_merge, _updatedb_metrics)
                self._mark_done(batch_id, "updatedb")
            stage_times["updatedb"] = time.time() - t_u
            _release_frontier()  # merged: the cached MOR view is now stale

            elapsed = time.time() - t0
            # totals from the collected counter rows (sum over the
            # status groups equals the old artifact-filter counts by
            # construction); a resumed round whose stages were already
            # done sums the committed metrics slice instead of
            # re-scanning the fetch / updatedb artifacts
            fetched = counts.get("fetched")
            if fetched is None:
                fetched = self._metrics_sum(batch_id, "fetch")
            updated = counts.get("updated")
            if updated is None:
                updated = self._metrics_sum(batch_id, "updatedb")
            return {
                "batch_id": batch_id,
                "elapsed_sec": elapsed,
                "fetched": fetched,
                "updated": updated,
                "throughput_rows_per_sec": (fetched + updated) / elapsed if elapsed else 0.0,
                "stage_sec": {k: round(v, 2) for k, v in stage_times.items()},
            }
        finally:
            # a stage raising mid-round must not leak the cached
            # MOR view into a long-lived driver session
            _release_frontier()

    def _crowd_fetch(self, fetchlist: DataFrame, batch_id: str, now: int) -> DataFrame:
        """FetchMode.CROWDSOURCING round: publish tasks, hand every
        task to the crowd worker (default: the SimWeb protocol — the
        same deterministic web native mode fetches), ingest the
        forwarded responses. Swap ``self.crowd_worker`` for a REST
        bridge in a real deployment.

        Scale note: the driver-side toPandas here is the WORKER
        SIMULATION, not the contract — a production bridge leases from
        the written task table (operators/fetch_service.lease_tasks
        over the parquet artifact) and drops result files that
        ingest_fetch_results reads, so no task ever rides through the
        driver."""
        from ..operators import fetch_service as svc

        tasks, denied = svc.emit_fetch_tasks(
            fetchlist, self._robots_df(), self.cfg, batch_id
        )
        if self.cfg.fetch_service_port >= 0:
            # REST transport (fetch/service/FetchServer.java): serve the
            # task table over live HTTP and wait for external workers
            srv = self._ensure_fetch_server()
            srv.publish(tasks)
            srv.await_complete(self.cfg.fetch_service_wait_s)
            submitted = srv.drain_results(self.spark)
        else:
            task_pdf = tasks.select("url_hash", "url").toPandas()
            submitted = self.spark.createDataFrame(
                self.crowd_worker(task_pdf, now), schema=(
                    "url_hash string, http_status int, bytes binary,"
                    " out_urls array<string>, fetch_ts long,"
                    " fetch_duration_ms long, worker_id string"
                ),
            )
        res = svc.ingest_fetch_results(tasks, denied, submitted, batch_id, now)

        # one Python pass over the ingested rows, through the decode
        # the native fetch pass runs per host group
        def _decode(batches):
            for pdf in batches:
                yield pdf.join(parse_op.decode_payloads(pdf["bytes"]))

        return res.mapInPandas(_decode, schema=fetch_op.fetch_output_schema())

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

        web = sw.SimWeb(*self.web_params)
        hi, j, valid = sw.parse_urls(task_pdf["url"])
        http = web.http_status(hi, j)
        http[~valid] = 404
        rows = []
        for k in range(len(task_pdf)):
            blob, out_urls = None, None
            if http[k] == 200:
                blob = web.render_payload_batch(hi[k : k + 1], j[k : k + 1])[0]
                out_urls = web.outlinks_of(hi[k : k + 1], j[k : k + 1])[0]
            elif http[k] in (301, 302):
                out_urls = [str(web.redirect_target(hi[k : k + 1], j[k : k + 1])[0])]
            rows.append(
                {
                    "url_hash": task_pdf["url_hash"].iloc[k],
                    "http_status": int(http[k]),
                    "bytes": blob,
                    "out_urls": out_urls,
                    "fetch_ts": int(now + k),
                    "fetch_duration_ms": 5,
                    "worker_id": f"worker-{k % 4}",
                }
            )
        return pd.DataFrame(
            rows,
            columns=[
                "url_hash", "http_status", "bytes", "out_urls",
                "fetch_ts", "fetch_duration_ms", "worker_id",
            ],
        )

    def _robots_df(self) -> DataFrame:
        from .. import simweb as sw

        web = sw.SimWeb(*self.web_params)
        return self.spark.createDataFrame(web.robots())

    def run(self, seeds, rounds: int) -> list[dict]:
        # session hygiene before a multi-round crawl in a long-lived
        # session: drop whatever earlier work left in the SQL cache
        # (any cached frontier view would alias stale store state once
        # the rounds start merging anyway) and prompt a full GC so the
        # ContextCleaner releases dropped-but-uncollected shuffle and
        # checkpoint blocks NOW instead of via async weak-ref drain
        # mid-round. Measured on the bench web after a 20-query
        # pressure load: crawl 72.4 -> 62.6 s; a no-op on a fresh
        # session. The round's own persists all happen after this.
        try:
            self.spark.catalog.clearCache()
            self.spark.sparkContext._jvm.System.gc()
        except Exception:  # hygiene only — never fail a crawl over it
            log.warning("pre-crawl cache clear / GC failed", exc_info=True)
        if self.store.current_version() < 0:
            self.inject(seeds)
        stats = []
        for r in range(rounds):
            if os.path.exists(os.path.join(self.workdir, ".STOP")):
                break  # bin/crawl:135-140 semantics
            stats.append(self.run_round(r))
        return stats

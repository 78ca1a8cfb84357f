"""Name the 16N thread-scaling inversion (VERDICT r4 item 6).

BENCH/THREAD_SCALING.md shows single-JVM local[32] SLOWER than
local[8] (5620 vs 8310 urls/s), with the gap concentrated in round 2.
This runner re-runs both levels with Spark event logging and
aggregates per-task metrics over the whole run:

  - executorRunTime        (sum of task CPU-ish wall)
  - jvmGCTime              (GC share -> heap pressure hypothesis)
  - memory/diskBytesSpilled (spill hypothesis)
  - scheduler delay        (launch overhead hypothesis: finish -
                            launch - runTime - deser - resultSer)
  - python boot/total time from PythonRDD metrics where present

plus load-average + 1-thread matmul probes around each level (tenant
contention hypothesis). Fresh JVM per level, identical input
(THREAD_SCALING.md config, reduced to rounds=3 x the same SimWeb).

Run: PYTHONPATH=. python tools/profile_thread_scaling.py [hosts pages]
Writes BENCH/thread_scaling_profile.json.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

HOSTS = int(sys.argv[1]) if len(sys.argv) > 1 else 4000
PAGES = int(sys.argv[2]) if len(sys.argv) > 2 else 400
ROUNDS = int(os.environ.get("WNS_ROUNDS", "3"))

CHILD = r"""
import sys, os, json, shutil, tempfile, time
sys.path.insert(0, os.environ["WNS_REPO"]) ; os.environ["PYTHONPATH"] = os.environ["WNS_REPO"]
for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "1")
from pyspark.sql import SparkSession
from warps_nutch_spark.config import CrawlConfig
from warps_nutch_spark.plans.round import RoundDriver
from warps_nutch_spark.simweb import SimWeb

cpus = int(os.environ["WNS_CPUS"])
# 24g, or half the machine's memory where that is less: the Python
# workers and the OS need the rest
phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
driver_mb = min(24 * 1024, phys_mb // 2)
web_params = tuple(json.loads(os.environ["WNS_WEB"]))
rounds = int(os.environ["WNS_ROUNDS"])
evdir = os.environ["WNS_EVLOG"]
os.makedirs(evdir, exist_ok=True)
spark = (SparkSession.builder.master(f"local[{cpus}]")
         .config("spark.sql.shuffle.partitions", str(max(cpus * 2, 16)))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.driver.memory", f"{driver_mb}m")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.eventLog.enabled", "true")
         .config("spark.eventLog.dir", evdir)
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
from warps_nutch_spark.queries import ensure_worker_imports
ensure_worker_imports(spark)
web = SimWeb(*web_params)
cfg = CrawlConfig(top_n=400_000, max_per_host=400, crawl_delay_ms=1000,
                  round_time_limit_ms=3_600_000, host_buckets=64,
                  bloom_partitions=max(cpus, 16),
                  bloom_capacity_per_partition=2_000_000)
wd = tempfile.mkdtemp(prefix=f"wns-prof-{cpus}-")
try:
    drv = RoundDriver(spark, wd, cfg, web_params)
    seeds = spark.createDataFrame([(u,) for u in web.seeds(8)], ["value"])
    t0 = time.time()
    stats = drv.run(seeds, rounds=rounds)
    elapsed = time.time() - t0
    fetched = sum(s["fetched"] for s in stats)
    updated = sum(s["updated"] for s in stats)
    print("WNS_RESULT " + json.dumps({
        "cpus": cpus, "elapsed_sec": round(elapsed, 2),
        "fetched": fetched, "updated": updated,
        "urls_per_sec": round((fetched + updated) / elapsed, 1),
        "per_round": [{"elapsed_sec": round(s["elapsed_sec"], 2),
                       "stage_sec": s["stage_sec"]} for s in stats],
    }))
finally:
    shutil.rmtree(wd, ignore_errors=True)
spark.stop()
"""


def probe() -> dict:
    out = {"load_1m": round(os.getloadavg()[0], 2)}
    try:
        import numpy as np

        rng = np.random.default_rng(0)
        a = rng.random((1200, 1200))
        b = rng.random((1200, 1200))
        a @ b
        t0 = time.time()
        for _ in range(3):
            a @ b
        out["matmul_1t_sec"] = round(time.time() - t0, 2)
    except Exception:
        pass
    return out


def parse_eventlog(evdir: str) -> dict:
    import glob

    agg = {
        "tasks": 0,
        "executor_run_ms": 0,
        "jvm_gc_ms": 0,
        "deserialize_ms": 0,
        "result_ser_ms": 0,
        "sched_delay_ms": 0,
        "mem_spill_bytes": 0,
        "disk_spill_bytes": 0,
        "shuffle_write_ms": 0,
        "fetch_wait_ms": 0,
    }
    for path in glob.glob(os.path.join(evdir, "*")):
        if os.path.isdir(path):
            continue
        with open(path, errors="replace") as f:
            for line in f:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                tm = ev.get("Task Metrics") or {}
                ti = ev.get("Task Info") or {}
                if not tm:
                    continue
                run = tm.get("Executor Run Time", 0)
                deser = tm.get("Executor Deserialize Time", 0)
                rser = tm.get("Result Serialization Time", 0)
                agg["tasks"] += 1
                agg["executor_run_ms"] += run
                agg["jvm_gc_ms"] += tm.get("JVM GC Time", 0)
                agg["deserialize_ms"] += deser
                agg["result_ser_ms"] += rser
                agg["mem_spill_bytes"] += tm.get("Memory Bytes Spilled", 0)
                agg["disk_spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
                sw = tm.get("Shuffle Write Metrics") or {}
                agg["shuffle_write_ms"] += sw.get("Shuffle Write Time", 0) // 1_000_000
                sr = tm.get("Shuffle Read Metrics") or {}
                agg["fetch_wait_ms"] += sr.get("Fetch Wait Time", 0)
                launch, finish = ti.get("Launch Time"), ti.get("Finish Time")
                if launch and finish:
                    wall = finish - launch
                    agg["sched_delay_ms"] += max(
                        0, wall - run - deser - rser
                    )
    return agg


def run_level(cpus: int) -> dict:
    evdir = os.path.join(REPO, "BENCH", f"_evlog_{cpus}")
    import shutil

    shutil.rmtree(evdir, ignore_errors=True)
    env = dict(
        os.environ,
        WNS_REPO=REPO,
        WNS_CPUS=str(cpus),
        WNS_WEB=json.dumps([HOSTS, PAGES, 42, 8]),
        WNS_ROUNDS=str(ROUNDS),
        WNS_EVLOG=evdir,
    )
    pre = probe()
    t0 = time.time()
    out = subprocess.run(
        [sys.executable, "-c", CHILD], env=env, capture_output=True, text=True,
        timeout=3600,
    )
    wall = time.time() - t0
    post = probe()
    result = None
    for line in out.stdout.splitlines():
        if line.startswith("WNS_RESULT "):
            result = json.loads(line[len("WNS_RESULT "):])
    if result is None:
        print(out.stdout[-3000:], file=sys.stderr)
        print(out.stderr[-3000:], file=sys.stderr)
        raise RuntimeError(f"level {cpus} produced no result")
    metrics = parse_eventlog(evdir)
    shutil.rmtree(evdir, ignore_errors=True)
    return {
        "result": result,
        "metrics": metrics,
        "probe_pre": pre,
        "probe_post": post,
        "outer_wall_sec": round(wall, 2),
    }


def main():
    levels = [int(x) for x in os.environ.get("WNS_LEVELS", "8,32").split(",")]
    report = {"web": [HOSTS, PAGES, 42, 8], "rounds": ROUNDS, "levels": {}}
    for cpus in levels:
        print(f"=== level local[{cpus}] ===", flush=True)
        r = run_level(cpus)
        m, res = r["metrics"], r["result"]
        run_s = m["executor_run_ms"] / 1000
        print(
            f"local[{cpus}]: {res['urls_per_sec']} urls/s, "
            f"wall {res['elapsed_sec']}s; task-run {run_s:.0f}s, "
            f"gc {m['jvm_gc_ms']/1000:.1f}s "
            f"({100*m['jvm_gc_ms']/max(m['executor_run_ms'],1):.1f}%), "
            f"sched-delay {m['sched_delay_ms']/1000:.0f}s, "
            f"spill {m['disk_spill_bytes']/1e6:.0f}MB disk / "
            f"{m['mem_spill_bytes']/1e6:.0f}MB mem, "
            f"probes {r['probe_pre']} -> {r['probe_post']}",
            flush=True,
        )
        report["levels"][str(cpus)] = r
    out_path = os.path.join(REPO, "BENCH", "thread_scaling_profile.json")
    with open(out_path, "w") as f:
        json.dump(report, f, indent=1)
    print(f"wrote {out_path}")


if __name__ == "__main__":
    main()

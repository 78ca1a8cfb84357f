"""One benchmark run of the crawler on this machine.

    python3 perfbench/run.py --workload crawl_expand --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Starts ``local[<cores>]`` Spark, sets
the workload up from ``--seed`` (once), measures it for
about ``--seconds``, checks its outputs, and prints, as the last line
of standard output, one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end metrics of ``BENCHMARK.json``; with ``--trace 1`` they are
its per-layer metrics, from spans around the benchmark's own calls
into each layer and from a Spark event log written for that run only.
The lines before it carry the run's record: the workload's own view of
its metrics, the failures, and the box-noise probe before and after.

Everything the run writes stays under ``.perfbench_work/`` in the
checkout, which is removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("crawl_expand", "db_read")


class Ctx:
    """What a workload's ``setup`` and ``measure`` get to work with."""

    def __init__(self, spark, work, args, tracer):
        self.spark = spark
        self.work = work
        self.seed = args.seed
        self.seconds = float(args.seconds)
        self.trace = bool(args.trace)
        self.tracer = tracer


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument(
        "--seed",
        type=int,
        required=True,
        help="seeds the web and the query mix; seed 9173 is held out for confirming claims",
    )
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def spark_layers(jobs: list[dict], tracer) -> dict:
    """Spark counters of the traced passes, each job attributed to the
    span in which it was submitted."""
    from perfbench.tracing import heaviest_stage_skew, job_totals, jobs_in

    def totals(name):
        return job_totals(jobs_in(jobs, tracer.named(name)))

    rounds = max(1, len(tracer.named("round")))
    in_rounds = totals("round")
    engine = totals("traced")
    return {
        "generate.shuffle_bytes": totals("generate")["shuffle_write_bytes"],
        "fetch.task_skew": heaviest_stage_skew(jobs_in(jobs, tracer.named("fetch"))),
        "parse.tasks": totals("parse")["tasks"],
        "updatedb.shuffle_bytes": totals("updatedb")["shuffle_write_bytes"],
        "updatedb.spill_bytes": totals("updatedb")["spill_bytes"],
        "round.spark_jobs": in_rounds["jobs"] / rounds,
        "round.spark_tasks": in_rounds["tasks"] / rounds,
        "spark.task_s": engine["task_s"],
        "spark.gc_s": engine["gc_s"],
        "spark.shuffle_write_bytes": engine["shuffle_write_bytes"],
        "spark.spill_bytes": engine["spill_bytes"],
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (
        os.path.isfile(os.path.join(ROOT, "warps_nutch_spark", "plans", "round.py"))
        and os.path.isfile(os.path.join(ROOT, "tests", "crawl_oracle.py"))
    ):
        print(f"perfbench: no warps_nutch_spark checkout at {ROOT}", file=sys.stderr)
        return 2
    # single-threaded BLAS everywhere: the noise probe times one core,
    # and the Python workers must not oversubscribe the Spark cores
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    sys.path.insert(0, ROOT)

    from perfbench import crawl, dbread
    from perfbench.env import RssSampler, cpus, noise_probe, start_spark, stop_spark, warm_python_workers
    from perfbench.tracing import Tracer, read_event_log

    mod = {"crawl_expand": crawl, "db_read": dbread}[args.workload]
    work = os.path.join(ROOT, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    n_cpus = cpus()
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": os.cpu_count(),
        "cpus": n_cpus,
        "noise_before": noise_probe(),
    }
    tracer = Tracer(f"{args.workload}-{args.seed}-{int(time.time())}")
    event_log = os.path.join(work, "eventlog") if args.trace else None
    spark = None
    try:
        with RssSampler() as rss:
            t0 = time.perf_counter()
            spark = start_spark(ROOT, work, n_cpus, event_log)
            warm_python_workers(spark, n_cpus)
            session_s = time.perf_counter() - t0
            ctx = Ctx(spark, work, args, tracer)
            # one set-up: the first in a JVM is the one a user waits for;
            # a repeat runs JIT-warm in a third of the time, so its median
            # with the first says little and only lengthens every run
            t = time.perf_counter()
            state = mod.setup(ctx)
            setup_only_s = time.perf_counter() - t
            res = mod.measure(ctx, state)
        stop_spark(spark)
        spark = None
        layers = res["layers"]
        if args.trace:
            layers.update(spark_layers(read_event_log(event_log), tracer))
            traces = os.path.join(ROOT, ".perfbench_traces")
            os.makedirs(traces, exist_ok=True)
            tracer.dump(os.path.join(traces, f"{tracer.run_id}.json"))
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    record["noise_after"] = noise_probe()
    failures = res["failures"]
    attempted = max(1, res["attempted"])
    op_ms = res["op_ms"] or [0.0]
    e2e = {
        "setup_s": session_s + setup_only_s,
        "op_ms_p50": statistics.median(op_ms),
        "throughput_per_s": res["work_per_s"],
        "peak_rss_mb": rss.peak_bytes / 2**20,
    }
    view = dict(res["view"])
    view["setup_s"] = (e2e["setup_s"], f"s (session {session_s:.2f} + set-up {setup_only_s:.2f})")
    view["failed_ratio"] = (len(failures) / attempted, "fraction")
    view["peak_rss_mb"] = (
        e2e["peak_rss_mb"],
        f"MB ({rss.peak_procs} processes, largest {rss.peak_largest_mb:.0f} MB)",
    )
    record["view"] = {k: {"value": v, "unit": u} for k, (v, u) in view.items()}
    record["failures"] = failures[:20]
    record["detail"] = res.get("detail")
    for name, (value, unit) in view.items():
        print(f"{name}: {value:.6g} {unit}")
    print("record " + json.dumps(record, default=str))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    values = layers if args.trace else e2e
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}
    print(
        json.dumps(
            {
                "correct": not failures,
                "attempted": attempted,
                "failed": min(len(failures), attempted),
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())

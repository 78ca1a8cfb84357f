"""spark-submit entry point for the crawl engine (north_rule:
``spark-submit --py-files`` packaging).

Package and run:

    cd /root/repo && zip -r /tmp/wns.zip warps_nutch_spark
    spark-submit --py-files /tmp/wns.zip tools/run_crawl.py \
        --workdir /data/crawl --rounds 4 --hosts 2000 --seeds-per-host 4 \
        --conf top_n=100000 --conf max_per_host=200 --conf crawl_delay_ms=5000

``--conf key=value`` (repeatable) sets a ``CrawlConfig`` field, typed as
the REST config service types it (``service/jobs.py::config_from_map``);
unset fields keep their ``CrawlConfig`` defaults.

On a real cluster add executor/memory flags and (for the Iceberg
frontier) --packages org.apache.iceberg:iceberg-spark-runtime plus
--frontier-table catalog.db.frontier.
"""

from __future__ import annotations

import argparse
import dataclasses
import json


def _key_value(arg: str) -> tuple[str, str]:
    key, sep, value = arg.partition("=")
    if not sep:
        raise argparse.ArgumentTypeError(f"expected KEY=VALUE, got {arg!r}")
    return key, value


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--workdir", required=True)
    p.add_argument("--rounds", type=int, default=2)
    p.add_argument("--hosts", type=int, default=2000)
    p.add_argument("--pages-base", type=int, default=60)
    p.add_argument("--seeds-per-host", type=int, default=4)
    p.add_argument("--seed", type=int, default=42)
    p.add_argument(
        "--conf", action="append", default=[], type=_key_value, metavar="KEY=VALUE",
        help="CrawlConfig field (repeatable)",
    )
    p.add_argument("--seeds-file", default=None, help="real seed list (overrides SimWeb seeds)")
    args = p.parse_args()
    conf = dict(args.conf)

    from warps_nutch_spark.config import CrawlConfig

    unknown = set(conf) - {f.name for f in dataclasses.fields(CrawlConfig)}
    if unknown:
        p.error(f"unknown CrawlConfig field(s): {', '.join(sorted(unknown))}")

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("warps-nutch-spark-crawl").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from warps_nutch_spark.plans.round import RoundDriver
    from warps_nutch_spark.service.jobs import config_from_map
    from warps_nutch_spark.simweb import SimWeb

    web_params = (args.hosts, args.pages_base, args.seed)
    cfg = config_from_map(conf)
    drv = RoundDriver(spark, args.workdir, cfg, web_params)
    if args.seeds_file:
        seeds = args.seeds_file
    else:
        seeds = spark.createDataFrame(
            [(u,) for u in SimWeb(*web_params).seeds(args.seeds_per_host)], ["value"]
        )
    stats = drv.run(seeds, rounds=args.rounds)
    print(json.dumps({"rounds": stats}, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()

"""Command-line surface mirroring the reference's ``bin/nutch`` /
``bin/crawl`` verbs (``src/bin/nutch:28-44``) so a reference user can
run the same jobs against this engine:

    python -m warps_nutch_spark inject --seeds seeds.txt --workdir crawl/
    python -m warps_nutch_spark crawl --seeds seeds.txt --workdir crawl/ --rounds 3
    python -m warps_nutch_spark readdb --workdir crawl/ --stats
    python -m warps_nutch_spark readdb --workdir crawl/ --dump 20
    python -m warps_nutch_spark readdb --workdir crawl/ --url http://host0.test/
    python -m warps_nutch_spark index --workdir crawl/ --out idx/ [--endpoint http://es:9200]
    python -m warps_nutch_spark parsechecker --url http://host0.test/index.html
    python -m warps_nutch_spark indexchecker --url http://host0.test/index.html

Verb mapping: inject = InjectJob; crawl = bin/crawl's
generate→fetch→parse→updatedb rounds (resumable — rerun with the same
workdir to continue); readdb = ReadDb (--stats / --dump / --url /
--host, the host variant using the partition-pruned read);
index = IndexJob over the frontier (parquet dir or ES bulk push);
parsechecker / indexchecker = the single-URL checker utilities.

The fetch protocol is the deterministic SimWeb simulator configured by
``--web H,P,SEED`` (no live network in the sandbox); everything else —
storage, politeness, scoring, indexing — is the production engine.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _build_spark(app: str):
    from pyspark.sql import SparkSession

    os.environ["PYTHONPATH"] = (
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        + os.pathsep
        + os.environ.get("PYTHONPATH", "")
    )
    master = os.environ.get("SPARK_MASTER", "local[*]")
    return (
        SparkSession.builder.master(master)
        .appName(app)
        .config(
            "spark.sql.shuffle.partitions",
            os.environ.get("WNS_SHUFFLE_PARTITIONS", "32"),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def _cfg_from_args(args) -> "object":
    from .config import CrawlConfig

    kw = {}
    for field in (
        "top_n",
        "max_per_host",
        "crawl_delay_ms",
        "host_buckets",
        "fetch_mode",
    ):
        v = getattr(args, field, None)
        if v is not None:
            kw[field] = v
    if getattr(args, "round_time_limit_ms", None) is not None:
        kw["round_time_limit_ms"] = args.round_time_limit_ms
    return CrawlConfig(**kw)


def _web_params(args) -> tuple[int, int, int]:
    h, p, s = (int(x) for x in args.web.split(","))
    return h, p, s


def _driver(spark, args):
    from .plans.round import RoundDriver

    return RoundDriver(spark, args.workdir, _cfg_from_args(args), _web_params(args))


def _open_store(spark, args):
    """Pure readers adopt the store's recorded bucket layout (as the
    REST /db endpoint does) and create nothing on disk."""
    from .store.frontier import ParquetFrontierStore

    return ParquetFrontierStore.open(spark, os.path.join(args.workdir, "frontier"))


def cmd_inject(spark, args) -> int:
    drv = _driver(spark, args)
    drv.inject(spark.read.text(args.seeds))
    n = drv.store.read().count()
    print(json.dumps({"injected_frontier_rows": n}))
    return 0


def cmd_hostinject(spark, args) -> int:
    """``hostinject`` verb (``host/HostInjectorJob.java:96-140``):
    lines of ``url-or-host<TAB>key=value<TAB>...``; pairs without '='
    are skipped. The ``q_mt`` / ``q_cd`` / ``q_mcd`` metadata keys are
    the per-host queue settings the fetch engine reads
    (TasksMonitor.java:480-496) — they land in the workdir's
    ``host_config`` table the round driver feeds to the politeness
    queues; newest injection wins per host."""
    from pyspark.sql import functions as F

    raw = spark.read.text(args.hosts).filter(F.trim("value") != "")
    parts = F.split(F.col("value"), "\t")
    host = F.regexp_extract(parts[0], r"^(?:[a-z]+://)?([^/\s]+)", 1)
    kv = F.map_from_entries(
        F.transform(
            F.filter(
                F.slice(parts, 2, 1_000), lambda s: F.instr(s, "=") > 0
            ),
            lambda s: F.struct(
                F.trim(F.split_part(s, F.lit("="), F.lit(1))).alias("k"),
                F.trim(F.split_part(s, F.lit("="), F.lit(2))).alias("v"),
            ),
        )
    )
    new = (
        raw.select(host.alias("host"), kv.alias("_kv"))
        .filter(F.col("host") != "")
        .select(
            "host",
            F.try_element_at("_kv", F.lit("q_mt")).cast("int").alias("q_mt"),
            F.try_element_at("_kv", F.lit("q_cd")).cast("long").alias("q_cd"),
            F.try_element_at("_kv", F.lit("q_mcd")).cast("long").alias("q_mcd"),
        )
        .dropDuplicates(["host"])
    )
    out = os.path.join(args.workdir, "host_config")
    if os.path.isdir(out):
        old = spark.read.parquet(out).join(new.select("host"), "host", "left_anti")
        new = old.unionByName(new)
    rows = new.collect()  # small table by definition (one row per host)
    spark.createDataFrame(rows, new.schema).write.mode("overwrite").parquet(out)
    print(json.dumps({"host_config_rows": len(rows)}))
    return 0


def cmd_crawl(spark, args) -> int:
    drv = _driver(spark, args)
    stats = drv.run(spark.read.text(args.seeds), rounds=args.rounds)
    drv.close()
    for s in stats:
        print(
            json.dumps(
                {k: (round(v, 2) if isinstance(v, float) else v) for k, v in s.items()}
            )
        )
    return 0


def cmd_readdb(spark, args) -> int:
    from pyspark.sql import functions as F

    store = _open_store(spark, args)
    if args.url:
        rows = store.read().filter(F.col("url") == args.url).collect()
        for r in rows:
            print(json.dumps({k: str(v) for k, v in r.asDict().items()}))
        return 0 if rows else 1
    if args.host:
        rows = store.read_host(args.host).collect()  # partition-pruned
        for r in rows:
            print(json.dumps({"url": r["url"], "status": r["status"]}))
        return 0
    if args.dump:
        for r in store.read().orderBy("url").limit(args.dump).collect():
            print(
                json.dumps(
                    {
                        "url": r["url"],
                        "status": r["status"],
                        "score": round(float(r["score"] or 0), 4),
                        "fetch_time": r["fetch_time"],
                    }
                )
            )
        return 0
    # --stats (default): ReadDb stats output
    from .service.dbreader import readdb_stats

    print(json.dumps(readdb_stats(store)))
    return 0


def cmd_index(spark, args) -> int:
    from .operators.indexer import (
        build_index_documents,
        push_bulk_http,
        to_bulk_ndjson,
        write_bulk_files,
        write_index,
    )
    store = _open_store(spark, args)
    docs = build_index_documents(store.read(), batch_id=args.batch)
    if args.format == "bulk":
        lines = to_bulk_ndjson(docs, index_name=args.index_name)
        write_bulk_files(lines, args.out)
        if args.endpoint:
            push_bulk_http(lines, args.endpoint)
    else:
        write_index(docs, args.out, fmt=args.format)
    print(json.dumps({"indexed_docs": docs.count(), "out": args.out}))
    return 0


def cmd_clean(spark, args) -> int:
    """``clean`` verb (``mapreduce/CleaningJob.java``): delete gone /
    permanently-redirected / duplicate documents from the index
    backend (bulk delete actions; optional live push)."""
    from pyspark.sql import functions as F

    from .operators.indexer import (
        build_clean_deletes,
        deletes_bulk_ndjson,
        push_bulk_http,
        write_bulk_files,
    )
    store = _open_store(spark, args)
    dels = build_clean_deletes(store.read())
    by_reason = {
        r["reason"]: r["n"]
        for r in dels.groupBy("reason").agg(F.count("*").alias("n")).collect()
    }
    lines = deletes_bulk_ndjson(dels.select("id"), index_name=args.index_name)
    if args.out:
        write_bulk_files(lines, args.out)
    if args.endpoint:
        push_bulk_http(lines, args.endpoint)
    print(json.dumps({"deleted": sum(by_reason.values()), "by_reason": by_reason}))
    return 0


def cmd_solrdedup(spark, args) -> int:
    """``solrdedup`` verb (``mapreduce/SolrDeleteDuplicates.java``):
    group indexed (FETCHED) docs by content digest, keep the highest
    boost / latest tstamp, delete every other group member."""
    from pyspark.sql import functions as F

    from .functions.status import CrawlStatus
    from .operators.indexer import (
        deletes_bulk_ndjson,
        push_bulk_http,
        solr_dedup_deletes,
        write_bulk_files,
    )
    store = _open_store(spark, args)
    indexed = store.read().filter(F.col("status") == CrawlStatus.FETCHED)
    dels = solr_dedup_deletes(
        indexed.select(
            F.col("url_hash").alias("id"),
            F.col("signature").alias("digest"),
            F.col("score").alias("boost"),
            F.col("modified_time").alias("tstamp"),
        )
    )
    n = dels.count()
    lines = deletes_bulk_ndjson(dels.select("id"), index_name=args.index_name)
    if args.out:
        write_bulk_files(lines, args.out)
    if args.endpoint:
        push_bulk_http(lines, args.endpoint)
    print(json.dumps({"deleted": n}))
    return 0


def cmd_dmozparser(spark, args) -> int:
    """``dmozparser`` verb (``tools/DmozParser.java``): parse DMOZ RDF
    dumps into an inject-ready URL list (non-snippet mode prints the
    URLs, DmozParser.java:238)."""
    from .operators.dmoz import dmoz_seeds

    seeds = dmoz_seeds(
        spark,
        args.rdf,
        subset_denom=args.subset_denom,
        include_adult=args.include_adult,
        topic_pattern=args.topic or None,
        skew=args.skew,
    )
    if args.out:
        seeds.select("url").write.mode("overwrite").text(args.out)
        print(json.dumps({"urls": seeds.count(), "out": args.out}))
    else:
        for r in seeds.select("url").collect():
            print(r["url"])
    return 0


def _check_one_url(spark, args):
    """Shared fetch+parse for parsechecker/indexchecker."""
    from pyspark.sql import functions as F

    from .operators import fetch as fetch_op
    from .operators import parse as parse_op
    from .operators.rows import complete_rows
    from .simweb import SimWeb

    cfg = _cfg_from_args(args)
    web = SimWeb(*_web_params(args))
    now = 1_700_000_000_000
    fl = (
        complete_rows(spark.createDataFrame([(args.url,)], ["url"]), cfg, now)
        .withColumn("generated_batch", F.lit("check"))
        .withColumn("batch_id", F.lit("check"))
    )
    robots = spark.createDataFrame(web.robots())
    res = fetch_op.fetch(fl, robots, cfg, now, "check", _web_params(args))
    return parse_op.parse(res, cfg, "check"), res


def cmd_nutchserver(spark, args) -> int:
    """``nutchserver`` verb (``service/NutchMaster.java:300-359``
    main): start the REST admin service; ``--stop [--force]`` sends
    ``GET /admin/stop`` to a running server (the ``-stop`` CLI path,
    ``NutchMaster.stopRemoteServer``)."""
    import time as _time

    if args.stop:
        from .service.client import NutchServiceClient

        c = NutchServiceClient(f"http://127.0.0.1:{args.port}")
        print(json.dumps(c.stop_server(force=args.force)))
        return 0

    from .service.master import NutchMasterServer

    srv = NutchMasterServer(
        spark, args.workdir, port=args.port, web_params=_web_params(args)
    )
    print(json.dumps({"endpoint": srv.endpoint}))
    sys.stdout.flush()
    try:
        t0 = _time.time()
        while not srv._stopped.is_set():
            if args.duration and _time.time() - t0 >= args.duration:
                break
            _time.sleep(0.2)
    except KeyboardInterrupt:
        pass
    srv.close()
    return 0


def cmd_testbedproxy(spark, args) -> int:
    """``testbedproxy`` verb (``tools/proxy/TestbedProxy.java`` main):
    run the fake-web proxy handler chain for crawler benchmarking."""
    import time as _time

    from .operators.testbed_proxy import TestbedProxyServer

    srv = TestbedProxyServer(
        port=args.port,
        fake=args.fake,
        forward=args.forward,
        delay_ms=args.delay,
        debug=args.debug,
        host_mode=args.host_mode,
        page_mode=args.page_mode,
        num_hosts=args.num_hosts,
        num_pages=args.num_pages,
        int_links=args.int_links,
        ext_links=args.ext_links,
    )
    print(json.dumps({"endpoint": srv.endpoint}))
    sys.stdout.flush()
    try:
        t0 = _time.time()
        while not args.duration or _time.time() - t0 < args.duration:
            _time.sleep(0.2)
    except KeyboardInterrupt:
        pass
    srv.close()
    return 0


def cmd_resolveurls(spark, args) -> int:
    """``resolveurls`` verb (``tools/ResolveUrls.java`` main): bulk
    DNS-resolution check over a URL file, distributed."""
    from .operators.resolve_urls import resolve_summary, resolve_urls

    df = spark.read.text(args.urls).withColumnRenamed("value", "url")
    out = resolve_urls(df)
    if args.dump:
        # ONE resolution pass: derive the summary from the collected
        # rows (recomputing the plan would resolve every host twice
        # and could disagree with the dumped rows)
        rows = out.collect()
        for r in rows:
            print(json.dumps(r.asDict()))
        total = len(rows)
        ok = sum(1 for r in rows if r["resolved"])
        ms = sum(r["millis"] for r in rows)
        print(json.dumps({
            "total": total, "resolved": ok, "errored": total - ok,
            "avg_millis": (ms // total) if total else 0,
        }))
        return 0
    print(json.dumps(resolve_summary(out)))
    return 0


def cmd_reports(spark, args) -> int:
    """``reports`` verb (``tools/NutchMetrics.java``): emit the
    reference's operator-facing text reports (unreachable hosts,
    redirects, fetch-time history) from the crawl workdir state. A pure
    reader: the store's layout comes from disk, and a workdir with no
    store fails before anything is written."""
    from .config import CrawlConfig
    from .metrics import NutchMetrics
    from .plans.round import unreachable_hosts

    from pyspark.sql import functions as F

    fr = _open_store(spark, args).read()
    unreachable = unreachable_hosts(spark, args.workdir, CrawlConfig())
    m = NutchMetrics(args.out or os.path.join(args.workdir, "reports"))
    n_hosts = m.write_unreachable_hosts(unreachable) if unreachable is not None else 0
    if args.batch:
        # per-batch report = only rows last updated by that batch
        fr = fr.filter(F.col("updated_batch") == args.batch)
    suffix = args.batch or "all"
    print(
        json.dumps(
            {
                "report_dir": m.dir,
                "unreachable_hosts": n_hosts,
                "redirects": m.report_redirects(fr, suffix),
                "fetch_time_history": m.report_fetch_time_history(fr, suffix),
            }
        )
    )
    return 0


def cmd_seedgen(spark, args) -> int:
    """``seedgen`` verb (``crawl/SeedGenerator.java``): expand a
    ``{{{min,max}}}`` URL template into a seed file."""
    from .operators.inject import seeds_from_template

    df = seeds_from_template(spark, args.format)
    df.write.mode("overwrite").text(args.out)
    print(json.dumps({"seeds": df.count(), "out": args.out}))
    return 0


def cmd_parsechecker(spark, args) -> int:
    parsed, res = _check_one_url(spark, args)
    r = res.collect()[0]
    p = parsed.collect()
    out = {
        "url": args.url,
        "proto_code": r["proto_code"],
        "status": r["new_status"],
        "fetched": bool(r["fetched"]),
    }
    if p:
        row = p[0]
        out.update(
            {
                "decode_ok": bool(row["decode_ok"]),
                "caption": row["caption"],
                "signature": row["signature"],
                "outlinks": (row["out_urls"] or [])[:10],
            }
        )
    print(json.dumps(out, indent=1))
    return 0


def cmd_indexchecker(spark, args) -> int:
    from pyspark.sql import functions as F

    from .operators.indexer import build_jit_documents

    parsed, _res = _check_one_url(spark, args)
    docs = build_jit_documents(
        parsed.withColumn("parsed_batch", F.lit("check")), "check", min_text_length=0
    ).collect()
    if not docs:
        print(json.dumps({"url": args.url, "indexed": False}))
        return 1
    print(
        json.dumps(
            {k: str(v) for k, v in docs[0].asDict().items() if k != "anchors"},
            indent=1,
        )
    )
    return 0


def make_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="warps_nutch_spark")
    sub = p.add_subparsers(dest="command", required=True)

    def common(sp, seeds=False):
        sp.add_argument("--workdir", required=True)
        if seeds:
            sp.add_argument("--seeds", required=True)
        sp.add_argument("--web", default="8,120,42", help="SimWeb H,P,SEED")
        sp.add_argument("--top-n", dest="top_n", type=int)
        sp.add_argument("--max-per-host", dest="max_per_host", type=int)
        sp.add_argument("--crawl-delay-ms", dest="crawl_delay_ms", type=int)
        sp.add_argument("--host-buckets", dest="host_buckets", type=int, default=8)
        sp.add_argument("--fetch-mode", dest="fetch_mode")
        sp.add_argument(
            "--round-time-limit-ms", dest="round_time_limit_ms", type=int
        )

    common(sub.add_parser("inject", help="inject new urls into the database"), True)
    hi = sub.add_parser(
        "hostinject", help="create/update the host table from a text file"
    )
    hi.add_argument("--workdir", required=True)
    hi.add_argument("--hosts", required=True, help="host<TAB>key=value... lines")
    cr = sub.add_parser("crawl", help="run generate->fetch->parse->updatedb rounds")
    common(cr, True)
    cr.add_argument("--rounds", type=int, default=1)

    rd = sub.add_parser("readdb", help="read/dump records from the page database")
    rd.add_argument("--workdir", required=True)
    rd.add_argument("--stats", action="store_true")
    rd.add_argument("--dump", type=int)
    rd.add_argument("--url")
    rd.add_argument("--host")

    ix = sub.add_parser("index", help="run the indexer over the frontier")
    ix.add_argument("--workdir", required=True)
    ix.add_argument("--out", required=True)
    ix.add_argument("--format", choices=["parquet", "json", "bulk"], default="parquet")
    ix.add_argument("--index-name", dest="index_name", default="nutch")
    ix.add_argument("--endpoint", default="")
    ix.add_argument("--batch", default=None)

    cl = sub.add_parser(
        "clean", help="remove gone/redirect/duplicate docs from index backends"
    )
    cl.add_argument("--workdir", required=True)
    cl.add_argument("--out", default="")
    cl.add_argument("--index-name", dest="index_name", default="nutch")
    cl.add_argument("--endpoint", default="")

    sd = sub.add_parser("solrdedup", help="remove duplicates from the index")
    sd.add_argument("--workdir", required=True)
    sd.add_argument("--out", default="")
    sd.add_argument("--index-name", dest="index_name", default="nutch")
    sd.add_argument("--endpoint", default="")

    dz = sub.add_parser("dmozparser", help="parse DMOZ RDF dumps into seed urls")
    dz.add_argument("--rdf", required=True)
    dz.add_argument("--out", default="")
    dz.add_argument("--subset-denom", dest="subset_denom", type=int, default=1)
    dz.add_argument("--include-adult", dest="include_adult", action="store_true")
    dz.add_argument("--topic", default="")
    dz.add_argument("--skew", type=int, default=0)

    ns = sub.add_parser(
        "nutchserver",
        help="start the REST admin service (NutchMaster); --stop halts a"
             " running one",
    )
    ns.add_argument("--workdir", default="/tmp/wns-master")
    ns.add_argument("--port", type=int, default=8182)  # NutchMaster DEFAULT_PORT
    ns.add_argument("--web", default="8,120,42")
    ns.add_argument("--stop", action="store_true",
                    help="stop the server listening on --port")
    ns.add_argument("--force", action="store_true",
                    help="with --stop: kill despite running jobs")
    ns.add_argument("--duration", type=float, default=0.0,
                    help="serve for N seconds then exit (0 = forever)")

    tp = sub.add_parser(
        "testbedproxy", help="run the fake-web benchmark proxy"
    )
    tp.add_argument("--port", type=int, default=8181)  # batch.proxy.port
    tp.add_argument("--fake", action="store_true", default=True)
    tp.add_argument("--no-fake", dest="fake", action="store_false")
    tp.add_argument("--forward", action="store_true")
    tp.add_argument("--delay", type=int, default=0,
                    help="delay ms; negative = random up to -n")
    tp.add_argument("--debug", action="store_true")
    tp.add_argument("--host-mode", dest="host_mode", choices=["u", "r"],
                    default="r")
    tp.add_argument("--page-mode", dest="page_mode", choices=["u", "r"],
                    default="r")
    tp.add_argument("--num-hosts", dest="num_hosts", type=int,
                    default=1_000_000)
    tp.add_argument("--num-pages", dest="num_pages", type=int, default=10_000)
    tp.add_argument("--int-links", dest="int_links", type=int, default=10)
    tp.add_argument("--ext-links", dest="ext_links", type=int, default=5)
    tp.add_argument("--duration", type=float, default=0.0)

    ru = sub.add_parser("resolveurls", help="bulk DNS resolution check")
    ru.add_argument("--urls", required=True)
    ru.add_argument("--dump", action="store_true")

    rp = sub.add_parser(
        "reports", help="emit NutchMetrics text reports from a crawl workdir"
    )
    rp.add_argument("--workdir", required=True)
    rp.add_argument("--out", default="")
    rp.add_argument("--batch", default="")

    sg = sub.add_parser("seedgen", help="expand a {{{min,max}}} url template")
    sg.add_argument("--format", required=True)
    sg.add_argument("--out", required=True)

    for name in ("parsechecker", "indexchecker"):
        ck = sub.add_parser(name, help=f"{name} for a given url")
        ck.add_argument("--url", required=True)
        ck.add_argument("--web", default="8,120,42")
        ck.add_argument("--workdir", default="/tmp/wns-check")

    return p


COMMANDS = {
    "inject": cmd_inject,
    "hostinject": cmd_hostinject,
    "crawl": cmd_crawl,
    "readdb": cmd_readdb,
    "index": cmd_index,
    "clean": cmd_clean,
    "solrdedup": cmd_solrdedup,
    "dmozparser": cmd_dmozparser,
    "nutchserver": cmd_nutchserver,
    "testbedproxy": cmd_testbedproxy,
    "resolveurls": cmd_resolveurls,
    "reports": cmd_reports,
    "seedgen": cmd_seedgen,
    "parsechecker": cmd_parsechecker,
    "indexchecker": cmd_indexchecker,
}


def main(argv: list[str] | None = None, spark=None) -> int:
    args = make_parser().parse_args(argv)
    own = spark is None
    if own:
        spark = _build_spark(f"wns-{args.command}")
        spark.sparkContext.setLogLevel("ERROR")
    try:
        return COMMANDS[args.command](spark, args)
    finally:
        if own:
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())

"""bin/nutch-verb CLI (warps_nutch_spark/cli.py): inject, crawl,
readdb (stats/dump/url/host), index, parsechecker, indexchecker —
driven in-process against the shared Spark session."""

import json
import os

import pytest

from warps_nutch_spark.cli import main


@pytest.fixture()
def seeds_file(tmp_path):
    from warps_nutch_spark.simweb import SimWeb

    web = SimWeb(5, 60, 7)
    p = tmp_path / "seeds.txt"
    p.write_text("\n".join(web.seeds(2)) + "\n")
    return str(p)


WEB = "5,60,7"


def _crawl_args(wd, seeds):
    return [
        "--workdir", wd, "--seeds", seeds, "--web", WEB,
        "--top-n", "200", "--max-per-host", "50",
        "--round-time-limit-ms", "600000", "--host-buckets", "4",
    ]


def test_cli_crawl_readdb_index_roundtrip(spark, tmp_path, seeds_file, capsys):
    wd = str(tmp_path / "crawl")

    assert main(["crawl", *_crawl_args(wd, seeds_file), "--rounds", "2"], spark=spark) == 0
    rounds = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert len(rounds) == 2 and rounds[1]["fetched"] > 0

    # readdb --stats
    assert main(["readdb", "--workdir", wd, "--stats"], spark=spark) == 0
    stats = json.loads(capsys.readouterr().out.strip())
    assert stats["rows"] > 0 and stats["by_status"]

    # readdb --dump
    assert main(["readdb", "--workdir", wd, "--dump", "5"], spark=spark) == 0
    lines = capsys.readouterr().out.strip().splitlines()
    assert len(lines) == 5 and all("url" in json.loads(l) for l in lines)

    # readdb --url (existing vs missing rc)
    url = json.loads(lines[0])["url"]
    assert main(["readdb", "--workdir", wd, "--url", url], spark=spark) == 0
    capsys.readouterr()
    assert main(["readdb", "--workdir", wd, "--url", "http://nope.test/x"], spark=spark) == 1
    capsys.readouterr()

    # readdb --host (partition-pruned read)
    host = url.split("/")[2]
    assert main(["readdb", "--workdir", wd, "--host", host], spark=spark) == 0
    hosted = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert hosted and all(host in h["url"] for h in hosted)

    # index -> parquet dir
    out = str(tmp_path / "idx")
    assert main(["index", "--workdir", wd, "--out", out], spark=spark) == 0
    res = json.loads(capsys.readouterr().out.strip())
    assert res["indexed_docs"] > 0
    assert spark.read.parquet(out).count() == res["indexed_docs"]

    # reports adopts the store's 4-bucket layout with no layout flag
    rep = str(tmp_path / "reports")
    assert main(["reports", "--workdir", wd, "--out", rep], spark=spark) == 0
    res = json.loads(capsys.readouterr().out.strip())
    assert res["report_dir"].startswith(rep) and os.path.isdir(res["report_dir"])


def test_cli_readdb_missing_workdir_creates_nothing(spark, tmp_path):
    """A pure reader opens the store with the layout recorded on disk:
    on a workdir with no store it fails and writes nothing."""
    wd = str(tmp_path / "absent")
    with pytest.raises(FileNotFoundError):
        main(["readdb", "--workdir", wd, "--stats"], spark=spark)
    assert not os.path.exists(wd)


def test_cli_reports_missing_workdir_creates_nothing(spark, tmp_path):
    """``reports`` is a pure reader too: no store, no frontier meta,
    URL-seen filter, rounds or report directory gets created."""
    wd = str(tmp_path / "absent")
    with pytest.raises(FileNotFoundError):
        main(["reports", "--workdir", wd], spark=spark)
    assert not os.path.exists(wd)


def test_cli_inject_only(spark, tmp_path, seeds_file, capsys):
    wd = str(tmp_path / "inj")
    n_seeds = len(open(seeds_file).read().split())
    assert main(["inject", *_crawl_args(wd, seeds_file)], spark=spark) == 0
    out = json.loads(capsys.readouterr().out.strip())
    assert out["injected_frontier_rows"] == n_seeds


def test_cli_checkers(spark, tmp_path, capsys):
    from warps_nutch_spark.simweb import SimWeb

    url = SimWeb(5, 60, 7).seeds(1)[0]
    wd = str(tmp_path / "chk")
    assert main(["parsechecker", "--url", url, "--web", WEB, "--workdir", wd], spark=spark) == 0
    out = json.loads(capsys.readouterr().out.strip())
    assert out["url"] == url and "proto_code" in out
    rc = main(["indexchecker", "--url", url, "--web", WEB, "--workdir", wd], spark=spark)
    outs = capsys.readouterr().out.strip()
    assert rc in (0, 1) and outs  # doc or explicit not-indexed verdict
    if rc == 0:
        assert "url" in json.loads(outs)


def test_cli_hostinject_upsert_and_queue_effect(spark, tmp_path, capsys):
    """HostInjectorJob text format -> host_config table the politeness
    queues read; second injection upserts per host; q_cd override
    actually changes the engine's resolved queue spacing."""
    wd = str(tmp_path / "hi")
    os.makedirs(wd, exist_ok=True)
    f1 = tmp_path / "hosts1.txt"
    f1.write_text(
        "http://host0.test/\tq_cd=2500\tq_mt=2\tq_mcd=100\n"
        "host1.test\tq_cd=7000\tnoequalsskipped\n"
        "\n"
    )
    assert main(["hostinject", "--workdir", wd, "--hosts", str(f1)], spark=spark) == 0
    assert json.loads(capsys.readouterr().out.strip())["host_config_rows"] == 2
    cfg_df = spark.read.parquet(os.path.join(wd, "host_config")).toPandas().set_index("host")
    assert cfg_df.loc["host0.test", "q_cd"] == 2500
    assert cfg_df.loc["host0.test", "q_mt"] == 2
    assert cfg_df.loc["host1.test", "q_cd"] == 7000
    assert cfg_df.loc["host1.test", ["q_mt", "q_mcd"]].isna().all()

    # upsert: host0 re-injected wins, host1 untouched
    f2 = tmp_path / "hosts2.txt"
    f2.write_text("host0.test\tq_cd=1234\n")
    assert main(["hostinject", "--workdir", wd, "--hosts", str(f2)], spark=spark) == 0
    capsys.readouterr()
    cfg_df = spark.read.parquet(os.path.join(wd, "host_config")).toPandas().set_index("host")
    assert cfg_df.loc["host0.test", "q_cd"] == 1234
    assert cfg_df.loc["host1.test", "q_cd"] == 7000

    # the override reaches the engine's queue-spacing resolution
    from pyspark.sql import functions as F

    from warps_nutch_spark.config import make_test_config
    from warps_nutch_spark.operators.fetch import queue_spacing_cols

    cfg = make_test_config(crawl_delay_ms=1000)
    hc = spark.read.parquet(os.path.join(wd, "host_config"))
    delay, _t, spacing = queue_spacing_cols(
        F.col("q_cd"), F.col("q_mt"), F.col("q_mcd"), F.lit(None).cast("long"), cfg
    )
    got = hc.select("host", spacing.alias("spacing")).toPandas().set_index("host")
    assert got.loc["host0.test", "spacing"] == 1234
    assert got.loc["host1.test", "spacing"] == 7000


def test_cli_clean_deletes_gone_redirect_duplicates(spark, tmp_path, seeds_file, capsys):
    """CleaningJob semantics end-to-end: after a crawl, clean emits
    bulk delete actions for gone + permanently-redirected + duplicate
    docs, and the id set matches the frontier's own state."""
    from pyspark.sql import functions as F

    from warps_nutch_spark.functions.status import CrawlStatus
    from warps_nutch_spark.store.frontier import ParquetFrontierStore

    wd = str(tmp_path / "crawl")
    assert main(["crawl", *_crawl_args(wd, seeds_file), "--rounds", "2"], spark=spark) == 0
    capsys.readouterr()
    out = str(tmp_path / "deletes")
    assert main(["clean", "--workdir", wd, "--out", out], spark=spark) == 0
    res = json.loads(capsys.readouterr().out.strip())
    assert res["deleted"] > 0 and "gone" in res["by_reason"]

    # the emitted delete ids == the frontier's gone/redir_perm rows plus
    # signature duplicates
    store = ParquetFrontierStore(spark, os.path.join(wd, "frontier"), 4)
    fr = store.read()
    expect_gone = {
        r["url_hash"]
        for r in fr.filter(
            F.col("status").isin(CrawlStatus.GONE, CrawlStatus.REDIR_PERM)
        ).collect()
    }
    emitted = set()
    for row in spark.read.text(out).collect():
        for line in row["value"].splitlines():
            d = json.loads(line)
            if "delete" in d:
                emitted.add(d["delete"]["_id"])
    assert expect_gone <= emitted
    assert res["deleted"] == len(emitted)


def test_cli_solrdedup_keeps_best_per_digest(spark, tmp_path, seeds_file, capsys):
    """SolrDeleteDuplicates semantics end-to-end: after a crawl,
    solrdedup deletes every FETCHED doc except the highest-boost /
    latest-tstamp member of each signature group."""
    from pyspark.sql import functions as F
    from pyspark.sql import Window

    from warps_nutch_spark.functions.status import CrawlStatus
    from warps_nutch_spark.store.frontier import ParquetFrontierStore

    wd = str(tmp_path / "crawl")
    assert main(["crawl", *_crawl_args(wd, seeds_file), "--rounds", "2"], spark=spark) == 0
    capsys.readouterr()
    out = str(tmp_path / "dedup-deletes")
    assert (
        main(["solrdedup", "--workdir", wd, "--out", out], spark=spark)
        == 0
    )
    res = json.loads(capsys.readouterr().out.strip())

    store = ParquetFrontierStore(spark, os.path.join(wd, "frontier"), 4)
    fetched = store.read().filter(
        (F.col("status") == CrawlStatus.FETCHED) & F.col("signature").isNotNull()
    )
    win = Window.partitionBy("signature").orderBy(
        F.desc("score"), F.desc("modified_time"), F.asc("url_hash")
    )
    expect = {
        r["url_hash"]
        for r in fetched.withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") > 1)
        .collect()
    }
    assert res["deleted"] == len(expect)
    if expect:
        emitted = set()
        for row in spark.read.text(out).collect():
            for line in row["value"].splitlines():
                d = json.loads(line)
                if "delete" in d:
                    emitted.add(d["delete"]["_id"])
        assert emitted == expect

"""Merge-on-read frontier store semantics, updatedb resume
idempotency, and budget-drop GENERATE_MARK retention.

The MOR store (store/frontier.py) must behave exactly like a logical
upsert (the Iceberg MERGE INTO it emulates): newest delta row wins per
url_hash, untouched base rows survive, and compaction changes nothing
observable. A resumed round must never double-apply inlink
contributions regardless of kill point.
"""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from tests.crawl_oracle import CrawlOracle
from warps_nutch_spark.config import make_test_config
from warps_nutch_spark.plans.round import RoundDriver
from warps_nutch_spark.schema import HOSTS
from warps_nutch_spark.simweb import SimWeb
from warps_nutch_spark.store.frontier import ParquetFrontierStore

START = 1_700_000_000_000
WEB = (6, 80, 42)


def _rows(spark, items):
    return spark.createDataFrame(
        [(u, f"h{u}", f"host{h}.test", s) for u, h, s in items],
        ["url_hash", "url", "host", "score"],
    )


def _store(spark, tmp, compact_ratio=None):
    st = ParquetFrontierStore(spark, os.path.join(str(tmp), "fr"), host_buckets=4)
    if compact_ratio is not None:
        st.COMPACT_RATIO = compact_ratio
    return st


def test_mor_merge_equals_logical_upsert(spark, tmp_path):
    st = _store(spark, tmp_path, compact_ratio=100.0)  # never compact
    st.init(_rows(spark, [("a", 1, 1.0), ("b", 2, 2.0), ("c", 1, 3.0)]))
    st.merge(_rows(spark, [("b", 2, 20.0), ("d", 3, 4.0)]))  # update b, insert d
    st.merge(_rows(spark, [("b", 2, 30.0), ("e", 1, 5.0)]))  # newest delta wins

    got = {r["url_hash"]: r["score"] for r in st.read().collect()}
    assert got == {"a": 1.0, "b": 30.0, "c": 3.0, "d": 4.0, "e": 5.0}
    # all merges were deltas: base untouched (O(updates) writes)
    kinds = [ln["kind"] for ln in st.lineage_chain()]
    assert kinds == ["base", "delta", "delta"]


def test_mor_compaction_triggers_and_preserves_content(spark, tmp_path):
    st = _store(spark, tmp_path, compact_ratio=0.5)
    st.init(_rows(spark, [(f"u{i}", i % 3, float(i)) for i in range(10)]))
    before = {r["url_hash"]: r["score"] for r in st.read().collect()}
    # 6 delta rows > 0.5 * 10 base rows -> compaction runs
    st.merge(_rows(spark, [(f"u{i}", i % 3, 100.0 + i) for i in range(3)] +
                          [(f"n{i}", i % 3, float(i)) for i in range(3)]))
    kinds = [ln["kind"] for ln in st.lineage_chain()]
    assert kinds == ["base", "delta", "base"], kinds  # compacted
    got = {r["url_hash"]: r["score"] for r in st.read().collect()}
    expect = dict(before)
    expect.update({f"u{i}": 100.0 + i for i in range(3)})
    expect.update({f"n{i}": float(i) for i in range(3)})
    assert got == expect
    # committed_ops carries (op, batch) lineage for idempotent resume
    st.merge(_rows(spark, [("x", 0, 1.0)]), {"op": "updatedb", "batch_id": "b9"})
    assert ("updatedb", "b9") in st.committed_ops()


def _cfg(**kw):
    base = dict(
        top_n=300,
        max_per_host=60,
        crawl_delay_ms=1000,
        round_time_limit_ms=600_000,
        host_buckets=4,
        bloom_partitions=4,
    )
    base.update(kw)
    return make_test_config(**base)


def _seeds_df(spark, web, per_host=3):
    return spark.createDataFrame([(u,) for u in web.seeds(per_host)], ["value"])


def _frontier_pdf(drv):
    return (
        drv.store.read()
        .select("url", "status", "score", "cash", "distance", "generated_batch")
        .toPandas()
        .sort_values("url")
        .reset_index(drop=True)
    )


@pytest.fixture(scope="module")
def two_rounds(spark, tmp_path_factory):
    """An uninterrupted crawl of rounds 0-1 at the test config, the
    reference state of the kill-and-resume tests."""
    drv = RoundDriver(spark, str(tmp_path_factory.mktemp("two_rounds")), _cfg(), WEB, START)
    drv.run(_seeds_df(spark, SimWeb(*WEB)), rounds=2)
    return drv


def _host_state_pdf(drv, r):
    """Round ``r``'s host table, as its fetch stage wrote it."""
    path = os.path.join(drv.workdir, "rounds", f"batch-{r:04d}", "fetch", "hosts")
    return (
        drv.spark.read.schema(HOSTS).parquet(path).toPandas()
        .sort_values("host").reset_index(drop=True)
    )


def test_resume_after_merge_before_done_is_idempotent(spark, tmp_path_factory, two_rounds):
    """Kill point: updatedb artifact written AND frontier merged, but
    _DONE not yet marked (the r1 crash window where contributions were
    double-applied). The resume must reuse the artifact and skip the
    already-committed merge."""
    web = SimWeb(*WEB)
    cfg = _cfg()
    drv_a = two_rounds

    wd_b = str(tmp_path_factory.mktemp("killed"))
    drv_b = RoundDriver(spark, wd_b, cfg, WEB, START)
    drv_b.inject(_seeds_df(spark, web))
    drv_b.run_round(0)
    drv_b.run_round(1)
    # simulate the kill: everything in round 1's updatedb completed
    # except the _DONE marker
    done = os.path.join(wd_b, "rounds", "batch-0001", "updatedb", "_DONE")
    os.remove(done)
    drv_c = RoundDriver(spark, wd_b, cfg, WEB, START)
    drv_c.run_round(1)  # resume

    a, b = _frontier_pdf(drv_a), _frontier_pdf(drv_c)
    assert list(a.url) == list(b.url)
    assert (a.status == b.status).all()
    assert ((a.score - b.score).abs() < 1e-3).all(), "scores double-applied on resume"
    assert ((a.cash - b.cash).abs() < 1e-3).all()


def test_budget_dropped_rows_keep_generate_mark(spark, tmp_path_factory):
    """Round budget exhaustion (FeederThread drain): fetchlist rows the
    virtual clock never reached keep their GENERATE_MARK in the merged
    frontier — including rows that received inlink contributions in the
    same round — and the whole state still matches the oracle."""
    web = SimWeb(*WEB)
    # ~5 fetch slots per host per round (5000ms budget / 1000ms delay),
    # fetchlist up to 60/host -> plenty of dropped rows
    cfg = _cfg(round_time_limit_ms=5_000)

    wd = str(tmp_path_factory.mktemp("budget"))
    drv = RoundDriver(spark, wd, cfg, WEB, START)
    oracle = CrawlOracle(cfg, WEB, START)
    oracle.inject(web.seeds(3))
    drv.inject(_seeds_df(spark, web))
    for r in range(2):
        drv.run_round(r)
        oracle.run_round(r)

    fr = drv.store.read().select("url", "generated_batch", "status").toPandas()
    got_marks = {
        row.url: row.generated_batch
        for row in fr.itertuples()
        if row.generated_batch is not None
    }
    exp_marks = {
        u: r.generated_batch
        for u, r in oracle.frontier.items()
        if r.generated_batch is not None
    }
    assert got_marks, "budget config produced no dropped rows — test is vacuous"
    assert got_marks == exp_marks
    # URL-seen set equality still holds under budget exhaustion
    assert {r.url for r in fr.itertuples()} == oracle.seen()


def test_round_updatedb_uses_linked_merge(spark, tmp_path):
    """The round's delta snapshot must be hard-linked from the stage
    artifact (one write of the round's updates, not two) — guard
    against silent fallback to the shuffling merge."""
    from warps_nutch_spark.config import make_test_config
    from warps_nutch_spark.plans.round import RoundDriver
    from warps_nutch_spark.simweb import SimWeb

    wd = str(tmp_path / "crawl")
    web_params = (4, 30, 3)
    cfg = make_test_config(top_n=100, max_per_host=30, round_time_limit_ms=600_000)
    drv = RoundDriver(spark, wd, cfg, web_params)
    web = SimWeb(*web_params)
    drv.inject(spark.createDataFrame([(u,) for u in web.seeds(2)], ["value"]))
    drv.run_round(0)
    chain = drv.store.lineage_chain()
    upd = [ln for ln in chain if ln.get("op") == "updatedb"]
    assert upd, "no updatedb merge committed"
    assert all("linked_from" in ln for ln in upd), (
        "updatedb merge fell back to the shuffling path: "
        + str([{k: ln.get(k) for k in ('op', 'kind', 'linked_from')} for ln in upd])
    )
    # and the linked snapshot reads back consistently
    fr = drv.store.read()
    assert fr.count() == fr.select("url_hash").distinct().count()


def test_read_host_pruned_equals_full_read(spark, tmp_path):
    """read_host must equal read().filter(host) over a store with a
    delta, and scan only one bucket."""
    from pyspark.sql import functions as F

    st = _store(spark, tmp_path, compact_ratio=100.0)
    rows = [(f"u{i}", (i % 6) + 1, float(i)) for i in range(24)]
    st.init(_rows(spark, rows))
    st.merge(_rows(spark, [("u1", 2, 100.0), ("u30", 2, 30.0)]))
    for host in ["host2.test", "host3.test", "host5.test"]:
        want = {
            r["url_hash"]: r["score"]
            for r in st.read().filter(F.col("host") == host).collect()
        }
        got = {r["url_hash"]: r["score"] for r in st.read_host(host).collect()}
        assert got == want, host
    # base scan is partition-pruned: the bucket-filtered base relation
    # reads exactly one host_bucket dir (input_file_name on the single
    # source; read_host builds exactly this scan)
    b = (
        spark.range(1)
        .select(F.pmod(F.xxhash64(F.lit("host2.test")), F.lit(4)).cast("int").alias("b"))
        .collect()[0]["b"]
    )
    base_scan = spark.read.parquet(st._data_dir(0)).filter(F.col("host_bucket") == b)
    files = {r[0] for r in base_scan.select(F.input_file_name()).distinct().collect()}
    base_buckets = {f.split("host_bucket=")[1].split("/")[0] for f in files}
    assert base_buckets == {str(b)}


def test_reopen_with_wrong_bucket_count_refused(spark, tmp_path):
    st = _store(spark, tmp_path)
    st.init(_rows(spark, [("a", 1, 1.0)]))
    with pytest.raises(ValueError, match="host_buckets"):
        ParquetFrontierStore(spark, st.path, host_buckets=8)
    # same count reopens fine
    st2 = ParquetFrontierStore(spark, st.path, host_buckets=4)
    assert st2.read().count() == 1


def test_merge_linked_rejects_mismatched_bucketing(spark, tmp_path):
    """An artifact written without this store's bucketing (no
    ``host_bucket`` column) must not be adopted as a delta; one
    bucketed by the store's own ``with_bucket`` is."""
    st = _store(spark, tmp_path, compact_ratio=100.0)
    st.init(_rows(spark, [("a", 1, 1.0), ("b", 2, 2.0)]))
    art_bad = os.path.join(str(tmp_path), "artifact_bad")
    _rows(spark, [("b", 2, 20.0)]).write.parquet(art_bad)
    with pytest.raises(ValueError, match="missing columns.*host_bucket"):
        st.merge_linked(art_bad)
    assert [ln["kind"] for ln in st.lineage_chain()] == ["base"]
    art = os.path.join(str(tmp_path), "artifact")
    st.with_bucket(_rows(spark, [("b", 2, 20.0)])).write.parquet(art)
    st.merge_linked(art)
    got = {r["url_hash"]: r["score"] for r in st.read().collect()}
    assert got == {"a": 1.0, "b": 20.0}


def test_merge_linked_adopts_a_batch_once(spark, tmp_path):
    """Two linked merges of the same (op, batch_id) commit one snapshot;
    the second only runs the compaction trigger. Merges that name no
    batch each commit."""
    st = _store(spark, tmp_path, compact_ratio=100.0)
    st.init(_rows(spark, [("a", 1, 1.0), ("b", 2, 2.0)]))
    art = os.path.join(str(tmp_path), "artifact")
    st.with_bucket(_rows(spark, [("b", 2, 20.0)])).write.parquet(art)
    lineage = {"op": "updatedb", "batch_id": "batch-0000"}
    v = st.merge_linked(art, lineage)
    assert st.merge_linked(art, dict(lineage)) == v
    assert [(ln["op"], ln.get("batch_id")) for ln in st.lineage_chain()] == [
        ("init", None), ("updatedb", "batch-0000"),
    ]
    st.merge_linked(art)
    st.merge_linked(art)
    assert [ln["kind"] for ln in st.lineage_chain()] == ["base"] + ["delta"] * 3
    assert {r["url_hash"]: r["score"] for r in st.read().collect()} == {"a": 1.0, "b": 20.0}


def test_single_resolver_equals_pandas_upsert(spark, tmp_path):
    """read(), the union of read_host() over every host, and read()
    after a compact() all resolve through one MOR
    resolver, and all equal a plain pandas upsert of the same inputs:
    three overlapping deltas (newest wins) that update and insert."""
    import pandas as pd

    st = _store(spark, tmp_path, compact_ratio=100.0)
    base = [(f"u{i}", (i % 12) + 1, float(i)) for i in range(24)]
    steps = [
        [("u0", 1, 100.0), ("u1", 2, 101.0), ("n0", 3, 50.0)],
        [("u0", 1, 200.0), ("u1", 2, 201.0)],
        [("u0", 1, 300.0), ("u2", 3, 302.0)],
    ]
    st.init(_rows(spark, base))
    want = pd.DataFrame(base, columns=["url_hash", "h", "score"]).set_index("url_hash")
    for items in steps:
        st.merge(_rows(spark, items))
        upd = pd.DataFrame(items, columns=["url_hash", "h", "score"])
        want = pd.concat([want.drop(upd.url_hash, errors="ignore"),
                          upd.set_index("url_hash")])
    want = want.score.to_dict()
    assert [ln["kind"] for ln in st.lineage_chain()] == ["base"] + ["delta"] * 3
    assert want["u0"] == 300.0 and want["u1"] == 201.0 and want["u2"] == 302.0

    def _scores(rows):
        got = {r["url_hash"]: r["score"] for r in rows}
        assert len(got) == len(rows), "duplicate keys after resolution"
        return got

    assert _scores(st.read().collect()) == want
    per_host = []
    for h in range(1, 13):
        per_host += st.read_host(f"host{h}.test").collect()
    assert _scores(per_host) == want

    v = st.compact()
    assert st.lineage(v)["kind"] == "base"
    assert _scores(st.read().collect()) == want


def test_compaction_trigger_snapshot_count_and_linked_merge(spark, tmp_path):
    """One trigger serves merge and merge_linked: the delta-count cap
    fires with a lax row ratio, and a linked delta that outgrows the row
    ratio compacts right after it commits."""
    st = _store(spark, tmp_path, compact_ratio=100.0)
    st.MAX_DELTA_SNAPSHOTS = 2
    st.init(_rows(spark, [(f"u{i}", i % 3, float(i)) for i in range(6)]))
    st.merge(_rows(spark, [("u0", 0, 10.0)]))
    st.merge(_rows(spark, [("u1", 1, 11.0)]))
    assert [ln["kind"] for ln in st.lineage_chain()] == ["base", "delta", "delta"]
    st.merge(_rows(spark, [("u2", 2, 12.0)]))  # third delta exceeds the cap
    assert [ln["kind"] for ln in st.lineage_chain()][-2:] == ["delta", "base"]

    lk = ParquetFrontierStore(spark, os.path.join(str(tmp_path), "linked"), host_buckets=4)
    lk.COMPACT_RATIO = 0.5
    lk.init(_rows(spark, [(f"u{i}", i % 3, float(i)) for i in range(6)]))
    art = os.path.join(str(tmp_path), "artifact")
    upd = [("u0", 0, 10.0), ("n1", 1, 1.0), ("n2", 2, 2.0), ("n3", 0, 3.0)]
    lk.with_bucket(_rows(spark, upd)).write.parquet(art)
    lk.merge_linked(art)  # 4 delta rows > 0.5 * 6 base rows
    chain = lk.lineage_chain()
    assert [ln["kind"] for ln in chain] == ["base", "delta", "base"]
    assert chain[1]["linked_from"] == art
    got = {r["url_hash"]: r["score"] for r in lk.read().collect()}
    assert got == {**{f"u{i}": float(i) for i in range(6)}, **{u: s for u, _, s in upd}}


def test_uninitialized_store_reads_raise_file_not_found(spark, tmp_path):
    st = _store(spark, tmp_path)
    with pytest.raises(FileNotFoundError):
        st.read()
    with pytest.raises(FileNotFoundError):
        st.read_host("host1.test")


def test_store_from_before_the_single_manifest_is_refused(spark, tmp_path):
    """A ``_VERSION`` in the old pointer-only form names the layout it
    predates instead of failing on a missing key."""
    path = os.path.join(str(tmp_path), "fr")
    os.makedirs(path)
    with open(os.path.join(path, "_VERSION"), "w") as f:
        f.write('{"version": 0, "committed_at": 0.0}')
    with pytest.raises(ValueError, match="single-manifest"):
        ParquetFrontierStore(spark, path, host_buckets=4)
    with pytest.raises(ValueError, match="single-manifest"):
        ParquetFrontierStore.open(spark, path)


def test_mor_read_plan_broadcasts_delta_keys(spark, tmp_path, capsys):
    """Under the broadcast gate the base side of the MOR anti-join never
    shuffles: the delta key set is broadcast into a left-anti join by
    the store's own hint, not by Spark's size-based choice."""
    st = _store(spark, tmp_path, compact_ratio=100.0)
    st.init(_rows(spark, [(f"u{i}", i % 3, float(i)) for i in range(20)]))
    st.merge(_rows(spark, [("u1", 1, 9.0)]))
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        capsys.readouterr()
        st.read().explain("formatted")
        assert "BroadcastHashJoin LeftAnti" in capsys.readouterr().out
    finally:
        spark.conf.set(key, prev)


def _jobs_submitted(spark, fn) -> int:
    """Spark jobs that ``fn`` submits from this thread, counted through a
    job group. A marker job in a second group is awaited before
    counting: the status store applies listener events in order, so
    once the marker shows, every job ``fn`` started is counted."""
    import time
    import uuid

    sc = spark.sparkContext
    group, marker = f"guard-{uuid.uuid4().hex}", f"marker-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "store guard")
    try:
        fn()
        sc.setJobGroup(marker, "store guard marker")
        spark.range(1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    deadline = time.time() + 30
    while not sc.statusTracker().getJobIdsForGroup(marker) and time.time() < deadline:
        time.sleep(0.05)
    assert sc.statusTracker().getJobIdsForGroup(marker), "marker job never showed"
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_store_metadata_costs_no_spark_job(spark, tmp_path):
    """Every metadata answer comes from the manifest: planning a MOR
    read and adopting a bucketed artifact submit no Spark job, and the
    footer row counts a commit records equal Spark's count of each
    snapshot (init, merge, linked and compact)."""
    st = _store(spark, tmp_path, compact_ratio=100.0)
    st.init(_rows(spark, [(f"u{i}", (i % 6) + 1, float(i)) for i in range(24)]))
    st.merge(_rows(spark, [("u0", 1, 100.0), ("n0", 2, 50.0)]))
    st.merge(_rows(spark, [("u1", 2, 101.0)]))
    assert _jobs_submitted(spark, st.read) == 0
    assert _jobs_submitted(spark, lambda: st.read().count()) > 0  # the counter counts

    art = os.path.join(str(tmp_path), "artifact")
    st.with_bucket(_rows(spark, [("u2", 3, 102.0), ("n1", 4, 51.0)])).write.parquet(art)
    assert _jobs_submitted(spark, lambda: st.merge_linked(art)) == 0
    st.compact()

    chain = st.lineage_chain()
    assert [(ln["op"], ln["kind"]) for ln in chain] == [
        ("init", "base"), ("merge", "delta"), ("merge", "delta"),
        ("merge", "delta"), ("compact", "base"),
    ]
    assert "linked_from" in chain[3]
    for ln in chain:
        assert ln["rows"] == spark.read.parquet(st._data_dir(ln["version"])).count(), ln
    # the manifest is the only metadata file the store writes
    names = {fn for _, _, files in os.walk(st.path) for fn in files}
    assert not names & {"_LINEAGE.json", "_STORE_META.json"}
    assert ParquetFrontierStore.open(spark, st.path).host_buckets == 4


def test_compaction_is_one_resolve_and_write(spark, tmp_path):
    """compact() over a store with deltas runs the jobs of writing the
    resolved table bucket by bucket and no more: no job asks which
    buckets the deltas touched."""
    st = _store(spark, tmp_path, compact_ratio=100.0)
    st.init(_rows(spark, [(f"u{i}", (i % 6) + 1, float(i)) for i in range(24)]))
    st.merge(_rows(spark, [("u1", 2, 100.0), ("n0", 3, 50.0)]))
    art = os.path.join(str(tmp_path), "artifact")
    st.with_bucket(_rows(spark, [("u2", 3, 102.0)])).write.parquet(art)
    st.merge_linked(art)
    want = {r["url_hash"]: r["score"] for r in st.read().collect()}

    def write_resolved():
        schema, base, deltas = st._layout()
        resolved = st._resolve(
            st._read_base(schema, base), st._delta_union(schema, deltas), deltas
        )
        st._write_buckets(resolved, os.path.join(str(tmp_path), "resolved"))

    written = _jobs_submitted(spark, write_resolved)
    assert written > 0
    assert _jobs_submitted(spark, st.compact) == written
    assert [ln["kind"] for ln in st.lineage_chain()] == ["base", "delta", "delta", "base"]
    assert {r["url_hash"]: r["score"] for r in st.read().collect()} == want


def test_a_killed_compaction_leaves_nothing_in_the_next_snapshot(spark, tmp_path, monkeypatch):
    """A compaction killed after its write but before its commit leaves
    files at the next version. The next linked delta takes that
    version: it holds only its own rows, and the view stays the upsert
    of every committed snapshot."""
    st = _store(spark, tmp_path, compact_ratio=100.0)
    base = [(f"u{i}", (i % 6) + 1, float(i)) for i in range(24)]
    st.init(_rows(spark, base))
    st.merge(_rows(spark, [("u1", 2, 100.0)]))
    commit = st._commit

    def killed(version, lineage, kind, schema=None):
        if kind == "base":
            raise RuntimeError("killed before the compaction's commit")
        return commit(version, lineage, kind, schema)

    monkeypatch.setattr(st, "_commit", killed)
    with pytest.raises(RuntimeError, match="killed"):
        st.compact()
    monkeypatch.undo()
    assert os.path.isdir(st._data_dir(st.current_version() + 1))

    art = os.path.join(str(tmp_path), "artifact")
    st.with_bucket(_rows(spark, [("u2", 3, 102.0)])).write.parquet(art)
    st.merge_linked(art)
    assert [ln["kind"] for ln in st.lineage_chain()] == ["base", "delta", "delta"]
    assert st.lineage()["rows"] == 1
    want = {u: s for u, _, s in base} | {"u1": 100.0, "u2": 102.0}
    assert {r["url_hash"]: r["score"] for r in st.read().collect()} == want


def test_read_host_runs_no_job_and_prunes_to_the_host_bucket(spark, tmp_path):
    """read_host hashes the host inside the plan: building the read over
    a store with deltas submits no Spark job, and the executed scans
    carry the host's bucket as a partition filter."""
    import re

    st = _store(spark, tmp_path, compact_ratio=100.0)
    st.init(_rows(spark, [(f"u{i}", (i % 6) + 1, float(i)) for i in range(24)]))
    st.merge(_rows(spark, [("u1", 2, 100.0), ("n0", 2, 50.0)]))
    st.merge(_rows(spark, [("u7", 2, 107.0)]))
    host = "host2.test"
    assert _jobs_submitted(spark, lambda: st.read_host(host)) == 0

    bucket = spark.range(1).select(st._bucket(F.lit(host)).alias("b")).collect()[0]["b"]
    rows = st.read_host(host)
    assert {r["url_hash"]: r["score"] for r in rows.collect()} == {
        r["url_hash"]: r["score"] for r in st.read().filter(F.col("host") == host).collect()
    }
    plan = rows._jdf.queryExecution().executedPlan().toString()
    # every scan (the base and both partitioned deltas) reads one bucket
    scans = re.findall(r"FileScan parquet.*", plan)
    pruned = [re.search(r"PartitionFilters: \[[^\]]*\(host_bucket#\d+ = (\d+)\)", sc)
              for sc in scans]
    assert scans and all(m and m.group(1) == str(bucket) for m in pruned), plan


def test_readers_during_commits_see_committed_versions(spark, tmp_path):
    """A reader looping read().collect() while the writer merges, adopts
    a linked artifact and compacts never fails, and every result equals
    the upsert state of some committed version."""
    import threading
    import time

    st = _store(spark, tmp_path, compact_ratio=100.0)
    base = [(f"u{i}", (i % 6) + 1, float(i)) for i in range(24)]
    st.init(_rows(spark, base))
    state = {u: s for u, _, s in base}
    states = [dict(state)]

    reads, errors = [], []
    stop = threading.Event()

    def reader():
        try:
            while not stop.is_set():
                reads.append({r["url_hash"]: r["score"] for r in st.read().collect()})
        except Exception as exc:  # surfaced by the assertion below
            errors.append(exc)

    def committed(items=()):
        """Record the new committed state, then let the reader finish
        at least one more read before the next commit."""
        state.update({u: s for u, _, s in items})
        states.append(dict(state))
        n, deadline = len(reads), time.time() + 60
        while len(reads) == n and not errors and time.time() < deadline:
            time.sleep(0.05)

    t = threading.Thread(target=reader)
    t.start()
    try:
        committed()
        upd = [("u0", 1, 100.0), ("n0", 2, 50.0)]
        st.merge(_rows(spark, upd))
        committed(upd)
        art = os.path.join(str(tmp_path), "artifact")
        upd = [("u0", 1, 200.0), ("n1", 3, 51.0)]
        st.with_bucket(_rows(spark, upd)).write.parquet(art)
        st.merge_linked(art)
        committed(upd)
        st.compact()
        committed()
    finally:
        stop.set()
        t.join(timeout=120)
    assert not t.is_alive(), "reader thread did not stop"
    assert not errors, errors
    assert len(reads) >= len(states)
    for got in reads:
        assert got in states
    assert {r["url_hash"]: r["score"] for r in st.read().collect()} == states[-1]


def test_a_round_resumed_after_a_killed_compaction_compacts(spark, tmp_path_factory, monkeypatch):
    """Round 1's delta trips the compaction trigger, and the compaction
    is killed before its commit. The resumed round finds its delta
    committed and evaluates the trigger again, so the store's version
    history and view equal the uninterrupted run's."""
    web = SimWeb(*WEB)

    def driver(wd):
        drv = RoundDriver(spark, str(wd), _cfg(), WEB, START)
        drv.store.COMPACT_RATIO = 5.0  # round 1's delta compacts, round 0's does not
        return drv

    whole = driver(tmp_path_factory.mktemp("uninterrupted"))
    whole.run(_seeds_df(spark, web), rounds=3)
    kinds = [ln["kind"] for ln in whole.store.lineage_chain()]
    assert kinds == ["base", "delta", "delta", "base", "delta"]

    wd = tmp_path_factory.mktemp("killed")
    killed = driver(wd)
    killed.run(_seeds_df(spark, web), rounds=1)
    commit = killed.store._commit

    def kill_compaction(version, lineage, kind, schema=None):
        if kind == "base":
            raise RuntimeError("killed before the compaction's commit")
        return commit(version, lineage, kind, schema)

    monkeypatch.setattr(killed.store, "_commit", kill_compaction)
    with pytest.raises(RuntimeError, match="killed"):
        killed.run_round(1)
    monkeypatch.undo()
    assert [ln["kind"] for ln in killed.store.lineage_chain()] == kinds[:3]

    resumed = driver(wd)
    resumed.run(None, rounds=2, start_round=1)
    assert [ln["kind"] for ln in resumed.store.lineage_chain()] == kinds
    pd.testing.assert_frame_equal(_frontier_pdf(whole), _frontier_pdf(resumed))


def test_a_crawl_keeps_one_commit_record_per_kind_of_state(two_rounds):
    """Each round's host table sits in its fetch stage, under that
    stage's _DONE, and the updatedb artifact carries no side stamp: a
    crawl of rounds 0-1 writes no ``_WNS_BUCKETING.json`` and no
    top-level ``hosts/``."""
    wd = two_rounds.workdir
    assert "_WNS_BUCKETING.json" not in {fn for _, _, fns in os.walk(wd) for fn in fns}
    assert not os.path.exists(os.path.join(wd, "hosts"))
    for r in range(2):
        assert two_rounds._record(f"batch-{r:04d}", "fetch") is not None
        assert len(_host_state_pdf(two_rounds, r)) > 0


@pytest.mark.parametrize("kill", ["host_write", "adoption"])
def test_a_resumed_round_counts_each_fetch_once_in_the_host_state(
    spark, tmp_path_factory, monkeypatch, two_rounds, kill
):
    """Round 1 is killed after its fetch stage wrote the host table but
    before the stage's _DONE, or after updatedb committed its artifact
    but before the store adopted it. The resumed crawl's host tables,
    frontier and snapshot kinds equal the uninterrupted run's, and each
    host's fetch_count is its fetched rows over the rounds, so no fetch
    is counted twice."""
    wd = str(tmp_path_factory.mktemp(f"killed_{kill}"))
    drv = RoundDriver(spark, wd, _cfg(), WEB, START)
    drv.run(_seeds_df(spark, SimWeb(*WEB)), rounds=1)
    if kill == "host_write":
        write = drv._write_host_state

        def killed(res, batch_id):
            write(res, batch_id)
            raise RuntimeError("killed before the fetch stage's _DONE")

        monkeypatch.setattr(drv, "_write_host_state", killed)
    else:
        def killed(data_dir, lineage=None):
            raise RuntimeError("killed before the store adopts the artifact")

        monkeypatch.setattr(drv.store, "merge_linked", killed)
    with pytest.raises(RuntimeError, match="killed"):
        drv.run_round(1)
    hosts_written = os.path.join(wd, "rounds", "batch-0001", "fetch", "hosts", "_SUCCESS")
    assert os.path.exists(hosts_written)
    assert drv._record("batch-0001", "fetch" if kill == "host_write" else "updatedb") is None

    resumed = RoundDriver(spark, wd, _cfg(), WEB, START)
    resumed.run(None, rounds=1, start_round=1)
    for r in range(2):
        pd.testing.assert_frame_equal(_host_state_pdf(two_rounds, r), _host_state_pdf(resumed, r))
    pd.testing.assert_frame_equal(_frontier_pdf(two_rounds), _frontier_pdf(resumed))
    assert [ln["kind"] for ln in resumed.store.lineage_chain()] == [
        ln["kind"] for ln in two_rounds.store.lineage_chain()
    ]
    fetched = pd.concat(
        resumed._read_stage(f"batch-{r:04d}", "fetch").filter(F.col("fetched"))
        .select("host").toPandas()
        for r in range(2)
    )
    counts = _host_state_pdf(resumed, 1).set_index("host")["fetch_count"]
    assert counts.to_dict() == fetched.groupby("host").size().to_dict()

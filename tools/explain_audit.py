"""Plan audit: .explain("formatted") for the key operators, with
automated checks that the plans have the shape we want at scale:

- parquet scans carry PushedFilters / pruned ReadSchema,
- column logic sits inside WholeStageCodegen spans,
- the generate path contains no global Sort (TakeOrderedAndProject),
- broadcast joins where a small side exists.

Run: PYTHONPATH=. python tools/explain_audit.py [sf_dir]
Writes PLANS.md with the formatted plans + audit verdicts.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def formatted(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    os.environ["PYTHONPATH"] = (
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        + os.pathsep
        + os.environ.get("PYTHONPATH", "")
    )
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from warps_nutch_spark.queries import (
        CFG,
        NOW,
        derived_frontier,
        q_generate_topn,
        q_opic_update,
        q_urlseen_antijoin,
        q_embedding_topk,
    )

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    sections = []
    checks = []

    def audit(name, df, want=(), forbid=()):
        plan = formatted(df)
        sections.append((name, plan))
        for token in want:
            ok = token in plan
            checks.append((name, f"contains {token}", ok))
        for token in forbid:
            ok = token not in plan
            checks.append((name, f"no {token}", ok))

    # 1. pushdown: a filtered, projected frontier scan
    fr = derived_frontier(spark, sf_dir)
    scan = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("n_chars") > 100)
        .select("doc_id", "source")
    )
    audit(
        "filtered_projected_scan",
        scan,
        want=("PushedFilters: [IsNotNull(n_chars), GreaterThan(n_chars,100)]",
              "* Filter"),  # '*' prefix = whole-stage codegen node
    )

    # 2. generate: window per host, NO global Sort for the topN
    audit(
        "generate_topn",
        q_generate_topn(spark, sf_dir),
        want=("TakeOrderedAndProject", "Window"),
    )

    # 3. updatedb aggregation path
    audit("opic_update", q_opic_update(spark, sf_dir), want=("HashAggregate",))  # partial+final hash agg (codegen breaks above Window)

    # 4. URL-seen anti-join
    audit(
        "urlseen_antijoin",
        q_urlseen_antijoin(spark, sf_dir),
        want=("LeftAnti",),
    )

    # 5. embedding top-k: broadcast of the query vector
    audit(
        "embedding_topk",
        q_embedding_topk(spark, sf_dir),
        want=("BroadcastNestedLoopJoin", "TakeOrderedAndProject"),
    )

    # 6. bucketed near-dup pipelines: candidates come from equi-joins
    # on band buckets — NEVER a cross product
    from warps_nutch_spark.queries import q_embedding_cosine_dedup
    from warps_nutch_spark.queries_ext import q_detail_quota, q_simhash_pairs

    audit(
        "embedding_cosine_dedup_lsh",
        q_embedding_cosine_dedup(spark, sf_dir),
        want=("HashAggregate",),
        forbid=("CartesianProduct", "BroadcastNestedLoopJoin"),
    )
    audit(
        "simhash_pairs",
        q_simhash_pairs(spark, sf_dir),
        forbid=("CartesianProduct", "BroadcastNestedLoopJoin"),
    )

    # 6b. IVF ANN: probed-cluster candidates then bounded top-k;
    # sessionization: window functions, single shuffle on the key
    from warps_nutch_spark.queries_ext import (
        q_embedding_ivf_topk,
        q_events_sessionized,
    )

    audit(
        "embedding_ivf_topk",
        q_embedding_ivf_topk(spark, sf_dir),
        want=("TakeOrderedAndProject",),
        forbid=("CartesianProduct",),
    )

    # 6c. IVF with a MATERIALIZED index: the probe is a partition-pruned
    # scan (PartitionFilters on centroid_id), reading exactly n_probe of
    # the n_centroids partition dirs — not a post-scan filter
    import tempfile as _tf

    from warps_nutch_spark.operators.ann import ivf_topk_indexed, ivf_write_index

    ivf_dir = os.path.join(_tf.mkdtemp(prefix="wns-plan-ivf-"), "ivf_index")
    _emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    _cent = _emb.filter(F.col("vec_id").between(1, 8)).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("ce")
    )
    _query = _emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe")
    )
    ivf_write_index(_emb.filter(F.col("vec_id") != 0), _cent, ivf_dir)
    ivf_probe = ivf_topk_indexed(spark, ivf_dir, _cent, _query, k=10, n_probe=2)
    audit(
        "ivf_indexed_probe",
        ivf_probe,
        want=("PartitionFilters",),
        forbid=("CartesianProduct",),
    )
    pruned_scan = spark.read.parquet(ivf_dir).filter(F.col("centroid_id").isin(1, 2))
    # input_file_name() reflects the files ACTUALLY read at execution
    # (inputFiles() lists the unpruned relation)
    read_files = [
        r[0] for r in pruned_scan.select(F.input_file_name()).distinct().collect()
    ]
    n_dirs = len({f.rsplit("/", 2)[-2] for f in read_files})
    checks.append(
        ("ivf_indexed_probe", f"scan reads exactly 2 partition dirs (got {n_dirs})", n_dirs == 2)
    )
    # and results match the unindexed ivf_topk
    same = (
        ivf_probe.exceptAll(q_embedding_ivf_topk(spark, sf_dir)).count() == 0
    )
    checks.append(("ivf_indexed_probe", "results == ivf_topk", same))

    # 6d. batched similarity join over the SAME materialized index:
    # assignment not recomputed per call, probe set resolved driver-side
    # to a literal IN -> static partition pruning for the whole batch
    from warps_nutch_spark.queries_ext import (
        q_embedding_sim_join,
        q_embedding_sim_join_indexed,
    )

    sj_indexed = q_embedding_sim_join_indexed(spark, sf_dir)
    audit(
        "ivf_sim_join_indexed",
        sj_indexed,
        want=("PartitionFilters",),
        forbid=("CartesianProduct",),
    )
    sj_same = (
        sj_indexed.exceptAll(q_embedding_sim_join(spark, sf_dir)).count() == 0
    )
    checks.append(("ivf_sim_join_indexed", "results == embedding_sim_join", sj_same))
    audit(
        "events_sessionized",
        q_events_sessionized(spark, sf_dir),
        want=("Window", "HashAggregate"),
        forbid=("CartesianProduct",),
    )

    # 7. detail quota: bounded TakeOrdered + broadcast join, no global sort
    audit(
        "detail_quota",
        q_detail_quota(spark, sf_dir),
        want=("TakeOrderedAndProject", "BroadcastHashJoin"),
    )

    # 8. MOR frontier read: base anti-join on delta keys (equality-
    # delete scan), newest-delta dedup confined to the delta set
    import tempfile

    from warps_nutch_spark.store.frontier import ParquetFrontierStore

    wd = tempfile.mkdtemp(prefix="wns-plan-mor-")
    st = ParquetFrontierStore(spark, wd, host_buckets=4)
    st.COMPACT_RATIO = 100.0
    base = spark.createDataFrame(
        [(f"u{i}", f"h{i}", f"host{i % 3}.test", float(i)) for i in range(50)],
        ["url_hash", "url", "host", "score"],
    )
    st.init(base)
    st.merge(base.limit(5).withColumn("score", F.col("score") + 1))
    audit(
        "frontier_mor_read",
        st.read(),
        # delta keys under BROADCAST_DELTA_KEYS_MAX: the base side must
        # NEVER shuffle — lineage-count-driven broadcast hint, not AQE
        want=("BroadcastHashJoin LeftAnti",),
        forbid=("CartesianProduct",),
    )

    # 9. round-3 additions: pHash banded pairs (never all-pairs),
    # LinkRank iteration (broadcast count, hash agg per step), CC
    # star-contraction step, metatags array-domain extraction (no
    # shuffle at all: one scan, no Exchange)
    from warps_nutch_spark.queries_ext import (
        q_linkrank_scores,
        q_parse_metatags,
        q_phash_hamming_pairs,
    )

    audit(
        "phash_hamming_pairs",
        q_phash_hamming_pairs(spark, sf_dir),
        forbid=("CartesianProduct", "BroadcastNestedLoopJoin"),
    )
    audit(
        "linkrank_scores",
        q_linkrank_scores(spark, sf_dir),
        want=("HashAggregate",),
        forbid=("CartesianProduct",),
    )
    from warps_nutch_spark.operators.cc import _large_star

    cc_edges = spark.createDataFrame(
        [(i, i + 1) for i in range(20)], ["u", "v"]
    )
    audit(
        "cc_large_star_step",
        _large_star(cc_edges),
        want=("HashAggregate",),
        forbid=("CartesianProduct", "BroadcastNestedLoopJoin"),
    )
    from warps_nutch_spark.queries_ext import q_embedding_sim_join, q_feed_items

    audit(
        "embedding_sim_join",
        q_embedding_sim_join(spark, sf_dir),
        want=("Window",),  # per-query top-k rank, no global sort
        forbid=("CartesianProduct",),
    )
    feed_plan = formatted(q_feed_items(spark, sf_dir))
    sections.append(("feed_items", feed_plan))
    checks.append(
        # r6: the narrow-scan spread adds ONE round-robin exchange of the
        # single-file documents scan; the scale claim is unchanged — no
        # hash-partition shuffle anywhere in the explode-only projection
        ("feed_items", "no hash shuffle (explode-only projection + spread)",
         "Exchange hashpartitioning" not in feed_plan)
    )
    meta_plan = formatted(q_parse_metatags(spark, sf_dir))
    sections.append(("parse_metatags", meta_plan))
    # union of the two exploded branches scans twice but neither
    # branch shuffles: Generate/Project only, no Exchange
    checks.append(
        ("parse_metatags", "no hash shuffle (array-domain + spread)",
         "Exchange hashpartitioning" not in meta_plan)
    )

    # 10. round-4 tika tier: pdf/office arms are filter -> mapInPandas
    # (passthrough columns, no join back onto the slice) unioned with
    # the declarative text arm — the whole tier must be exchange-free
    from warps_nutch_spark.operators.parse_dispatch import parse_dispatch

    tika_src = spark.createDataFrame(
        [
            ("a", "http://x/a.pdf", "application/pdf", b"%PDF-1.4"),
            ("b", "http://x/b.txt", "text/plain", b"t"),
            ("c", "http://x/c.rtf", "application/rtf", b"{\\rtf1 x}"),
            ("d", "http://x/d.gif", "image/gif", b"GIF89a"),
        ],
        "url_hash string, url string, content_type string, bytes binary",
    )
    tika_plan = formatted(parse_dispatch(tika_src, plugins={"*": ["parse-tika"]}))
    sections.append(("parse_tika_tier", tika_plan))
    checks.append(
        (
            "parse_tika_tier",
            "no Exchange (slice mapInPandas with passthrough, no join-back)",
            "Exchange" not in tika_plan,
        )
    )
    checks.append(
        ("parse_tika_tier", "contains MapInPandas", "MapInPandas" in tika_plan)
    )

    # DbReader page query: q_db_query's DataFrame form (the REST server
    # no longer runs it; it cuts pages from an in-process Arrow view)
    # must compile to a per-partition top-(offset+limit)
    # TakeOrderedAndProject, never a global Sort + Exchange — only one
    # page of rows reaches the driver
    from warps_nutch_spark.queries import QUERIES as _Q

    db_plan = formatted(_Q["db_query"](spark, sf_dir))
    sections.append(("db_query", db_plan))
    checks.append(
        (
            "db_query",
            "contains TakeOrderedAndProject (offset+limit, no global sort)",
            "TakeOrderedAndProject" in db_plan,
        )
    )
    checks.append(
        ("db_query", "no hash shuffle (ordered page + spread)",
         "Exchange hashpartitioning" not in db_plan)
    )
    checks.append(
        # exchange-free plans print codegen ids; once the narrow-scan
        # spread adds an exchange the plan is AQE-wrapped and the initial
        # explain omits codegen annotations — accept either form
        ("db_query", "codegen spans present (or AQE-wrapped)",
         "codegen id : 1" in db_plan or "AdaptiveSparkPlan" in db_plan)
    )

    # incremental LSH dedup: both corpus-vs-batch joins must be keyed
    # equi-joins on (band, key) — never a cartesian / nested-loop scan
    inc_plan = formatted(_Q["dedup_incremental"](spark, sf_dir))
    sections.append(("dedup_incremental", inc_plan))
    checks.append(
        ("dedup_incremental", "no CartesianProduct",
         "CartesianProduct" not in inc_plan)
    )
    checks.append(
        ("dedup_incremental", "no BroadcastNestedLoopJoin",
         "BroadcastNestedLoopJoin" not in inc_plan)
    )

    # SQ8 two-stage ANN: coarse AND rescore stages both compile to
    # TakeOrderedAndProject (per-partition partial top-k, no global sort)
    sq8_plan = formatted(_Q["embedding_sq8_topk"](spark, sf_dir))
    sections.append(("embedding_sq8_topk", sq8_plan))
    checks.append(
        ("embedding_sq8_topk", "two TakeOrderedAndProject stages",
         sq8_plan.count("TakeOrderedAndProject") >= 2)
    )
    checks.append(
        ("embedding_sq8_topk", "no Sort + Exchange for ranking",
         "Exchange rangepartitioning" not in sq8_plan)
    )

    # charset detection + domain statistics: pure column plans — the
    # encoding sniff must stay UDF-free (one codegen span), and the
    # domain stats groupBy must partially aggregate (no second shuffle)
    enc_plan = formatted(_Q["detect_encoding"](spark, sf_dir))
    sections.append(("detect_encoding", enc_plan))
    checks.append(
        ("detect_encoding", "no Python eval (pure codegen columns)",
         "BatchEvalPython" not in enc_plan and "MapInPandas" not in enc_plan)
    )
    checks.append(
        ("detect_encoding", "no hash shuffle (codegen columns + spread)",
         "Exchange hashpartitioning" not in enc_plan)
    )

    ds_plan = formatted(_Q["domain_statistics"](spark, sf_dir))
    sections.append(("domain_statistics", ds_plan))
    checks.append(
        ("domain_statistics", "partial aggregation before the shuffle",
         "partial" in ds_plan.lower())
    )
    checks.append(
        ("domain_statistics", "single shuffle (union + one groupBy)",
         ds_plan.count("Exchange hashpartitioning") <= 1)
    )

    out = ["# PLANS — physical-plan audit\n"]
    out.append("| plan | check | ok |\n|---|---|---|\n")
    for name, check, ok in checks:
        out.append(f"| {name} | {check} | {'✅' if ok else '❌'} |\n")
    for name, plan in sections:
        out.append(f"\n## {name}\n\n```\n{plan}\n```\n")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "PLANS.md"), "w") as f:
        f.writelines(out)
    bad = [c for c in checks if not c[2]]
    for name, check, ok in checks:
        print(("OK  " if ok else "FAIL") + f" {name}: {check}")
    print(f"wrote PLANS.md ({len(checks) - len(bad)}/{len(checks)} checks pass)")
    spark.stop()
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()

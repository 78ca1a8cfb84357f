"""Driver-contract queries: one entry per implemented operator family
(SURVEY.md §2), each with a DuckDB-runnable oracle SQL string.

The crawl operators run over a *derived frontier* built
deterministically from the ``documents`` table (and an order→lineitem
link graph for OPIC), so the Spark implementation and the ANSI-SQL
oracle compute from the same parquet inputs. Column names and types
are aligned on both sides (driver compares row-count + schema +
order-insensitive value-hash); doubles are rounded to 6 decimals in
BOTH engines to absorb float-representation drift.

Dialect parity notes:
- Spark ``regexp_replace`` replaces all matches; DuckDB needs the 'g'
  flag — every oracle regex uses it.
- Spark int casts truncate; DuckDB CAST rounds — oracles use floor().
- DuckDB has no sha1/xxhash64 — common-ground hashing uses md5 hex
  strings (order over hex strings is consistent in both engines).
- Spark arrays via element_at are 1-indexed, same as DuckDB lists.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .config import CrawlConfig
from .functions import urls
from .functions.status import PROTOCOL_TO_CRAWL, protocol_to_crawl_col
from .operators import generate as gen_op
from .operators.rows import complete_rows, page_category_col

CFG = CrawlConfig(top_n=50, max_per_host=5)
NOW = 1_700_000_000_000

_PYFILE_SESSIONS: set[int] = set()


def ensure_worker_imports(spark: SparkSession) -> None:
    """Guarantee executors can ``import warps_nutch_spark`` inside
    pandas-UDF tasks regardless of how the session was built.

    pytest/bench/__spark_entry__ export PYTHONPATH before the JVM
    launches, and local-mode python workers inherit the JVM's
    environment — but a harness that creates its SparkSession BEFORE
    importing this package leaves workers unable to resolve the
    cloudpickle by-reference globals of our mapInPandas closures.
    Shipping the package once per session via ``addPyFile`` (a zip,
    added to every python worker's sys.path) closes that hole.

    The shipment is NOT free: adding a session artifact changes the
    python-worker environment key, which defeats worker reuse across
    UDF stages (measured ~40% slower crawl rounds, 821 -> 575
    urls/s at sf0.1). So probe first — one tiny 2-partition job that
    tries the import on real workers — and ship only when the
    inherited PYTHONPATH genuinely cannot resolve the package."""
    import os
    import tempfile
    import zipfile

    sc = spark.sparkContext
    if id(sc) in _PYFILE_SESSIONS:
        return

    def _probe(_it):
        try:
            import warps_nutch_spark  # noqa: F401

            yield True
        except Exception:
            yield False

    try:
        if all(sc.parallelize(range(2), 2).mapPartitions(_probe).collect()):
            _PYFILE_SESSIONS.add(id(sc))
            return
    except Exception:
        pass  # probe itself failing -> ship the package
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    newest = 0.0
    py_files = []
    for root, _dirs, files in os.walk(pkg_dir):
        for fn in files:
            if fn.endswith(".py"):
                full = os.path.join(root, fn)
                py_files.append(full)
                newest = max(newest, os.path.getmtime(full))
    zpath = os.path.join(
        tempfile.gettempdir(), f"wns_pkg_{int(newest)}.zip"
    )
    if not os.path.exists(zpath):
        tmp = f"{zpath}.{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp, "w") as zf:
            parent = os.path.dirname(pkg_dir)
            for full in py_files:
                zf.write(full, os.path.relpath(full, parent))
        os.replace(tmp, zpath)
    sc.addPyFile(zpath)
    _PYFILE_SESSIONS.add(id(sc))


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "documents":
        # the documents table ships as ONE parquet file at bench scale,
        # so every doc-derived query (synthetic-blob parse pipelines,
        # regex extraction, shingling) otherwise runs its entire dense
        # stage — including every mapInPandas parser — in a single
        # task (guide §2.5 input skew). Narrow-gated: no-op when the
        # scan already has >= cores partitions. Results are unaffected:
        # no doc query is row-order-sensitive (limits are ordered,
        # aggregates order-free — audited r6).
        from .operators.skew import spread_narrow_scan

        df = spread_narrow_scan(df)
    return df


# --------------------------------------------------------------------------
# derived frontier over documents (same construction in every oracle's
# WITH frontier AS (...) block)
# --------------------------------------------------------------------------
FRONTIER_SQL = """
frontier AS (
  SELECT
    'http://' || source || '.test' ||
      CASE CAST(doc_id % 5 AS INTEGER)
        WHEN 0 THEN '/index.html'
        WHEN 1 THEN '/search?q=x' || CAST(doc_id AS VARCHAR)
        WHEN 2 THEN '/media/' || CAST(doc_id AS VARCHAR) || '.jpg'
        WHEN 3 THEN '/detail/' || CAST(doc_id AS VARCHAR)
        ELSE '/doc/' || CAST(doc_id AS VARCHAR)
      END AS url,
    source || '.test' AS host,
    CAST(n_chars AS DOUBLE) AS score,
    CASE WHEN doc_id % 20 = 0 THEN 1001 ELSE 0 END AS priority,
    doc_id % 4 AS distance,
    1700000000000 + (doc_id % 100) * 3600000 AS fetch_time,
    60 + (doc_id % 10) * 3600 AS fetch_interval,
    doc_id
  FROM documents
)
"""


def derived_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    path = (
        F.when(
            (F.col("doc_id") % 5).cast("int") == 0, F.lit("/index.html")
        )
        .when(
            (F.col("doc_id") % 5).cast("int") == 1,
            F.concat(F.lit("/search?q=x"), F.col("doc_id").cast("string")),
        )
        .when(
            (F.col("doc_id") % 5).cast("int") == 2,
            F.concat(F.lit("/media/"), F.col("doc_id").cast("string"), F.lit(".jpg")),
        )
        .when(
            (F.col("doc_id") % 5).cast("int") == 3,
            F.concat(F.lit("/detail/"), F.col("doc_id").cast("string")),
        )
        .otherwise(F.concat(F.lit("/doc/"), F.col("doc_id").cast("string")))
    )
    return docs.select(
        F.concat(F.lit("http://"), F.col("source"), F.lit(".test"), path).alias("url"),
        F.concat(F.col("source"), F.lit(".test")).alias("host"),
        F.col("n_chars").cast("double").alias("score"),
        F.when(F.col("doc_id") % 20 == 0, F.lit(1001)).otherwise(F.lit(0)).alias("priority"),
        (F.col("doc_id") % 4).alias("distance"),
        (F.lit(1_700_000_000_000) + (F.col("doc_id") % 100) * 3_600_000).alias("fetch_time"),
        (F.lit(60) + (F.col("doc_id") % 10) * 3600).alias("fetch_interval"),
        F.col("doc_id"),
    )


# ===========================================================================
# S1/I1/F1-F3: inject — seed-line canonicalization + seed row build
# ===========================================================================
def q_inject_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw URL variants (uppercase authority, default port, fragment,
    dot-segments, session ids) -> canonical seed rows."""
    docs = _t(spark, sf_dir, "documents")
    raw = docs.select(
        F.concat(
            F.lit("HTTP://"),
            F.upper(F.col("source")),
            F.lit(".TEST:80/a/../doc/./"),
            F.col("doc_id").cast("string"),
            F.lit(";jsessionid=ABC123?x=1&&y=2&#frag"),
        ).alias("raw_url"),
        F.col("doc_id"),
    )
    return raw.select(
        "doc_id",
        urls.canonicalize_col(F.col("raw_url")).alias("url"),
        urls.host_col(urls.canonicalize_col(F.col("raw_url"))).alias("host"),
    )


ORACLE_INJECT_CANONICALIZE = """
SELECT doc_id,
  'http://' || source || '.test/doc/' || CAST(doc_id AS VARCHAR) || '?x=1&y=2' AS url,
  source || '.test' AS host
FROM documents
"""


# ===========================================================================
# S4 key model: reversed-URL row keys (TableUtil.reverseUrl)
# ===========================================================================
def q_url_reverse(spark: SparkSession, sf_dir: str) -> DataFrame:
    fr = derived_frontier(spark, sf_dir)
    return fr.select(
        "url", urls.reverse_url_col(F.col("url")).alias("reversed_key")
    )


ORACLE_URL_REVERSE = f"""
WITH {FRONTIER_SQL}
SELECT url,
  array_to_string(list_reverse(string_split(host, '.')), '.')
    || ':http' || substr(url, 8 + length(host)) AS reversed_key
FROM frontier
"""


# ===========================================================================
# P2/P3/P4: generate — top-N per host, best-first, seed exemption
# ===========================================================================
def q_generate_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    fr = complete_rows(
        derived_frontier(spark, sf_dir).drop("fetch_time", "fetch_interval", "doc_id"),
        CFG,
        NOW,
    )
    out = gen_op.generate(fr, CFG, NOW, "b1")
    # frontier stores score as float32; n_chars < 2^24 so the cast back
    # to double is exact and matches the oracle's DOUBLE
    return out.select(
        "url",
        "host",
        F.col("priority").cast("bigint").alias("priority"),
        F.col("score").cast("double").alias("score"),
    )


ORACLE_GENERATE_TOPN = f"""
WITH {FRONTIER_SQL},
ranked AS (
  SELECT url, host, CAST(priority AS BIGINT) AS priority, score,
         row_number() OVER (PARTITION BY host
             ORDER BY priority DESC, score DESC, url ASC) AS rk
  FROM frontier
),
capped AS (SELECT * FROM ranked WHERE rk <= {CFG.max_per_host})
SELECT url, host, priority, score FROM capped WHERE priority >= 1000
UNION ALL
SELECT url, host, priority, score FROM (
  SELECT * FROM capped WHERE priority < 1000
  ORDER BY priority DESC, score DESC, url ASC LIMIT {CFG.top_n}
)
"""


# ===========================================================================
# S9/S10: host stats (WebTableReader + HostDb aggregation)
# ===========================================================================
def q_host_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    fr = derived_frontier(spark, sf_dir)
    return fr.groupBy("host").agg(
        F.count("*").alias("n_pages"),
        F.round(F.avg("score"), 6).alias("avg_score"),
        F.max("score").alias("max_score"),
        F.min("distance").alias("min_distance"),
    )


ORACLE_HOST_STATS = f"""
WITH {FRONTIER_SQL}
SELECT host, count(*) AS n_pages, round(avg(score), 6) AS avg_score,
       max(score) AS max_score, min(distance) AS min_distance
FROM frontier GROUP BY host
"""


# ===========================================================================
# F7: page-category classifier (CrawlFilter.sniffPageCategoryByUrlPattern)
# ===========================================================================
def q_page_category(spark: SparkSession, sf_dir: str) -> DataFrame:
    fr = derived_frontier(spark, sf_dir)
    return (
        fr.withColumn("page_category", page_category_col("url"))
        .groupBy("page_category")
        .agg(F.count("*").alias("n"))
    )


ORACLE_PAGE_CATEGORY = f"""
WITH {FRONTIER_SQL},
cat AS (
  SELECT CASE
    WHEN regexp_matches(url, '://[^/]+/?$')
      OR regexp_matches(url, '/(index|default)[^/]*$') THEN 'INDEX'
    WHEN regexp_matches(url, '/search([/?#]|$)')
      OR regexp_matches(url, '[?&](q|query|s|search)=') THEN 'SEARCH'
    WHEN regexp_matches(url, '/media/')
      OR regexp_matches(url, '\\.(jpg|jpeg|png|gif|mp4|webm)$') THEN 'MEDIA'
    WHEN regexp_matches(url, '/detail/')
      OR regexp_matches(url, '/[a-z]+/\\d+([/.?#]|$)') THEN 'DETAIL'
    ELSE 'UNKNOWN' END AS page_category
  FROM frontier
)
SELECT page_category, count(*) AS n FROM cat GROUP BY page_category
"""


# ===========================================================================
# F8: shouldFetch eligibility with over-horizon clamp
# ===========================================================================
def q_should_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.schedules import should_fetch_col

    fr = derived_frontier(spark, sf_dir)
    now = NOW + 50 * 3_600_000
    return fr.filter(
        should_fetch_col(F.col("fetch_time"), F.col("fetch_interval"), now, CFG)
    ).select("url", "fetch_time")


ORACLE_SHOULD_FETCH = f"""
WITH {FRONTIER_SQL}
SELECT url, fetch_time FROM frontier
WHERE fetch_time - {NOW + 50 * 3_600_000} > {CFG.max_fetch_interval_sec * 1000}
   OR fetch_time <= {NOW + 50 * 3_600_000}
"""


# ===========================================================================
# R1/R2: OPIC outlink explode + cash distribution (orders -> lineitem)
# ===========================================================================
def q_opic_distribute(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy(
        "l_linenumber", "l_partkey", "l_suppkey"
    )
    edges = (
        lineitem.select("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")
        .withColumn("pos", F.row_number().over(w) - 1)
        .withColumn("n_links", F.count("*").over(Window.partitionBy("l_orderkey")))
    )
    joined = edges.join(
        orders.select("o_orderkey", "o_totalprice"),
        edges.l_orderkey == orders.o_orderkey,
    )
    contrib = (F.col("n_links") - F.col("pos")).cast("double") + F.col(
        "o_totalprice"
    ) / F.col("n_links").cast("double")
    return joined.select(
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        "l_linenumber",
        F.round(contrib, 6).alias("contribution"),
    )


ORACLE_OPIC_DISTRIBUTE = """
WITH edges AS (
  SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber,
         row_number() OVER (PARTITION BY l_orderkey
             ORDER BY l_linenumber, l_partkey, l_suppkey) - 1 AS pos,
         count(*) OVER (PARTITION BY l_orderkey) AS n_links
  FROM lineitem
)
SELECT e.l_orderkey, e.l_partkey, e.l_suppkey, e.l_linenumber,
       round((e.n_links - e.pos) + o.o_totalprice / e.n_links, 6) AS contribution
FROM edges e JOIN orders o ON e.l_orderkey = o.o_orderkey
"""


# ===========================================================================
# R3/R4/R5: group-by-URL score aggregation with inlink cap
# ===========================================================================
def q_opic_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    contribs = q_opic_distribute(spark, sf_dir).withColumn(
        "inlink_distance", (F.col("l_orderkey") % 3 + 1).cast("bigint")
    )
    win = Window.partitionBy("l_partkey").orderBy(
        F.desc("contribution"),
        F.asc("l_orderkey"),
        F.asc("l_linenumber"),
        F.asc("l_suppkey"),
    )
    capped = contribs.withColumn("rk", F.row_number().over(win)).filter(F.col("rk") <= 10)
    # order-independent sum: contribution is already rounded to 6
    # decimals, so scale to integer micros and sum exact longs — the
    # float-accumulation order inside each engine then cannot move the
    # result across a rounding boundary (r1 hash_match failure).
    micros = F.round(F.col("contribution") * 1e6, 0).cast("long")
    return capped.groupBy("l_partkey").agg(
        (F.sum(micros).cast("double") / F.lit(1e6)).alias("inlink_sum"),
        F.count("*").alias("n_inlinks"),
        F.min("inlink_distance").alias("min_distance"),
    )


ORACLE_OPIC_UPDATE = """
WITH edges AS (
  SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber,
         row_number() OVER (PARTITION BY l_orderkey
             ORDER BY l_linenumber, l_partkey, l_suppkey) - 1 AS pos,
         count(*) OVER (PARTITION BY l_orderkey) AS n_links
  FROM lineitem
),
contribs AS (
  SELECT e.l_orderkey, e.l_partkey, e.l_suppkey, e.l_linenumber,
         round((e.n_links - e.pos) + o.o_totalprice / e.n_links, 6) AS contribution,
         e.l_orderkey % 3 + 1 AS inlink_distance
  FROM edges e JOIN orders o ON e.l_orderkey = o.o_orderkey
),
capped AS (
  SELECT *, row_number() OVER (PARTITION BY l_partkey
      ORDER BY contribution DESC, l_orderkey ASC, l_linenumber ASC, l_suppkey ASC) AS rk
  FROM contribs
)
SELECT l_partkey,
       CAST(sum(CAST(round(contribution * 1e6, 0) AS BIGINT)) AS DOUBLE) / 1e6 AS inlink_sum,
       count(*) AS n_inlinks, min(inlink_distance) AS min_distance
FROM capped WHERE rk <= 10 GROUP BY l_partkey
"""


# ===========================================================================
# R9: adaptive fetch schedule as column math
# ===========================================================================
def q_adaptive_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.schedules import adaptive_schedule_cols

    fr = derived_frontier(spark, sf_dir).withColumn(
        "state", (F.col("doc_id") % 3).cast("int")
    ).withColumn(
        "modified_time", F.col("fetch_time") - (F.col("doc_id") % 5) * 2_000_000
    )
    ft, iv = adaptive_schedule_cols(
        F.col("fetch_time"),
        F.col("modified_time"),
        F.col("fetch_interval"),
        F.col("state"),
        CFG,
    )
    return fr.select(
        "url",
        ft.cast("bigint").alias("new_fetch_time"),
        iv.cast("bigint").alias("new_interval"),
    )


ORACLE_ADAPTIVE_SCHEDULE = f"""
WITH {FRONTIER_SQL},
st AS (
  SELECT url, fetch_time, fetch_interval,
         CAST(doc_id % 3 AS INTEGER) AS state,
         fetch_time - (doc_id % 5) * 2000000 AS modified_time
  FROM frontier
),
adapted AS (
  SELECT url, fetch_time, modified_time,
    CASE state
      WHEN 1 THEN CAST(floor(fetch_interval * 0.8) AS BIGINT)
      WHEN 2 THEN CAST(floor(fetch_interval * 1.2) AS BIGINT)
      ELSE fetch_interval END AS iv0
  FROM st
),
clamped AS (
  SELECT url, fetch_time, modified_time,
    greatest(CAST({CFG.adaptive_min_interval_sec} AS BIGINT),
      least(CAST({CFG.adaptive_max_interval_sec} AS BIGINT), iv0)) AS iv1,
    CAST(floor((fetch_time - modified_time) / 1000) AS BIGINT) AS delta_sec
  FROM adapted
),
synced AS (
  SELECT url,
    greatest(CAST({CFG.adaptive_min_interval_sec} AS BIGINT),
      least(CAST({CFG.adaptive_max_interval_sec} AS BIGINT),
            greatest(iv1, delta_sec))) AS new_interval,
    fetch_time - CAST(round(delta_sec * 0.2) AS BIGINT) * 1000 AS refetch
  FROM clamped
)
SELECT url, refetch + new_interval * 1000 AS new_fetch_time, new_interval
FROM synced
"""


# ===========================================================================
# Q8/R11: protocol->crawl status dispatch + counters (over events)
# ===========================================================================
def q_status_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    proto = (
        F.when(F.col("value") < 2, F.lit(14))  # NOTFOUND
        .when(F.col("value") < 5, F.lit(12))  # MOVED
        .when(F.col("value") < 8, F.lit(13))  # TEMP_MOVED
        .when(F.col("value") < 12, F.lit(16))  # EXCEPTION
        .when(F.col("value") < 15, F.lit(21))  # NOTMODIFIED
        .otherwise(F.lit(1))  # SUCCESS
    )
    return (
        ev.withColumn("crawl_status", protocol_to_crawl_col(proto).cast("bigint"))
        .groupBy("crawl_status")
        .agg(F.count("*").alias("n"))
    )


def _dispatch_case_sql() -> str:
    whens = "\n".join(
        f"      WHEN {p} THEN {c}" for p, c in PROTOCOL_TO_CRAWL.items()
    )
    return f"CASE proto\n{whens}\n      ELSE 34 END"


ORACLE_STATUS_COUNTERS = f"""
WITH proto_map AS (
  SELECT CASE
    WHEN value < 2 THEN 14 WHEN value < 5 THEN 12 WHEN value < 8 THEN 13
    WHEN value < 12 THEN 16 WHEN value < 15 THEN 21 ELSE 1 END AS proto
  FROM events
)
SELECT CAST({_dispatch_case_sql()} AS BIGINT) AS crawl_status, count(*) AS n
FROM proto_map GROUP BY 1
"""


# ===========================================================================
# R6/S6: URL-seen dedup — candidates anti-joined against the frontier
# ===========================================================================
def q_urlseen_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    fr = derived_frontier(spark, sf_dir).select("url")
    li = _t(spark, sf_dir, "lineitem")
    cand = li.select(
        F.concat(
            F.lit("http://src"),
            (F.col("l_partkey") % 19 + 1).cast("string"),
            F.lit(".test/doc/"),
            (F.col("l_partkey") % 1000).cast("string"),
        ).alias("url")
    )
    agg = cand.groupBy("url").agg(F.count("*").alias("n_refs"))
    return agg.join(fr, on="url", how="left_anti")


ORACLE_URLSEEN_ANTIJOIN = f"""
WITH {FRONTIER_SQL},
cand AS (
  SELECT 'http://src' || CAST(l_partkey % 19 + 1 AS VARCHAR) || '.test/doc/'
         || CAST(l_partkey % 1000 AS VARCHAR) AS url,
         count(*) AS n_refs
  FROM lineitem GROUP BY 1
)
SELECT c.url, c.n_refs FROM cand c
WHERE NOT EXISTS (SELECT 1 FROM frontier f WHERE f.url = c.url)
"""


# ===========================================================================
# Training-data ops: documents / embeddings
# ===========================================================================
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy(F.md5("text").alias("sig")).agg(
        F.min("doc_id").alias("canonical_doc_id"), F.count("*").alias("n_docs")
    )


ORACLE_DEDUP_EXACT = """
SELECT md5(text) AS sig, min(doc_id) AS canonical_doc_id, count(*) AS n_docs
FROM documents GROUP BY 1
"""


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash over 3-gram shingles -> candidate pairs per shared band
    bucket (the standard shingle->minhash->band->bucket-join pipeline,
    fully shuffle-expressed). The 4-hash/2-band parameterization keeps
    the oracle small; operators/dedup.minhash_lsh_pairs documents the
    collision-probability math and takes n_hashes/n_bands as arguments
    (tests sweep multiple parameterizations against all-pairs Jaccard)."""
    from .operators.dedup import minhash_lsh_pairs

    docs = _t(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs, n_hashes=4, n_bands=2, shingle_n=3)


# pair CTEs shared with the dedup_components closure oracle
MINHASH_PAIR_CTES = """toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
  WHERE len(string_split(text, ' ')) >= 3
),
sh AS (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(t)-2),
         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
  FROM toks
),
mh AS (
  SELECT doc_id,
    min(md5(shingle || ':0')) h0, min(md5(shingle || ':1')) h1,
    min(md5(shingle || ':2')) h2, min(md5(shingle || ':3')) h3
  FROM sh GROUP BY doc_id
),
bands AS (
  SELECT doc_id, 0 AS band, h0 || h1 AS key FROM mh
  UNION ALL SELECT doc_id, 1, h2 || h3 FROM mh
),
lsh_pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
)"""

ORACLE_DEDUP_MINHASH_LSH = f"""
WITH {MINHASH_PAIR_CTES}
SELECT doc_a, doc_b FROM lsh_pairs
"""


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tokens = F.size(toks).cast("bigint")
    punct = (
        F.length("text") - F.length(F.regexp_replace("text", r"[.,!?;:]", ""))
    ).cast("bigint")
    distinct_ratio = F.round(
        F.size(F.array_distinct(toks)).cast("double") / n_tokens, 6
    )
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        punct.alias("n_punct"),
        distinct_ratio.alias("distinct_token_ratio"),
        F.round(F.col("n_chars").cast("double") / n_tokens, 6).alias("avg_token_span"),
    )


def q_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality signals (Gopher, Rae et al. 2021
    §A1.1: documents dominated by repeated n-grams/lines are filtered
    before training): duplicate word-2gram fraction, most-frequent-
    2gram mass, duplicate sentence fraction. The top-2gram count is
    explode + groupBy (shuffle proportional to grams — the scalable
    shape); the duplicate fractions stay in the array domain."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    grams = F.expr(
        "transform(sequence(1, greatest(size(split(text, ' ')) - 1, 0)),"
        " i -> concat(split(text, ' ')[i - 1], ' ', split(text, ' ')[i]))"
    )
    sents = F.split("text", r"\. ")
    base = docs.select(
        "doc_id",
        grams.alias("g"),
        F.round(
            F.lit(1.0)
            - F.size(F.array_distinct(sents)).cast("double")
            / F.greatest(F.size(sents), F.lit(1)),
            6,
        ).alias("dup_line_frac"),
        F.round(
            F.lit(1.0)
            - F.size(F.array_distinct(grams)).cast("double")
            / F.greatest(F.size(grams), F.lit(1)),
            6,
        ).alias("dup_2gram_frac"),
        F.lit(None).alias("_pad"),
    ).drop("_pad")
    top = (
        base.select("doc_id", F.explode("g").alias("gram"))
        .groupBy("doc_id", "gram")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.max("c").alias("top_c"),
            F.sum("c").alias("n_grams"),
        )
    )
    return (
        base.drop("g")
        .join(top, on="doc_id", how="left")
        .select(
            "doc_id",
            "dup_2gram_frac",
            F.round(
                F.coalesce(
                    F.col("top_c").cast("double") / F.col("n_grams"), F.lit(0.0)
                ),
                6,
            ).alias("top_2gram_frac"),
            "dup_line_frac",
        )
    )


ORACLE_GOPHER_REPETITION = """
WITH toks AS (
  SELECT doc_id, text, string_split(text, ' ') AS t,
         string_split(text, '. ') AS sents
  FROM documents
),
base AS (
  SELECT doc_id,
    list_transform(generate_series(1, greatest(len(t) - 1, 0)),
                   i -> t[i] || ' ' || t[i + 1]) AS g,
    round(1.0 - CAST(len(list_distinct(sents)) AS DOUBLE)
          / greatest(len(sents), 1), 6) AS dup_line_frac
  FROM toks
),
dup AS (
  SELECT doc_id,
    round(1.0 - CAST(len(list_distinct(g)) AS DOUBLE)
          / greatest(len(g), 1), 6) AS dup_2gram_frac,
    dup_line_frac, g
  FROM base
),
ex AS (SELECT doc_id, unnest(g) AS gram FROM dup),
cnt AS (SELECT doc_id, gram, count(*) AS c FROM ex GROUP BY 1, 2),
top AS (
  SELECT doc_id, max(c) AS top_c, sum(c) AS n_grams FROM cnt GROUP BY 1
)
SELECT d.doc_id, d.dup_2gram_frac,
  round(coalesce(CAST(t.top_c AS DOUBLE) / t.n_grams, 0.0), 6) AS top_2gram_frac,
  d.dup_line_frac
FROM dup d LEFT JOIN top t USING (doc_id)
"""


ORACLE_TEXT_QUALITY = """
SELECT doc_id,
  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
  CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
  round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        / len(string_split(text, ' ')), 6) AS distinct_token_ratio,
  round(CAST(n_chars AS DOUBLE) / len(string_split(text, ' ')), 6) AS avg_token_span
FROM documents
"""


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    fp = F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(F.split("text", " ")))))
    return docs.select("doc_id", fp.alias("fingerprint"))


ORACLE_DOC_FINGERPRINT = """
SELECT doc_id,
  md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fingerprint
FROM documents
"""


def q_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-trigram profile language ID (Cavnar-Trenkle style; the
    r1/r2 stopword heuristic is superseded — operators/langid.py holds
    the built-in profile table and the method notes)."""
    from .operators.langid import langid_trigram

    return langid_trigram(_t(spark, sf_dir, "documents"))


def _oracle_langid() -> str:
    from .operators.langid import langid_trigram_sql

    return langid_trigram_sql()


ORACLE_LANGID = _oracle_langid()


def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k against the vec_id=0 query vector —
    the exact baseline for ANN."""
    from .operators.ann import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    return brute_force_topk(emb.filter(F.col("vec_id") != 0), qv, 10)


ORACLE_EMBEDDING_TOPK = """
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
SELECT vec_id, round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.qe AS DOUBLE[])), 4) AS cosine
FROM embeddings e, q WHERE e.vec_id <> 0
ORDER BY cosine DESC, vec_id ASC LIMIT 10
"""


def q_embedding_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketing: hyperplanes = embeddings 1..4; bucket =
    sign pattern of dot products (the scale path for ANN: bucket-join
    instead of brute force)."""
    from .operators.ann import sign_bits

    emb = _t(spark, sf_dir, "embeddings")
    planes = emb.filter(F.col("vec_id").isin(1, 2, 3, 4)).select(
        F.col("vec_id").alias("plane_id"), F.col("embedding").alias("pe")
    )
    buckets = sign_bits(emb, planes).withColumnRenamed("bits", "bucket")
    return buckets.groupBy("bucket").agg(F.count("*").alias("n_vecs"))


ORACLE_EMBEDDING_LSH_BUCKETS = """
WITH planes AS (
  SELECT vec_id AS plane_id, embedding AS pe FROM embeddings
  WHERE vec_id IN (1, 2, 3, 4)
),
bits AS (
  SELECT e.vec_id, p.plane_id,
    CASE WHEN list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(p.pe AS DOUBLE[])) >= 0 THEN '1' ELSE '0' END AS bit
  FROM embeddings e, planes p
),
buckets AS (
  SELECT vec_id, string_agg(bit, '' ORDER BY plane_id) AS bucket
  FROM bits GROUP BY vec_id
)
SELECT bucket, count(*) AS n_vecs FROM buckets GROUP BY bucket
"""


# sign-LSH params for the dedup query: 32 hyperplanes (corpus rows
# 1..32), 4 bands x 8 bits, exact-cosine verify > 0.2. At 100 TB the
# same pipeline runs with 64-256 planes; these are query parameters,
# not hardcoded operator constants (operators/ann.py).
_ANN_PLANES = 32
_ANN_BANDS = 4
_ANN_BAND_LEN = 8
_ANN_THRESHOLD = 0.2


def q_embedding_cosine_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate pairs via the scale-safe pipeline:
    sign-LSH banded bucket-join for candidates, exact cosine verify on
    candidates only (bucket -> candidate -> verify, mirroring
    minhash -> band -> jaccard). The r1 within-label all-pairs form is
    retained only as pytest ground truth (operators/ann.py
    allpairs_cosine)."""
    from .operators.ann import lsh_cosine_dedup

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # planes are broadcast-sized by definition: collect them once and
    # evaluate all plane dots in a single pass per row (the crossJoin
    # form shuffled every embedding P times)
    planes = [
        [float(v) for v in r["embedding"]]
        for r in emb.filter(F.col("vec_id").between(1, _ANN_PLANES))
        .orderBy("vec_id")
        .collect()
    ]
    return lsh_cosine_dedup(
        emb, planes, _ANN_BANDS, _ANN_BAND_LEN, _ANN_THRESHOLD
    )


# pair CTEs shared with the embedding_dedup_components closure oracle
COSINE_PAIR_CTES = f"""planes AS (
  SELECT vec_id AS plane_id, embedding AS pe FROM embeddings
  WHERE vec_id BETWEEN 1 AND {_ANN_PLANES}
),
bits AS (
  SELECT e.vec_id,
         string_agg(CASE WHEN list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                               CAST(p.pe AS DOUBLE[])) >= 0
                         THEN '1' ELSE '0' END, '' ORDER BY p.plane_id) AS bits
  FROM embeddings e, planes p GROUP BY e.vec_id
),
bands AS (
  {" UNION ALL ".join(
      f"SELECT vec_id, {b} AS band, substr(bits, {b * _ANN_BAND_LEN + 1},"
      f" {_ANN_BAND_LEN}) AS key FROM bits"
      for b in range(_ANN_BANDS)
  )}
),
pairs AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id
),
verified AS (
  SELECT p.vec_a, p.vec_b,
         round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                      CAST(eb.embedding AS DOUBLE[])), 4) AS cosine
  FROM pairs p
  JOIN embeddings ea ON ea.vec_id = p.vec_a
  JOIN embeddings eb ON eb.vec_id = p.vec_b
  WHERE list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                               CAST(eb.embedding AS DOUBLE[])) > {_ANN_THRESHOLD}
)"""

ORACLE_EMBEDDING_COSINE_DEDUP = f"""
WITH {COSINE_PAIR_CTES}
SELECT vec_a, vec_b, cosine FROM verified
"""


def q_embedding_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding dedup END-TO-END: sign-LSH cosine pairs -> connected
    components -> canonical vector per near-dup cluster (the third
    member of the dedup-family composition: text minhash and image
    pHash have the same shape)."""
    from .operators.ann import lsh_cosine_dedup
    from .operators.cc import connected_components

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planes = [
        [float(v) for v in r["embedding"]]
        for r in emb.filter(F.col("vec_id").between(1, _ANN_PLANES))
        .orderBy("vec_id")
        .collect()
    ]
    pairs = lsh_cosine_dedup(emb, planes, _ANN_BANDS, _ANN_BAND_LEN, _ANN_THRESHOLD)
    comp = connected_components(pairs, src_col="vec_a", dst_col="vec_b")
    return (
        emb.select("vec_id")
        .join(comp.withColumnRenamed("node", "vec_id"), on="vec_id", how="left")
        .select(
            "vec_id",
            F.coalesce("component", "vec_id").alias("canonical_id"),
            (F.coalesce("component", "vec_id") == F.col("vec_id")).alias("keep"),
        )
    )


ORACLE_EMBEDDING_DEDUP_COMPONENTS = f"""
WITH RECURSIVE {COSINE_PAIR_CTES},
edges AS (
  SELECT vec_a AS u, vec_b AS v FROM verified
  UNION SELECT vec_b, vec_a FROM verified
),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u WHERE e.v <> r.u
),
comp AS (SELECT u AS node, least(u, min(v)) AS component FROM reach GROUP BY u)
SELECT e.vec_id,
  coalesce(c.component, e.vec_id) AS canonical_id,
  coalesce(c.component, e.vec_id) = e.vec_id AS keep
FROM embeddings e LEFT JOIN comp c ON e.vec_id = c.node
"""


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per document (sign-vote over token md5 bits),
    returned as a '0'/'1' bit string."""
    from .operators.dedup import simhash_bits

    return simhash_bits(_t(spark, sf_dir, "documents"))


def _oracle_simhash() -> str:
    from .operators.dedup import simhash_sql

    return simhash_sql()


ORACLE_DEDUP_SIMHASH = None  # generated lazily (large SQL)


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True 3-gram Jaccard similarity for the minhash-LSH candidate
    pairs (the verify step of the dedup pipeline)."""
    from .operators.dedup import jaccard_pairs

    docs = _t(spark, sf_dir, "documents")
    cands = q_dedup_minhash_lsh(spark, sf_dir)
    return jaccard_pairs(docs, cands)


ORACLE_DEDUP_NGRAM_JACCARD = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
  WHERE len(string_split(text, ' ')) >= 3
),
sh AS (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(t)-2),
         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
  FROM toks
),
mh AS (
  SELECT doc_id,
    min(md5(shingle || ':0')) h0, min(md5(shingle || ':1')) h1,
    min(md5(shingle || ':2')) h2, min(md5(shingle || ':3')) h3
  FROM sh GROUP BY doc_id
),
bands AS (
  SELECT doc_id, 0 AS band, h0 || h1 AS key FROM mh
  UNION ALL SELECT doc_id, 1, h2 || h3 FROM mh
),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
),
shd AS (SELECT DISTINCT doc_id, shingle FROM sh),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM shd GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
  FROM cands c
  JOIN shd sa ON sa.doc_id = c.doc_a
  JOIN shd sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
  GROUP BY c.doc_a, c.doc_b
)
SELECT i.doc_a, i.doc_b,
       round(CAST(i.n_inter AS DOUBLE) / (za.n_sh + zb.n_sh - i.n_inter), 6) AS jaccard
FROM inter i
JOIN sizes za ON za.doc_id = i.doc_a
JOIN sizes zb ON zb.doc_id = i.doc_b
WHERE round(CAST(i.n_inter AS DOUBLE) / (za.n_sh + zb.n_sh - i.n_inter), 6) > 0.0
"""


def q_text_profile_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextProfileSignature dedup signature (X4 family,
    crawl/TextProfileSignature.java semantics, deterministic ties)."""
    from .operators.dedup import text_profile_signature

    return text_profile_signature(_t(spark, sf_dir, "documents"))


ORACLE_TEXT_PROFILE_SIGNATURE = """
WITH toks AS (
  SELECT doc_id,
    unnest(string_split(lower(regexp_replace(text, '[^a-zA-Z0-9]+', ' ', 'g')), ' ')) AS tok
  FROM documents
),
f AS (SELECT * FROM toks WHERE length(tok) > 2),
counts AS (SELECT doc_id, tok, count(*) AS cnt FROM f GROUP BY 1, 2),
mx AS (
  SELECT doc_id, tok, cnt, max(cnt) OVER (PARTITION BY doc_id) AS maxfreq
  FROM counts
),
q AS (
  SELECT doc_id, tok, cnt,
    greatest(CASE WHEN maxfreq > 1 THEN 2 ELSE 1 END,
             CAST(floor(maxfreq * 0.01 + 0.5) AS INTEGER)) AS quant
  FROM mx
),
qz AS (
  SELECT doc_id, tok, (cnt // quant) * quant AS qcnt, quant FROM q
),
profile AS (
  SELECT doc_id,
    string_agg(tok || ' ' || CAST(qcnt AS VARCHAR), chr(10)
               ORDER BY qcnt DESC, tok ASC) AS p
  FROM qz WHERE qcnt >= quant GROUP BY doc_id
)
SELECT doc_id, md5(p) AS text_profile_sig FROM profile
"""


def q_host_queue_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness queue schedule (Q2/Q3 semantics as columns): per
    host, best-first rank and the virtual request timestamp
    round_start + rank*delay, capped by the round budget."""
    fr = derived_frontier(spark, sf_dir)
    delay_ms = 5000
    budget_ms = 120 * 5000  # 120 requests per host per round
    w = Window.partitionBy("host").orderBy(
        F.desc("priority"), F.desc("score"), F.asc("url")
    )
    ranked = fr.withColumn("rk", F.row_number().over(w))
    return ranked.select(
        "url",
        "host",
        F.col("rk").cast("bigint").alias("queue_pos"),
        (F.lit(NOW) + (F.col("rk") - 1) * delay_ms).alias("fetch_ts"),
    ).filter((F.col("rk") - 1) * delay_ms < budget_ms)


ORACLE_HOST_QUEUE_ORDER = f"""
WITH {FRONTIER_SQL},
ranked AS (
  SELECT url, host,
         row_number() OVER (PARTITION BY host
             ORDER BY priority DESC, score DESC, url ASC) AS rk
  FROM frontier
)
SELECT url, host, CAST(rk AS BIGINT) AS queue_pos,
       {NOW} + (rk - 1) * 5000 AS fetch_ts
FROM ranked WHERE (rk - 1) * 5000 < {120 * 5000}
"""




def q_events_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 5-minute windows over the events stream table (the
    batch view of the Structured Streaming aggregation pattern —
    windows keyed on epoch seconds so both engines agree exactly)."""
    ev = _t(spark, sf_dir, "events")
    # tz-free tumbling window key from date parts (ts is TIMESTAMP_NTZ)
    m5 = ((F.minute("ts") / 5).cast("int") * 5).cast("bigint").alias("w_min5")
    return ev.groupBy(
        F.year("ts").cast("bigint").alias("w_year"),
        F.month("ts").cast("bigint").alias("w_month"),
        F.dayofmonth("ts").cast("bigint").alias("w_day"),
        F.hour("ts").cast("bigint").alias("w_hour"),
        m5,
        "event_type",
    ).agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


ORACLE_EVENTS_WINDOWED = """
SELECT CAST(year(ts) AS BIGINT) AS w_year, CAST(month(ts) AS BIGINT) AS w_month,
       CAST(day(ts) AS BIGINT) AS w_day, CAST(hour(ts) AS BIGINT) AS w_hour,
       CAST((minute(ts) // 5) * 5 AS BIGINT) AS w_min5,
       event_type, count(*) AS n_events, round(sum(value), 4) AS sum_value
FROM events GROUP BY 1, 2, 3, 4, 5, 6
"""


# ===========================================================================
# registry
# ===========================================================================
QUERIES = {
    "inject_canonicalize": q_inject_canonicalize,
    "url_reverse": q_url_reverse,
    "generate_topn": q_generate_topn,
    "host_stats": q_host_stats,
    "page_category": q_page_category,
    "should_fetch": q_should_fetch,
    "opic_distribute": q_opic_distribute,
    "opic_update": q_opic_update,
    "adaptive_schedule": q_adaptive_schedule,
    "status_counters": q_status_counters,
    "urlseen_antijoin": q_urlseen_antijoin,
    "dedup_exact": q_dedup_exact,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "text_quality": q_text_quality,
    "gopher_repetition": q_gopher_repetition,
    "doc_fingerprint": q_doc_fingerprint,
    "langid": q_langid,
    "embedding_topk": q_embedding_topk,
    "embedding_lsh_buckets": q_embedding_lsh_buckets,
    "embedding_cosine_dedup": q_embedding_cosine_dedup,
    "embedding_dedup_components": q_embedding_dedup_components,
    "dedup_simhash": q_dedup_simhash,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "host_queue_order": q_host_queue_order,
    "text_profile_signature": q_text_profile_signature,
    "events_windowed": q_events_windowed,
}

ORACLES = {
    "inject_canonicalize": ORACLE_INJECT_CANONICALIZE,
    "url_reverse": ORACLE_URL_REVERSE,
    "generate_topn": ORACLE_GENERATE_TOPN,
    "host_stats": ORACLE_HOST_STATS,
    "page_category": ORACLE_PAGE_CATEGORY,
    "should_fetch": ORACLE_SHOULD_FETCH,
    "opic_distribute": ORACLE_OPIC_DISTRIBUTE,
    "opic_update": ORACLE_OPIC_UPDATE,
    "adaptive_schedule": ORACLE_ADAPTIVE_SCHEDULE,
    "status_counters": ORACLE_STATUS_COUNTERS,
    "urlseen_antijoin": ORACLE_URLSEEN_ANTIJOIN,
    "dedup_exact": ORACLE_DEDUP_EXACT,
    "dedup_minhash_lsh": ORACLE_DEDUP_MINHASH_LSH,
    "text_quality": ORACLE_TEXT_QUALITY,
    "gopher_repetition": ORACLE_GOPHER_REPETITION,
    "doc_fingerprint": ORACLE_DOC_FINGERPRINT,
    "langid": ORACLE_LANGID,
    "embedding_topk": ORACLE_EMBEDDING_TOPK,
    "embedding_lsh_buckets": ORACLE_EMBEDDING_LSH_BUCKETS,
    "embedding_cosine_dedup": ORACLE_EMBEDDING_COSINE_DEDUP,
    "embedding_dedup_components": ORACLE_EMBEDDING_DEDUP_COMPONENTS,
    "dedup_ngram_jaccard": ORACLE_DEDUP_NGRAM_JACCARD,
    "host_queue_order": ORACLE_HOST_QUEUE_ORDER,
    "text_profile_signature": ORACLE_TEXT_PROFILE_SIGNATURE,
    "events_windowed": ORACLE_EVENTS_WINDOWED,
}

# simhash oracle SQL is generated from the same bit layout as the
# Spark implementation (operators/dedup.py)
def _register_simhash_oracle() -> None:
    from .operators.dedup import simhash_sql

    ORACLES["dedup_simhash"] = simhash_sql()


_register_simhash_oracle()


def _register_ext_queries() -> None:
    """Round-2 oracle-backed entries (queries_ext.py). Imported at the
    bottom so queries_ext can import this module's helpers."""
    from .queries_ext import EXT_ORACLES, EXT_QUERIES

    QUERIES.update(EXT_QUERIES)
    ORACLES.update(EXT_ORACLES)


_register_ext_queries()

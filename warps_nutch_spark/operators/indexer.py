"""Index sink (S8): IndexDocument construction + pluggable write.

Reference: ``mapreduce/IndexJob.java:51-160`` builds an
``IndexDocument`` per fetched+parsed page via the IndexingFilter chain
(url/host/content fields from ``plugin/index-basic/.../
BasicIndexingFilter.java:71-120``, anchors from index-anchor) and
writes to Solr/Elastic. Here the document build is a declarative
projection; the sink is a ``df.write`` to any Spark-supported target
(parquet/json dir in the sandbox; on a cluster swap the format string
for an ES/Solr connector — same DataFrame).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import urls
from ..functions.status import CrawlStatus


# MoreIndexingFilter.addType fallback branch: the mime type resolved
# from the URL extension (MimeUtil.getMimeType(url)); crawled pages
# without a recognized extension index as text/html
_URL_MIME = [
    (r"\.jpe?g([?#]|$)", "image/jpeg"),
    (r"\.png([?#]|$)", "image/png"),
    (r"\.gif([?#]|$)", "image/gif"),
    (r"\.wnim([?#]|$)", "image/x-wnim"),
    (r"\.pdf([?#]|$)", "application/pdf"),
    (r"\.txt([?#]|$)", "text/plain"),
    (r"\.json([?#]|$)", "application/json"),
    (r"\.(xml|rss)([?#]|$)", "application/xml"),
]


def content_type_col(url) -> F.Column:
    expr = F.lit("text/html")
    low = F.lower(url)
    for pat, mime in reversed(_URL_MIME):
        expr = F.when(low.rlike(pat), F.lit(mime)).otherwise(expr)
    return expr


def build_index_documents(
    frontier: DataFrame,
    batch_id: str | None = None,
    site_names: DataFrame | None = None,
    metatags: DataFrame | None = None,
    metatag_keys: tuple[str, ...] = (),
) -> DataFrame:
    """One index document per FETCHED page (IndexJob scan guard:
    UPDATEDB_MARK present -> here updated_batch/fetched state).

    Beyond index-basic/anchor, the document carries the index-more
    fields (``plugin/index-more/.../MoreIndexingFilter.java``:
    content type + primary/sub type from the URL extension fallback,
    content length, last-modified time) and the index-metadata fields
    (``plugin/index-metadata/.../MetadataIndexer.java``: crawl-time
    history, site name via the ``site_names`` mapping table
    (SiteNames.java), resource category (ResourceCategory.java — the
    page-category classifier), and ``meta_<key>`` fields copied from
    the parse metatags for each configured ``metatag_keys`` entry,
    the ``index.metadata`` property analog).

    ``site_names``: optional (domain, site_name) mapping — broadcast
    joined. ``metatags``: optional (url_hash, tags map<string,string>)
    from the metatags parse filter — joined by key.
    """
    from .rows import page_category_col

    docs = frontier.filter(F.col("status") == CrawlStatus.FETCHED)
    if batch_id is not None:
        docs = docs.filter(F.col("fetched_batch") == batch_id)
    ct = content_type_col(F.col("url"))
    extra = [
        # --- index-more (MoreIndexingFilter.java) ---
        ct.alias("content_type"),
        F.split_part(ct, F.lit("/"), F.lit(1)).alias("primary_type"),
        F.split_part(ct, F.lit("/"), F.lit(2)).alias("sub_type"),
        # the graft's indexable content is the caption (ascii); its
        # byte length is the Content-Length analog (addLength)
        F.octet_length(F.coalesce(F.col("caption"), F.lit(""))).cast("long").alias(
            "content_length"
        ),
        # addTime: last-modified when known, else unset
        F.when(F.col("modified_time") > 0, F.col("modified_time")).alias(
            "last_modified_ms"
        ),
        # --- index-metadata (MetadataIndexer.java addTime) ---
        F.coalesce(
            F.when(F.col("prev_fetch_time") > 0, F.col("prev_fetch_time")),
            F.col("fetch_time"),
        ).alias("first_crawl_time_ms"),
        F.col("fetch_time").alias("last_crawl_time_ms"),
        F.concat_ws(
            ",",
            F.when(
                F.col("prev_fetch_time") > 0, F.col("prev_fetch_time").cast("string")
            ),
            F.col("fetch_time").cast("string"),
        ).alias("fetch_time_history"),
        page_category_col("url").alias("resource_category"),
    ]
    for key in metatag_keys:
        # try_element_at: ANSI-safe NULL for absent keys
        extra.append(F.try_element_at(F.col("_tags"), F.lit(key)).alias(f"meta_{key}"))
    if metatags is not None:
        docs = docs.join(
            metatags.select("url_hash", F.col("tags").alias("_tags")),
            on="url_hash",
            how="left",
        )
    elif metatag_keys:
        docs = docs.withColumn("_tags", F.lit(None).cast("map<string,string>"))
    if site_names is not None:
        sn = site_names.select(F.col("domain").alias("_sn_domain"), "site_name")
        docs = docs.withColumn("_domain", urls.domain_col(F.col("host"))).join(
            F.broadcast(sn), F.col("_domain") == F.col("_sn_domain"), "left"
        )
        extra.append(F.col("site_name"))
    else:
        extra.append(F.lit(None).cast("string").alias("site_name"))
    return docs.select(
        F.col("url_hash").alias("id"),
        F.col("url"),
        F.col("host"),
        urls.domain_col(F.col("host")).alias("domain"),
        F.col("caption").alias("content"),
        F.col("image_id"),
        F.col("phash"),
        F.col("score").cast("double").alias("boost"),
        (F.col("fetch_time") / 1000).cast("timestamp").alias("tstamp"),
        F.col("batch_id"),
        # index-anchor (AnchorIndexingFilter): distinct non-empty
        # anchor texts from the stored inlink state
        F.array_distinct(
            F.filter(
                F.transform(
                    F.coalesce(F.col("inlinks"), F.array()),
                    lambda s: s.getField("anchor"),
                ),
                lambda a: a.isNotNull() & (a != ""),
            )
        ).alias("anchors"),
        # representative URL when the page redirected (reprUrl field)
        F.col("repr_url"),
        *extra,
    )


def write_index(docs: DataFrame, path: str, fmt: str = "parquet") -> None:
    """Sandbox sink. Production: ``docs.write.format("es")...`` or a
    Solr connector — the document DataFrame is identical."""
    docs.write.mode("append").format(fmt).save(path)


# ---------------------------------------------------------------------------
# Elasticsearch-compatible bulk sink
# ---------------------------------------------------------------------------
# Reference: ``plugin/indexer-elastic/.../ElasticIndexWriter.java`` —
# buffers index requests and flushes a bulk when bulkDocs >=
# MAX_BULK_DOCS or bulkLength >= MAX_BULK_LENGTH (:150-163), supports
# per-key deletes (:166), and fails the task on bulk item errors
# (:190-205). The wire format is the public ES ``_bulk`` NDJSON
# protocol: an action line then a source line per document.
#
# Spark-first split: the NDJSON construction is pure Column work
# (to_json, JVM-side, codegen); only the transport is per-partition
# Python, and it is I/O-bound batching, not per-row compute.

BULK_MAX_DOCS = 250  # ElasticConstants.MAX_BULK_DOCS default
BULK_MAX_BYTES = 2_500_500  # ElasticConstants.MAX_BULK_LENGTH default


def to_bulk_ndjson(
    docs: DataFrame, index_name: str = "nutch", id_col: str = "id"
) -> DataFrame:
    """One ``line`` per document holding its two-line bulk entry
    (action + source, '\\n'-joined). Entirely JVM-side."""
    action = F.to_json(
        F.struct(
            F.struct(
                F.lit(index_name).alias("_index"), F.col(id_col).alias("_id")
            ).alias("index")
        )
    )
    source = F.to_json(F.struct(*[F.col(c) for c in docs.columns]))
    return docs.select(F.concat_ws("\n", action, source).alias("line"))


def deletes_bulk_ndjson(keys: DataFrame, index_name: str = "nutch", id_col: str = "id") -> DataFrame:
    """Delete action lines (ElasticIndexWriter.delete:166-171)."""
    return keys.select(
        F.to_json(
            F.struct(
                F.struct(
                    F.lit(index_name).alias("_index"), F.col(id_col).alias("_id")
                ).alias("delete")
            )
        ).alias("line")
    )


def write_bulk_files(lines: DataFrame, path: str) -> None:
    """Distributed NDJSON shards, each directly POST-able to
    ``/_bulk`` — the file-sink twin of the live writer (air-gapped
    clusters index via exactly such shard files)."""
    lines.write.mode("overwrite").text(path)


def push_bulk_http(
    lines: DataFrame,
    endpoint: str,
    max_bulk_docs: int = BULK_MAX_DOCS,
    max_bulk_bytes: int = BULK_MAX_BYTES,
    timeout_sec: float = 30.0,
) -> None:
    """POST bulk batches to ``{endpoint}/_bulk`` from the executors.

    Flush policy mirrors ElasticIndexWriter.write:150-163: a batch
    flushes when it reaches ``max_bulk_docs`` entries or
    ``max_bulk_bytes`` payload bytes. A response with ``errors: true``
    raises (commit():196-205 — task retry then surfaces the failure).
    Transport is stdlib urllib so the sink has no dependency gate;
    swapping in an ES client library touches only this function.
    """

    def _send(batch: list[bytes], url: str) -> None:
        import json as _json
        import urllib.request

        body = b"".join(batch)
        req = urllib.request.Request(
            url,
            data=body,
            headers={"Content-Type": "application/x-ndjson"},
            method="POST",
        )
        with urllib.request.urlopen(req, timeout=timeout_sec) as resp:
            payload = _json.loads(resp.read() or b"{}")
        if payload.get("errors"):
            raise RuntimeError(f"bulk items failed: {payload}")

    url = endpoint.rstrip("/") + "/_bulk"

    def _push(part):
        batch: list[bytes] = []
        n_docs = 0
        n_bytes = 0
        for row in part:
            entry = (row["line"] + "\n").encode("utf-8")
            batch.append(entry)
            n_docs += 1
            n_bytes += len(entry)
            if n_docs >= max_bulk_docs or n_bytes >= max_bulk_bytes:
                _send(batch, url)
                batch, n_docs, n_bytes = [], 0, 0
        if batch:
            _send(batch, url)

    lines.foreachPartition(_push)


def build_jit_documents(
    parsed: DataFrame,
    batch_id: str,
    min_text_length: int = 200,
    prev_state: DataFrame | None = None,
) -> DataFrame:
    """JIT indexing (``fetch/indexer/JITIndexer.java``): documents
    built from the round's PARSED rows, inside the round, instead of a
    later IndexJob pass over the frontier (TaskScheduler.java:799-804
    produces an index task as soon as the parse mark lands).

    Same projection as :func:`build_index_documents` so the two paths
    are interchangeable downstream, with the JIT differences:

    - input is the parse stage output (rows carry this batch's fetch +
      parse columns), filtered to successful decodes;
    - the anchors field reflects inlinks known AT FETCH TIME — the
      round's own new inlinks land only in the later frontier state
      (true of the reference too: the JIT doc is written before
      updatedb);
    - JITIndexer.filter drops docs whose text content is shorter than
      ``indexer.minimal.text.length`` (default 200).
    """
    docs = parsed.filter(
        (F.col("parsed_batch") == batch_id)
        & F.col("decode_ok")
        & (F.length(F.coalesce(F.col("caption"), F.lit(""))) >= min_text_length)
    )
    # fetch-time inlink/reprUrl state rides the fetchlist, not the
    # parsed rows; absent -> empty anchors, null reprUrl
    if prev_state is not None:
        docs = docs.join(
            prev_state.select("url_hash", "inlinks", "repr_url"),
            on="url_hash",
            how="left",
        )
    else:
        docs = docs.withColumn(
            "inlinks",
            F.lit(None).cast("array<struct<url:string,anchor:string>>"),
        ).withColumn("repr_url", F.lit(None).cast("string"))
    from .rows import page_category_col

    _jit_ct = content_type_col(F.col("url"))
    _jit_category = page_category_col("url")
    return docs.select(
        F.col("url_hash").alias("id"),
        F.col("url"),
        F.col("host"),
        urls.domain_col(F.col("host")).alias("domain"),
        F.col("caption").alias("content"),
        F.col("image_id"),
        F.col("phash"),
        F.col("score").cast("double").alias("boost"),
        (F.col("fetch_ts") / 1000).cast("timestamp").alias("tstamp"),
        F.col("batch_id"),
        F.array_distinct(
            F.filter(
                F.transform(
                    F.coalesce(F.col("inlinks"), F.array()),
                    lambda s: s.getField("anchor"),
                ),
                lambda a: a.isNotNull() & (a != ""),
            )
        ).alias("anchors"),
        F.col("repr_url"),
        # index-more / index-metadata fields known AT FETCH TIME (same
        # default column set as build_index_documents so the two doc
        # streams stay interchangeable): modified-time and crawl
        # history live in the frontier, not the parsed rows, so the
        # JIT doc carries this round's fetch_ts as its crawl time and
        # no last-modified — the frontier IndexJob doc supersedes it
        _jit_ct.alias("content_type"),
        F.split_part(_jit_ct, F.lit("/"), F.lit(1)).alias("primary_type"),
        F.split_part(_jit_ct, F.lit("/"), F.lit(2)).alias("sub_type"),
        F.octet_length(F.coalesce(F.col("caption"), F.lit(""))).cast("long").alias(
            "content_length"
        ),
        F.lit(None).cast("long").alias("last_modified_ms"),
        F.col("fetch_ts").alias("first_crawl_time_ms"),
        F.col("fetch_ts").alias("last_crawl_time_ms"),
        F.col("fetch_ts").cast("string").alias("fetch_time_history"),
        _jit_category.alias("resource_category"),
        F.lit(None).cast("string").alias("site_name"),
    )


def with_lang_field(docs: DataFrame, text_col: str = "content") -> DataFrame:
    """language-identifier plugin (``plugin/language-identifier/.../
    LanguageIndexingFilter.java``): attach a ``lang`` field to every
    index document, identified from its text content. Uses the
    char-trigram profile scorer (operators/langid.py — itself
    oracle-checked by the ``langid`` driver query)."""
    from .langid import langid_trigram

    keyed = docs.withColumn("_lid", F.monotonically_increasing_id())
    langs = langid_trigram(
        keyed.select("_lid", F.coalesce(F.col(text_col), F.lit("")).alias("text")),
        id_col="_lid",
    ).select("_lid", F.col("lang_guess").alias("lang"))
    return keyed.join(langs, on="_lid", how="left").drop("_lid")


def to_solr_json(docs: DataFrame, id_col: str = "id") -> DataFrame:
    """One ``line`` per document in Solr's JSON update format (the
    public ``/update/json/docs`` protocol — one JSON doc per line;
    ``plugin/indexer-solr/.../SolrIndexWriter.java`` buffers
    SolrInputDocuments the same way the elastic writer buffers bulk
    entries). The same ``push_bulk_http`` transport posts these with
    the endpoint set to the Solr update handler."""
    _ = id_col  # Solr takes the uniqueKey from the doc body
    return docs.select(
        F.to_json(F.struct(*[F.col(c) for c in docs.columns])).alias("line")
    )


def build_clean_deletes(frontier: DataFrame) -> DataFrame:
    """(id, reason) of index documents to DELETE — the CleaningJob
    (``mapreduce/CleaningJob.java:80,103``: delete pages whose status
    is GONE or that an indexing-cleaning filter rejects; the bin/nutch
    help words it "remove HTTP 301 and 404 documents and duplicates"):

    - ``gone``: status GONE (404/robots-denied/permanent failures);
    - ``redirect``: permanently redirected pages (their content lives
      at the reprUrl target, the source id must leave the index);
    - ``duplicate``: FETCHED pages sharing a signature with an earlier
      canonical page (min url_hash per signature wins, the same
      keep-rule as the dedup family).

    One DataFrame in, delete actions out — feed
    :func:`deletes_bulk_ndjson` / :func:`push_bulk_http` for ES or any
    bulk-capable backend.
    """
    gone = frontier.filter(F.col("status") == CrawlStatus.GONE).select(
        F.col("url_hash").alias("id"), F.lit("gone").alias("reason")
    )
    redir = frontier.filter(
        F.col("status") == CrawlStatus.REDIR_PERM
    ).select(F.col("url_hash").alias("id"), F.lit("redirect").alias("reason"))
    from pyspark.sql import Window

    fetched = frontier.filter(
        (F.col("status") == CrawlStatus.FETCHED) & F.col("signature").isNotNull()
    )
    win = Window.partitionBy("signature").orderBy(F.asc("url_hash"))
    dups = (
        fetched.withColumn("_rn", F.row_number().over(win))
        .filter(F.col("_rn") > 1)
        .select(F.col("url_hash").alias("id"), F.lit("duplicate").alias("reason"))
    )
    return gone.unionByName(redir).unionByName(dups)


def solr_dedup_deletes(
    docs: DataFrame,
    id_col: str = "id",
    digest_col: str = "digest",
    boost_col: str = "boost",
    tstamp_col: str = "tstamp",
) -> DataFrame:
    """Index-deduplication deletes, the SolrDeleteDuplicates job
    (``mapreduce/SolrDeleteDuplicates.java:391-403``): documents are
    grouped by content digest; within a group the record with the
    HIGHEST boost survives, ties broken by the LATEST tstamp (the
    reference's reduce keeps iteration-first on a full tie — here the
    residual tie breaks deterministically on the smallest id). Every
    other group member becomes a deleteById action.

    Scale shape: one window over the digest partition (a single
    shuffle on the digest key); emit only rank > 1 — the delete set,
    never the kept set, leaves the stage.
    """
    from pyspark.sql import Window

    win = Window.partitionBy(digest_col).orderBy(
        F.desc(boost_col), F.desc(tstamp_col), F.asc(id_col)
    )
    return (
        docs.filter(F.col(digest_col).isNotNull())
        .withColumn("_rn", F.row_number().over(win))
        .filter(F.col("_rn") > 1)
        .select(
            F.col(id_col).alias("id"),
            F.lit("duplicate").alias("reason"),
            F.col(digest_col).alias("digest"),
        )
    )

"""Parse: decode fetched payloads, extract caption + outlinks, sign.

Reference mapping (SURVEY.md §2.5):
- X1 parser dispatch by contentType (``parse/ParseUtil.java:83-148``)
  -> a single decode over WNIM image bytes (the graft's only content
  type), :func:`decode_payloads`, called by the fetch pass on the
  payloads it renders (the reference fork parses inside the fetch
  reducer, ``TaskScheduler.java:777-835``);
- X2 outlink extraction (``parse/OutlinkExtractor.java``) -> outlinks
  already ride the fetch result (the protocol returns them, like DOM
  anchors); parse owns their post-processing;
- X3 outlink normalize/filter/dedup/limit (``ParseUtil.java:196-274``)
  -> pure built-ins: transform(canonicalize) + asset suffix filter
  (js/css/jpg/png/jpeg/gif, line 236) + array_distinct +
  slice(db.max.outlinks.per.page);
- X4 signature: md5 of raw content, fallback md5(url)
  (``crawl/MD5Signature.java:44-66``) -> ``F.md5`` on bytes; plus the
  image pHash per input_hint;
- PARSE_MARK gate: only rows fetched in this batch are parsed
  (``ParserMapper.java:121-130``).

The decode runs in the fetch pass, so the fetch artifact already holds
the parse columns and :func:`parse` runs no Python: it is one JVM-side
projection of the gated fetch rows.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import CrawlConfig
from ..functions import codec, urls
from ..functions.status import CrawlStatus

PARSE_FIELDS = [
    T.StructField("image_id", T.StringType()),
    T.StructField("caption", T.StringType()),
    T.StructField("phash", T.LongType()),
    T.StructField("w", T.IntegerType()),
    T.StructField("h", T.IntegerType()),
    T.StructField("fmt", T.StringType()),
    T.StructField("decode_ok", T.BooleanType()),
]

ASSET_SUFFIX_RE = r"\.(js|css|jpg|png|jpeg|gif)([?#].*)?$"


def process_outlinks_col(out_urls, cfg: CrawlConfig):
    """X3 outlink pipeline as one array expression (ParseUtil.java:
    196-274): canonicalize each raw URL, drop rejects (NULL) and asset
    suffixes, dedup preserving first occurrence, cap at
    db.max.outlinks.per.page. Pure built-ins — JVM-side, and the same
    logic is oracle-checked by the `outlink_normalize` driver query."""
    canon = F.transform(
        F.coalesce(out_urls, F.array().cast("array<string>")),
        lambda u: urls.canonicalize_col(u),
    )
    return F.slice(
        F.array_distinct(
            F.filter(canon, lambda u: u.isNotNull() & ~u.rlike(ASSET_SUFFIX_RE))
        ),
        1,
        cfg.max_outlinks_per_page,
    )


def decode_payloads(blobs) -> pd.DataFrame:
    """Decode payload blobs into the :data:`PARSE_FIELDS` columns, one
    row per blob in input order under a default index. A missing or
    corrupt blob (F12 analog) gives null columns and ``decode_ok =
    False``. The fetch pass calls this on the payloads it has just
    rendered, and crowd mode on the bytes its workers submitted: it is
    the only decode on the crawl path."""
    n = len(blobs)
    image_id = [None] * n
    caption = [None] * n
    phash = [None] * n
    ws = [None] * n
    hs = [None] * n
    fmts = [None] * n
    ok = [False] * n
    for i, blob in enumerate(blobs):
        if blob is None:
            continue
        try:
            px, cap, w, h, fmt = codec.decode_full(bytes(blob))
        except Exception:
            continue  # truncated/corrupt content (F12 analog)
        caption[i] = cap
        phash[i] = codec.phash(px)
        ws[i], hs[i], fmts[i] = w, h, fmt
        ok[i] = True
        if cap and cap.startswith("caption of "):
            image_id[i] = cap.split(" ")[2]
    return pd.DataFrame(
        {
            "image_id": pd.array(image_id, dtype="string"),
            "caption": pd.array(caption, dtype="string"),
            "phash": pd.array(phash, dtype="Int64"),
            "w": pd.array(ws, dtype="Int32"),
            "h": pd.array(hs, dtype="Int32"),
            "fmt": pd.array(fmts, dtype="string"),
            "decode_ok": ok,
        }
    )


def parse(
    fetch_results: DataFrame,
    cfg: CrawlConfig,
    batch_id: str,
) -> DataFrame:
    """Returns the gated fetch rows (decode columns included) +
    ``new_signature``, ``parsed_batch`` and processed ``outlinks``
    array<struct<url,anchor>>. Non-success rows pass through with null
    parse columns (their redirect outlinks still get processed)."""
    gated = fetch_results.filter(
        (F.col("batch_id") == batch_id) & F.col("fetched")
    )
    return gated.withColumns(
        {
            # X4 signature: md5(bytes) (NULL when no content — the old
            # `signature` column still holds the frontier's previous
            # value, which updatedb needs for the modified-state compare)
            "new_signature": F.when(
                F.col("bytes").isNotNull(), F.md5(F.col("bytes"))
            ).otherwise(F.lit(None).cast("string")),
            # X3 outlink pipeline
            "outlinks": F.transform(
                process_outlinks_col(F.col("out_urls"), cfg),
                lambda u: F.struct(u.alias("url"), F.lit("").alias("anchor")),
            ),
            "parsed_batch": F.lit(batch_id),
        }
    )


def payload_rows(parsed: DataFrame) -> DataFrame:
    """Project the input_hint payload table (image_id, bytes, w, h,
    fmt, caption, phash) from parsed rows — dedup by image_id (the
    dup-content fixture maps two URLs to one payload)."""
    return (
        parsed.filter(F.col("decode_ok") & (F.col("new_status") == CrawlStatus.FETCHED))
        .select("image_id", "bytes", "w", "h", "fmt", "caption", "phash")
        .dropDuplicates(["image_id"])
    )

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

The fetch pass does all of it: its Python call decodes each payload,
and its JVM response projection (``fetch.fetch_result``) adds the X3
and X4 columns, :func:`parsed_cols`, to every fetched row. The fetch
artifact is therefore the parsed row, and :func:`parse` is only the
PARSE_MARK gate over it. The round's parse stage writes no artifact:
its ``data`` directory links the fetch artifact's part files.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import schema
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

#: the columns :func:`parsed_cols` adds to a fetch result, null on a
#: row the round did not fetch
PARSED_FIELDS = [
    T.StructField("new_signature", T.StringType()),
    T.StructField("outlinks", T.ArrayType(schema.OUTLINK)),
    T.StructField("parsed_batch", T.StringType()),
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


def parsed_cols(fetched: Column, cfg: CrawlConfig, batch_id: str) -> list[Column]:
    """The :data:`PARSED_FIELDS` columns of a fetch result, set on the
    rows where ``fetched`` holds (only a fetched row has ``bytes``). A
    fetched row without content still gets its outlinks processed (a
    redirect's target)."""
    return [
        # X4 signature: md5(bytes) (NULL when no content — the old
        # `signature` column still holds the frontier's previous
        # value, which updatedb needs for the modified-state compare)
        F.when(F.col("bytes").isNotNull(), F.md5(F.col("bytes"))).alias("new_signature"),
        # X3 outlink pipeline
        F.when(fetched, F.transform(
            process_outlinks_col(F.col("out_urls"), cfg),
            lambda u: F.struct(u.alias("url"), F.lit("").alias("anchor")),
        )).alias("outlinks"),
        F.when(fetched, F.lit(batch_id)).alias("parsed_batch"),
    ]


def parse(fetch_results: DataFrame, cfg: CrawlConfig, batch_id: str) -> DataFrame:
    """The PARSE_MARK gate: the rows of ``fetch_results`` fetched in
    batch ``batch_id``. A fetch result already carries every parse
    column (:data:`PARSE_FIELDS`, :data:`PARSED_FIELDS`, built with
    ``cfg`` by the fetch pass); non-success rows pass with null decode
    columns."""
    return fetch_results.filter((F.col("batch_id") == batch_id) & F.col("fetched"))


def payload_rows(parsed: DataFrame) -> DataFrame:
    """Project the input_hint payload table (image_id, bytes, w, h,
    fmt, caption, phash) from parsed rows — dedup by image_id (the
    dup-content fixture maps two URLs to one payload)."""
    return (
        parsed.filter(F.col("decode_ok") & (F.col("new_status") == CrawlStatus.FETCHED))
        .select("image_id", "bytes", "w", "h", "fmt", "caption", "phash")
        .dropDuplicates(["image_id"])
    )

"""Table schemas (FIXTURES.md shapes; frontier derives from the
reference's WebPage Avro record ``src/gora/webpage.avsc`` — see
SURVEY.md §1.2 for the field-by-field mapping).

``url_hash`` is SHA1 hex (string, 40 chars) rather than binary: hex
strings join/compare identically across Spark, parquet stats, and the
DuckDB oracle, and parquet dictionary-encodes them well.
"""

from __future__ import annotations

from pyspark.sql import types as T

OUTLINK = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("anchor", T.StringType()),
    ]
)

PROTOCOL_STATUS = T.StructType(
    [
        T.StructField("code", T.IntegerType()),
        T.StructField("args", T.ArrayType(T.StringType())),
        T.StructField("last_modified", T.LongType()),
    ]
)

FRONTIER = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("url_hash", T.StringType(), False),
        T.StructField("host", T.StringType()),
        T.StructField("host_bucket", T.IntegerType()),
        T.StructField("status", T.IntegerType()),
        T.StructField("fetch_time", T.LongType()),
        T.StructField("prev_fetch_time", T.LongType()),
        T.StructField("modified_time", T.LongType()),
        T.StructField("prev_modified_time", T.LongType()),
        T.StructField("fetch_interval", T.IntegerType()),
        T.StructField("retries_since_fetch", T.IntegerType()),
        T.StructField("score", T.FloatType()),
        T.StructField("cash", T.FloatType()),
        T.StructField("distance", T.IntegerType()),
        T.StructField("priority", T.IntegerType()),
        T.StructField("batch_id", T.StringType()),
        T.StructField("generated_batch", T.StringType()),
        T.StructField("fetched_batch", T.StringType()),
        T.StructField("parsed_batch", T.StringType()),
        T.StructField("updated_batch", T.StringType()),
        T.StructField("signature", T.StringType()),
        T.StructField("prev_signature", T.StringType()),
        T.StructField("protocol_status", PROTOCOL_STATUS),
        T.StructField("outlinks", T.ArrayType(OUTLINK)),
        # representative URL chosen on redirects (webpage.avsc reprUrl,
        # util/URLUtil.chooseRepr); null unless the row ever redirected
        T.StructField("repr_url", T.StringType()),
        # capped inlink (url, anchor) state (webpage.avsc inlinks map,
        # ReduceDatumBuilder inlink handling); feeds index-anchor
        T.StructField("inlinks", T.ArrayType(OUTLINK)),
        T.StructField("image_id", T.StringType()),
        T.StructField("caption", T.StringType()),
        T.StructField("phash", T.LongType()),
        T.StructField("is_seed", T.BooleanType()),
    ]
)

#: the payload slice each parse stage writes to ``payloads/<batch_id>``
#: (``operators/parse.py::payload_rows``)
PAYLOADS = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType()),
        T.StructField("w", T.IntegerType()),
        T.StructField("h", T.IntegerType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("caption", T.StringType()),
        T.StructField("phash", T.LongType()),
    ]
)

#: the cumulative host table each fetch stage writes to
#: ``rounds/<batch_id>/fetch/hosts`` (``plans/round.py``): failure
#: strikes and fetch time per host
HOSTS = T.StructType(
    [
        T.StructField("host", T.StringType()),
        T.StructField("failures", T.LongType()),
        T.StructField("total_duration_ms", T.LongType()),
        T.StructField("fetch_count", T.LongType()),
    ]
)

METRICS = T.StructType(
    [
        T.StructField("batch_id", T.StringType()),
        T.StructField("stage", T.StringType()),
        T.StructField("counter", T.StringType()),
        T.StructField("value", T.LongType()),
    ]
)

"""All fixed StructType schemas — declared once, never inferred.

(``BASELINE.json:15`` input_hint fixes the corpus schema verbatim;
SURVEY.md §1.2 fixes the frontier / seen / robots / budget / lineage
schemas.)
"""

from __future__ import annotations

from pyspark.sql import types as T

# Authoritative corpus schema (BASELINE.json:15 input_hint)
CORPUS = T.StructType(
    [
        T.StructField("image_id", T.StringType()),
        T.StructField("bytes", T.BinaryType()),
        T.StructField("w", T.IntegerType()),
        T.StructField("h", T.IntegerType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("caption", T.StringType()),
        T.StructField("phash", T.LongType()),
    ]
)

FRONTIER = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("url_canon", T.StringType()),
        T.StructField("url_hash", T.LongType()),
        T.StructField("host", T.StringType()),
        T.StructField("depth", T.IntegerType()),
        T.StructField("discovery_time", T.TimestampType()),
        T.StructField("discovery_seq", T.LongType()),
        T.StructField("relevance", T.DoubleType()),
        T.StructField("relevance_q", T.LongType()),
        T.StructField("parent_url", T.StringType()),
        T.StructField("round", T.IntegerType()),
        T.StructField("status", T.StringType()),
    ]
)

SEEN = T.StructType(
    [
        T.StructField("url_canon", T.StringType()),
        T.StructField("url_hash", T.LongType()),
    ]
)

ROBOTS = T.StructType(
    [
        T.StructField("host", T.StringType()),
        T.StructField("fetched_at", T.TimestampType()),
        T.StructField(
            "rules",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("prefix", T.StringType()),
                        T.StructField("allow", T.BooleanType()),
                    ]
                )
            ),
        ),
        T.StructField("crawl_delay", T.DoubleType()),
    ]
)

HOST_BUDGET = T.StructType(
    [
        T.StructField("host", T.StringType()),
        T.StructField("budget_per_round", T.IntegerType()),
    ]
)

# one fetch attempt, in trace order (the crawl-ordering artifact)
TRACE = T.StructType(
    [
        T.StructField("trace_seq", T.LongType()),
        T.StructField("round", T.IntegerType()),
        T.StructField("url_canon", T.StringType()),
        T.StructField("host", T.StringType()),
        T.StructField("depth", T.IntegerType()),
        T.StructField("relevance_q", T.LongType()),
        T.StructField("discovery_seq", T.LongType()),
        T.StructField("status", T.IntegerType()),
        T.StructField("image_id", T.StringType()),
    ]
)

# fetch UDF (U3) output = frontier row + page payload
FETCHED = T.StructType(
    FRONTIER.fields
    + [
        T.StructField("http_status", T.IntegerType()),
        T.StructField("out_links", T.ArrayType(T.StringType())),
        T.StructField("link_context", T.ArrayType(T.StringType())),
        T.StructField("image_id", T.StringType()),
        T.StructField("image_bytes", T.BinaryType()),
        T.StructField("img_w", T.IntegerType()),
        T.StructField("img_h", T.IntegerType()),
        T.StructField("img_fmt", T.StringType()),
        T.StructField("caption", T.StringType()),
        T.StructField("phash", T.LongType()),
    ]
)

LINEAGE = T.StructType(
    [
        T.StructField("round", T.IntegerType()),
        T.StructField("partition_id", T.IntegerType()),
        T.StructField("n_candidates", T.LongType()),
        T.StructField("n_dedup", T.LongType()),
        T.StructField("n_robots_blocked", T.LongType()),
        T.StructField("n_fetched", T.LongType()),
        T.StructField("n_errors", T.LongType()),
        T.StructField("wall_ms", T.LongType()),
        T.StructField("snapshot_id", T.LongType()),
    ]
)

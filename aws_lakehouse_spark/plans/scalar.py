"""Scalar-function query surface (SURVEY §2.8 F1-F16 + JSON).

Cross-engine gotchas handled here (each verified against DuckDB 1.0):
- double→int CAST rounds in DuckDB but truncates in Spark → always
  FLOOR explicitly on both sides;
- Spark ``dayofweek`` is 1=Sunday..7; DuckDB's is 0=Sunday..6 → the
  oracle adds 1;
- array indexing is 0-based ``getItem`` in Spark, 1-based in DuckDB;
- integer-returning date parts are BIGINT in DuckDB, INT in Spark →
  cast both sides to INTEGER.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

from aws_lakehouse_spark.catalog import load_table
from aws_lakehouse_spark.functions import (
    calendar_dim_parts,
    code_map,
    json_get,
    regex_extract,
    regex_replace_chain,
    to_date_fmt,
)
from aws_lakehouse_spark.registry import register


@register(
    "scalar_regex_extract",
    oracle="""
    SELECT doc_id,
           regexp_extract(text, '^([a-z]+)', 1) AS first_token,
           regexp_extract(text, '([a-z]+)$', 1) AS last_token
    FROM documents
    """,
    category="2.8 scalar",
    doc="F1 — regex capture-group extraction (ref "
    "noaa_ghcn_bronze_to_silver.py:70-72 path→partition parse).",
)
def scalar_regex_extract_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        regex_extract(F.col("text"), r"^([a-z]+)", 1).alias("first_token"),
        regex_extract(F.col("text"), r"([a-z]+)$", 1).alias("last_token"),
    )


@register(
    "scalar_regex_replace",
    oracle="""
    SELECT doc_id,
           regexp_replace(
               regexp_replace(text, 'value', 'VAL', 'g'),
               '\\s+', '_', 'g') AS normalized
    FROM documents
    """,
    category="2.8 scalar",
    doc="F2 — chained regexp_replace normalization (ref "
    "noaa_dimensions_bronze_to_silver.py:58-72 name stripping).",
)
def scalar_regex_replace_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        regex_replace_chain(
            F.col("text"), [("value", "VAL"), (r"\s+", "_")]
        ).alias("normalized"),
    )


@register(
    "scalar_rlike_match",
    oracle="""
    SELECT doc_id,
           regexp_matches(text, 'table.*join') AS has_table_join,
           regexp_matches(lang, '^(en|fr)$') AS is_latin_lang
    FROM documents
    """,
    category="2.8 scalar",
    doc="F3 — rlike boolean regex predicates (ref "
    "noaa_dimensions_bronze_to_silver.py:75,79,83 flag detection).",
)
def scalar_rlike_match_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.col("text").rlike("table.*join").alias("has_table_join"),
        F.col("lang").rlike("^(en|fr)$").alias("is_latin_lang"),
    )


@register(
    "scalar_when_otherwise_map",
    oracle="""
    SELECT o_orderkey,
           CASE o_orderpriority
               WHEN '1-URGENT' THEN 'Urgent'
               WHEN '2-HIGH' THEN 'High'
               WHEN '3-MEDIUM' THEN 'Medium'
               WHEN '4-NOT SPECIFIED' THEN 'Unspecified'
               ELSE o_orderpriority
           END AS priority_name
    FROM orders
    """,
    category="2.8 scalar",
    doc="F4 — when/otherwise code→name mapping with passthrough "
    "default (ref noaa_ghcn_silver_to_gold.py:58-66 element names).",
)
def scalar_when_otherwise_map_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        code_map(
            F.col("o_orderpriority"),
            {
                "1-URGENT": "Urgent",
                "2-HIGH": "High",
                "3-MEDIUM": "Medium",
                "4-NOT SPECIFIED": "Unspecified",
            },
        ).alias("priority_name"),
    )


@register(
    "scalar_isin_arith_normalize",
    oracle="""
    SELECT event_id, event_type,
           event_type IN ('purchase', 'signup') AS is_conversion,
           CASE WHEN event_type IN ('purchase', 'signup')
                THEN value / 10.0 ELSE value END AS value_norm
    FROM events
    """,
    category="2.8 scalar",
    doc="F5+F13 — isin predicate and conditional unit normalization "
    "(ref noaa_ghcn_silver_to_gold.py:91-93 tenths-°C → °C).",
)
def scalar_isin_arith_normalize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    is_conv = F.col("event_type").isin("purchase", "signup")
    return events.select(
        "event_id",
        "event_type",
        is_conv.alias("is_conversion"),
        F.when(is_conv, F.col("value") / 10.0)
        .otherwise(F.col("value"))
        .alias("value_norm"),
    )


@register(
    "scalar_substring_split_trim",
    oracle="""
    SELECT doc_id,
           trim(substring(text, 1, 12)) AS prefix12,
           str_split(text, ' ')[1] AS tok0,
           str_split(text, ' ')[3] AS tok2,
           upper(lang) AS lang_uc,
           CAST(length(text) AS BIGINT) AS text_len
    FROM documents
    """,
    category="2.8 scalar",
    doc="F6+F7+F8 — fixed-width substring, split+ordinal index, trim "
    "(ref noaa_dimensions_bronze_to_silver.py:119-120,153,188-193). "
    "Spark getItem is 0-based; DuckDB lists are 1-based.",
)
def scalar_substring_split_trim_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    return docs.select(
        "doc_id",
        F.trim(F.substring(F.col("text"), 1, 12)).alias("prefix12"),
        toks.getItem(0).alias("tok0"),
        toks.getItem(2).alias("tok2"),
        F.upper(F.col("lang")).alias("lang_uc"),
        F.length(F.col("text")).cast("bigint").alias("text_len"),
    )


@register(
    "scalar_to_date_fmt",
    oracle="""
    SELECT o_orderkey,
           strftime(o_orderdate, '%Y%m%d') AS date_str,
           CAST(strptime(strftime(o_orderdate, '%Y%m%d'), '%Y%m%d')
                AS DATE) AS parsed_date
    FROM orders
    """,
    category="2.8 scalar",
    doc="F9 — yyyyMMdd round-trip through to_date (ref "
    "noaa_ghcn_bronze_to_silver.py:79).",
)
def scalar_to_date_fmt_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    date_str = F.date_format(F.col("o_orderdate"), "yyyyMMdd")
    return orders.select(
        "o_orderkey",
        date_str.alias("date_str"),
        to_date_fmt(date_str).alias("parsed_date"),
    )


@register(
    "scalar_calendar_dim_parts",
    oracle="""
    SELECT DISTINCT CAST(o_orderdate AS DATE) AS d,
           CAST(year(o_orderdate) AS INTEGER) AS year,
           CAST(month(o_orderdate) AS INTEGER) AS month,
           CAST(day(o_orderdate) AS INTEGER) AS day,
           CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS day_of_week,
           CAST(dayofyear(o_orderdate) AS INTEGER) AS day_of_year,
           CAST(quarter(o_orderdate) AS INTEGER) AS quarter,
           CAST(weekofyear(o_orderdate) AS INTEGER) AS week_of_year
    FROM orders
    """,
    category="2.8 scalar",
    doc="F10+F11 — calendar dimension attribute derivation (ref "
    "noaa_ghcn_silver_to_gold.py:70-79 dim_date). Spark dayofweek is "
    "1=Sunday; DuckDB's is 0=Sunday, oracle compensates.",
)
def scalar_calendar_dim_parts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    parts = calendar_dim_parts(d)
    return orders.select(d.alias("d"), *[c.alias(n) for n, c in parts.items()]).distinct()


@register(
    "scalar_cast_types",
    oracle="""
    SELECT l_orderkey,
           CAST(l_linenumber AS BIGINT) AS line_no_big,
           CAST(l_orderkey AS VARCHAR) AS orderkey_str,
           CAST(FLOOR(l_quantity) AS BIGINT) AS qty_floor,
           CAST(l_shipdate AS DATE) AS ship_date
    FROM lineitem
    """,
    category="2.8 scalar",
    doc="F12 — explicit type casts (ref "
    "noaa_ghcn_bronze_to_silver.py:79,81). double→int goes through "
    "FLOOR because DuckDB CAST rounds while Spark truncates.",
)
def scalar_cast_types_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        F.col("l_linenumber").cast("bigint").alias("line_no_big"),
        F.col("l_orderkey").cast("string").alias("orderkey_str"),
        F.floor(F.col("l_quantity")).cast("bigint").alias("qty_floor"),
        F.col("l_shipdate").cast("date").alias("ship_date"),
    )


@register(
    "scalar_derived_metrics",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge,
           l_extendedprice / l_quantity AS unit_price
    FROM lineitem WHERE l_quantity > 0
    """,
    category="2.8 scalar",
    doc="F14 — derived fact metrics (ref README.md:348,382-383 "
    "trip_duration/fare_per_mile shape: products and guarded "
    "division).",
)
def scalar_derived_metrics_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 0)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (
            F.col("l_extendedprice")
            * (1 - F.col("l_discount"))
            * (1 + F.col("l_tax"))
        ).alias("charge"),
        (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price"),
    )


@register(
    "scalar_null_empty_logic",
    oracle="""
    SELECT event_id,
           props IS NOT NULL AND props <> '' AS has_props,
           nullif(event_type, 'error') AS type_or_null,
           coalesce(nullif(event_type, 'error'), 'UNKNOWN') AS type_coalesced
    FROM events
    """,
    category="2.8 scalar",
    doc="F16 — null/empty three-valued logic with nullif/coalesce "
    "(ref noaa_ghcn_bronze_to_silver.py:87-89).",
)
def scalar_null_empty_logic_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return events.select(
        "event_id",
        (F.col("props").isNotNull() & (F.col("props") != "")).alias("has_props"),
        F.nullif(F.col("event_type"), F.lit("error")).alias("type_or_null"),
        F.coalesce(
            F.nullif(F.col("event_type"), F.lit("error")), F.lit("UNKNOWN")
        ).alias("type_coalesced"),
    )


@register(
    "scalar_json_get",
    oracle="""
    SELECT event_id,
           json_extract_string(props, '$.k') AS k_str,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
    FROM events
    """,
    category="2.8 scalar (JSON extension)",
    doc="JSON path extraction from string column (engine extension; "
    "events.props fixture — SURVEY §2.8 tail note).",
)
def scalar_json_get_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    k = json_get(F.col("props"), "$.k")
    return events.select(
        "event_id",
        k.alias("k_str"),
        k.cast("bigint").alias("k_val"),
    )


@register(
    "scalar_hash_fns",
    oracle="""
    SELECT doc_id, md5(text) AS md5_hex, sha256(text) AS sha256_hex
    FROM documents
    """,
    category="2.8 scalar",
    doc="Engine extension — cryptographic digests (identical hex "
    "output both engines; basis for the dedup fingerprints).",
)
def scalar_hash_fns_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.md5(F.col("text")).alias("md5_hex"),
        F.sha2(F.col("text"), 256).alias("sha256_hex"),
    )


@register(
    "scalar_input_file_name",
    # absolute paths are machine-specific, but the provenance FACTS
    # are not: every row's path ends in the table's file name, and the
    # per-file counts must sum to the table count — certify those
    oracle="""
    SELECT 'lineitem.parquet' AS file_leaf,
           TRUE AS all_rows_attributed,
           COUNT(*) AS n_rows
    FROM lineitem
    """,
    category="2.8 scalar",
    doc="F15 — provenance column from the scanned file path (ref "
    "noaa_ghcn_bronze_to_silver.py:67): the path itself is "
    "machine-specific, so the oracle certifies the invariant facts — "
    "the basename of every source file, that every row carries a "
    "non-null provenance path with that basename, and that per-file "
    "row counts sum back to the table count.",
)
def scalar_input_file_name_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    per_file = (
        li.withColumn("source_file", F.input_file_name())
        .groupBy("source_file")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    return per_file.agg(
        F.max(F.element_at(F.split("source_file", "/"), -1)).alias(
            "file_leaf"
        ),
        F.min(
            F.col("source_file").isNotNull()
            & F.col("source_file").endswith("lineitem.parquet")
        ).alias("all_rows_attributed"),
        F.sum("n_rows").alias("n_rows"),
    )


@register(
    "scalar_json_struct_agg",
    oracle="""
    SELECT event_type,
           CAST(FLOOR(CAST(json_extract_string(props, '$.k') AS BIGINT)
                / 10) AS INTEGER) AS k_decile,
           COUNT(*) AS n_events,
           ROUND(AVG(value), 4) AS avg_value
    FROM events
    GROUP BY event_type, k_decile
    ORDER BY event_type, k_decile
    """,
    category="2.8 scalar (JSON extension)",
    doc="Schema'd JSON parse (from_json into struct<k:bigint>) "
    "feeding a grouped aggregate — the typed-parse path (single "
    "parse per row, pruned to the referenced field) vs the "
    "per-path string extraction of scalar_json_get.",
)
def scalar_json_struct_agg_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    parsed = events.withColumn("p", F.from_json("props", "k BIGINT"))
    return (
        parsed.groupBy(
            "event_type",
            F.floor(F.col("p.k") / 10).cast("int").alias("k_decile"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg("value"), 4).alias("avg_value"),
        )
        .orderBy("event_type", "k_decile")
    )


@register(
    "scalar_variant_json",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
               AS BIGINT) AS sum_k,
           MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50
    GROUP BY event_type
    ORDER BY event_type
    """,
    category="2.8 scalar (VARIANT extension)",
    doc="Spark 4 VARIANT ingestion of semi-structured data: props "
    "parsed once into the binary VARIANT encoding (parse_json), "
    "fields typed out with variant_get — the open-table-format "
    "answer to schema-on-read JSON at scale (VARIANT decodes ~an "
    "order of magnitude faster than repeated JSON string parsing "
    "and is the Parquet/Iceberg/Delta shredded-variant storage "
    "type). Filter + aggregate on the extracted field; oracle via "
    "DuckDB JSON path extraction.",
)
def scalar_variant_json_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    # try_parse_json, not parse_json: one malformed props record
    # (ingest truncation, an empty string) must cost one NULL, not
    # the stage — parse_json is FAILFAST under the driver session
    k = F.variant_get(
        F.try_parse_json(F.col("props")), "$.k", "bigint"
    )
    return (
        events.select("event_type", k.alias("k"))
        .filter(F.col("k") >= 50)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


@register(
    "scalar_try_functions",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_discount = 0 THEN NULL
                ELSE ROUND(l_extendedprice / l_discount, 4) END
             AS price_per_discount,
           TRY_CAST(CASE WHEN l_linenumber % 2 = 0
                         THEN CAST(l_orderkey AS VARCHAR)
                         ELSE l_returnflag END AS BIGINT) AS maybe_int
    FROM lineitem
    WHERE l_orderkey <= 5000
    """,
    category="2.8 scalar (error-safe extension)",
    doc="Error-safe scalar family: try_divide (NULL on zero divisor, "
    "never a job-killing ArithmeticException) and try_cast (NULL on "
    "malformed input) — the ingestion posture for dirty data, where "
    "one bad record must cost one NULL, not the stage. Oracle via "
    "CASE guards and TRY_CAST; a free-text column cast to "
    "BIGINT/DATE yields NULL on both engines.",
)
def scalar_try_functions_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") <= 5000
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(
            F.try_divide(F.col("l_extendedprice"), F.col("l_discount")), 4
        ).alias("price_per_discount"),
        F.expr(
            "try_cast(CASE WHEN l_linenumber % 2 = 0 "
            "THEN CAST(l_orderkey AS STRING) "
            "ELSE l_returnflag END AS BIGINT)"
        ).alias("maybe_int"),
    )


@register(
    "scalar_bitwise_family",
    oracle="""
    SELECT event_id,
           event_id & 255 AS low_byte,
           event_id | 4096 AS with_flag,
           xor(event_id, user_id) AS xor_key,
           CAST(event_id % 16 AS BIGINT) << 2 AS shifted,
           CAST(bit_count(CAST(event_id AS BIGINT)) AS INTEGER)
             AS popcount
    FROM events
    WHERE event_id < 2000
    """,
    category="2.8 scalar (bitwise extension)",
    doc="Bitwise operator family: AND/OR/XOR/shift/popcount over "
    "integer keys — the flag-field and hash-mixing arithmetic that "
    "backs bucketing, bitmap filters, and the engine's own SimHash "
    "tier. Pure scan-side; identical two's-complement semantics on "
    "both engines.",
)
def scalar_bitwise_family_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    return ev.select(
        "event_id",
        F.col("event_id").bitwiseAND(F.lit(255)).alias("low_byte"),
        F.col("event_id").bitwiseOR(F.lit(4096)).alias("with_flag"),
        F.col("event_id").bitwiseXOR(F.col("user_id")).alias("xor_key"),
        F.shiftleft(F.col("event_id") % 16, 2).alias("shifted"),
        F.bit_count(F.col("event_id")).cast("int").alias("popcount"),
    )


@register(
    "scalar_url_family",
    oracle="""
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'http' ELSE 'https' END AS proto,
           'www.site' || (doc_id % 5) || '.example.com' AS host,
           '/a/b' || (doc_id % 7) AS path,
           CASE WHEN doc_id % 2 = 0
                THEN 'q=term' || (doc_id % 3) || '&page=' || (doc_id % 4)
                END AS query,
           CASE WHEN doc_id % 2 = 0 THEN CAST(doc_id % 4 AS VARCHAR)
                END AS page_param,
           CASE WHEN doc_id % 3 = 0 THEN 'frag' || (doc_id % 6)
                END AS frag
    FROM documents
    ORDER BY doc_id
    """,
    category="2.6 scalar functions (url family)",
    doc="URL component extraction via Spark's built-in parse_url "
    "(PROTOCOL/HOST/PATH/QUERY/REF plus keyed QUERY lookup) over "
    "deterministically planted URLs with optional query strings and "
    "fragments — the crawl-metadata scalar family a web-corpus "
    "pipeline leans on next to canonicalization "
    "(text_url_canonical_dedup). Missing components surface as NULL "
    "(absent '?'/'#' sections), exercised on odd/non-%3 ids. Oracle "
    "reconstructs each planted component directly, so a green row "
    "proves the parser inverts the construction exactly. Pure "
    "scan-side projection, no shuffle.",
)
def scalar_url_family_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("http")).otherwise(
            F.lit("https")
        ),
        F.lit("://www.site"),
        (F.col("doc_id") % 5).cast("string"),
        F.lit(".example.com/a/b"),
        (F.col("doc_id") % 7).cast("string"),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(
                F.lit("?q=term"),
                (F.col("doc_id") % 3).cast("string"),
                F.lit("&page="),
                (F.col("doc_id") % 4).cast("string"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit("#frag"), (F.col("doc_id") % 6).cast("string")),
        ).otherwise(F.lit("")),
    )
    with_url = docs.select("doc_id", url.alias("url"))
    return with_url.select(
        "doc_id",
        F.parse_url("url", F.lit("PROTOCOL")).alias("proto"),
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.parse_url("url", F.lit("PATH")).alias("path"),
        F.parse_url("url", F.lit("QUERY")).alias("query"),
        F.parse_url("url", F.lit("QUERY"), F.lit("page")).alias("page_param"),
        F.parse_url("url", F.lit("REF")).alias("frag"),
    ).orderBy("doc_id")


@register(
    "scalar_map_family",
    oracle="""
    SELECT user_id,
           CAST(COUNT(DISTINCT event_type) AS INTEGER) AS n_types,
           CAST(COUNT(*) FILTER (event_type = 'click') AS BIGINT)
             AS n_click,
           CAST(COUNT(*) FILTER (event_type = 'purchase') AS BIGINT)
             AS n_purchase,
           COALESCE(CAST(COUNT(*) FILTER (event_type = 'refund')
             AS BIGINT), 0) AS n_refund
    FROM events
    GROUP BY user_id
    """,
    category="2.8 scalar functions (map family)",
    doc="Map-typed column construction and lookup: per-user "
    "event-type counts packed into a MAP via map_from_entries over "
    "collect_list(struct), then probed with element_at (NULL-safe "
    "for absent keys — 'refund' never occurs), sized with size/"
    "map_keys. The map stays a real Catalyst MapType end-to-end; the "
    "oracle checks the same facts via conditional aggregation, so "
    "the gate proves construction+lookup round-trips losslessly. "
    "Scale: one keyed shuffle; per-user maps bounded by the "
    "event-type vocabulary.",
)
def scalar_map_family_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_type = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    mapped = per_type.groupBy("user_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("event_type", "n"))
        ).alias("m")
    )
    return mapped.select(
        "user_id",
        F.size(F.map_keys(F.col("m"))).cast("int").alias("n_types"),
        F.coalesce(F.element_at("m", F.lit("click")), F.lit(0))
        .cast("bigint")
        .alias("n_click"),
        F.coalesce(F.element_at("m", F.lit("purchase")), F.lit(0))
        .cast("bigint")
        .alias("n_purchase"),
        F.coalesce(F.element_at("m", F.lit("refund")), F.lit(0))
        .cast("bigint")
        .alias("n_refund"),
    )


@register(
    "source_python_udtf_sentences",
    oracle="""
    WITH sel AS (
        SELECT doc_id, str_split(text, '. ') AS sents
        FROM documents WHERE doc_id % 7 = 0
    )
    SELECT doc_id,
           CAST(i - 1 AS INTEGER) AS sent_idx,
           sents[i] AS sentence,
           CAST(strlen(sents[i]) AS INTEGER) AS n_chars
    FROM sel, LATERAL (SELECT unnest(range(1, len(sents) + 1)) AS i)
    """,
    category="2.11 UDF/UDAF/UDTF surface",
    doc="Python UDTF (PySpark 4 table function API): a "
    "sentence-splitter UDTF lateral-joined against documents — one "
    "input row yields one output row per sentence, the API shape "
    "for structured expansion logic too procedural for a built-in "
    "generator. Registered via spark.udtf.register and invoked with "
    "SQL LATERAL. This is deliberately the API-coverage demo for "
    "SURVEY 2.11, NOT a hot-path pattern: UDTFs run row-at-a-time "
    "Python, so the input is a pruned 2-column slice of a keyed "
    "subset, and the equivalent vectorized form (split + posexplode, "
    "used by text_chunk_documents) remains the recommendation at "
    "volume.",
)
def source_python_udtf_sentences_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql.functions import udtf

    @udtf(returnType="sent_idx int, sentence string, n_chars int")
    class SentenceSplit:
        def eval(self, text: str):
            if text is None:
                return
            for i, s in enumerate(text.split(". ")):
                yield i, s, len(s)

    spark.udtf.register("lh_sentence_split", SentenceSplit)
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 7 == 0
    )
    docs.select("doc_id", "text").createOrReplaceTempView(
        "lh_udtf_docs"
    )
    return spark.sql(
        """
        SELECT d.doc_id, s.sent_idx, s.sentence, s.n_chars
        FROM lh_udtf_docs d,
             LATERAL lh_sentence_split(d.text) s
        """
    )


# Series -> scalar hints make this a grouped-aggregate pandas UDF; the
# hints resolve against this module's pandas import, and a DataType
# (not a DDL string) keeps import free of any Spark session
@pandas_udf(DoubleType())
def _geomean(v: pd.Series) -> float:
    return float(np.exp(np.log(v.to_numpy()).mean()))


@register(
    "udaf_grouped_geomean",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(exp(AVG(ln(o_totalprice))), 4) AS geomean_price
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    category="2.11 UDF/UDAF/UDTF surface",
    doc="Grouped-aggregate Pandas UDF (the UDAF face of SURVEY "
    "2.11): geometric mean of order value per priority, computed "
    "vectorized over Arrow-shipped group batches (numpy log/mean/"
    "exp — never row-at-a-time Python). The oracle states the "
    "log-space identity exp(avg(ln x)); the Spark side computes the "
    "same identity inside the UDAF so both engines share the "
    "floating-point path. Note the honest scale caveat: GROUPED_AGG "
    "materializes each group on one executor (no partial "
    "aggregation), so the built-in exp(avg(ln)) composition — also "
    "shown here feeding the same result — is the hot-path form; the "
    "UDAF exists for aggregations with no built-in decomposition.",
)
def udaf_grouped_geomean_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    # a GROUPED_AGG pandas UDF cannot share an agg() with JVM
    # aggregates (INVALID_PANDAS_UDF_PLACEMENT) — the count comes
    # from its own grouped aggregate, joined back on the 5-row key
    counts = orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    geo = orders.groupBy("o_orderpriority").agg(
        F.round(_geomean("o_totalprice"), 4).alias("geomean_price")
    )
    return counts.join(geo, "o_orderpriority").orderBy("o_orderpriority")


@register(
    "scalar_math_family",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ROUND(sqrt(l_quantity), 6) AS sqrt_qty,
           ROUND(ln(l_extendedprice), 6) AS ln_price,
           ROUND(log10(l_extendedprice), 6) AS log10_price,
           ROUND(exp(l_discount), 6) AS exp_disc,
           ROUND(pow(1.0 + l_discount, 3), 6) AS compound3,
           ROUND(sin(radians(l_quantity)), 6) AS sin_qty,
           ROUND(cos(radians(l_quantity)), 6) AS cos_qty,
           ROUND(atan2(l_quantity, l_extendedprice / 1000), 6)
             AS atan2_qp,
           CAST(sign(l_quantity - 25) AS BIGINT) AS sign_qty,
           CAST(FLOOR(l_extendedprice / 1000) AS BIGINT) AS price_kbin,
           CAST(CEIL(l_quantity / 7.0) AS BIGINT) AS qty_week
    FROM lineitem
    WHERE l_orderkey < 200
    """,
    category="2.6 functions (F-math)",
    doc="Transcendental + rounding math scalar family (sqrt/ln/log10/"
    "exp/pow/sin/cos/atan2/sign/floor/ceil) over a pushed-down key "
    "slice — the derived-feature arithmetic of any metric or ML "
    "feature pipeline, all JVM-side whole-stage-codegen expressions. "
    "Transcendentals are rounded to 6 dp on BOTH engines before "
    "hashing: libm results may differ in the final ulp across "
    "implementations, so the contract pins the comparable precision "
    "(the hash-match discipline's float rule).",
)
def scalar_math_family_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") < 200
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.sqrt("l_quantity"), 6).alias("sqrt_qty"),
        F.round(F.log("l_extendedprice"), 6).alias("ln_price"),
        F.round(F.log10("l_extendedprice"), 6).alias("log10_price"),
        F.round(F.exp("l_discount"), 6).alias("exp_disc"),
        F.round(F.pow(F.lit(1.0) + F.col("l_discount"), 3), 6).alias(
            "compound3"
        ),
        F.round(F.sin(F.radians("l_quantity")), 6).alias("sin_qty"),
        F.round(F.cos(F.radians("l_quantity")), 6).alias("cos_qty"),
        F.round(
            F.atan2(F.col("l_quantity"), F.col("l_extendedprice") / 1000), 6
        ).alias("atan2_qp"),
        F.signum(F.col("l_quantity") - 25).cast("bigint").alias("sign_qty"),
        F.floor(F.col("l_extendedprice") / 1000)
        .cast("bigint")
        .alias("price_kbin"),
        F.ceil(F.col("l_quantity") / 7.0).cast("bigint").alias("qty_week"),
    )


@register(
    "scalar_interval_family",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderdate AS DATE) AS d,
           CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE)
             AS plus_3_months,
           CAST(CAST(o_orderdate AS DATE) + INTERVAL 45 DAY AS DATE)
             AS plus_45_days,
           CAST(last_day(CAST(o_orderdate AS DATE)) AS DATE)
             AS month_end,
           CAST(date_trunc('quarter', CAST(o_orderdate AS DATE)) AS DATE)
             AS quarter_start,
           CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-01')
                AS BIGINT) AS days_to_cutoff
    FROM orders
    WHERE o_orderkey <= 500
    """,
    category="2.8 scalar functions (calendar intervals)",
    doc="Calendar-interval arithmetic family: month addition (with "
    "end-of-month clamping — Jan 31 + 1 month lands on Feb's last "
    "day on BOTH engines), fixed-day offsets, last_day, quarter "
    "truncation, and day-difference to a cutoff — the due-date / "
    "aging-bucket toolkit. Month arithmetic is where hand-rolled "
    "day-math goes wrong; the engines' clamping conventions agree "
    "and the oracle proves it. Pure scan-side projection over a "
    "pushed-down key slice.",
)
def scalar_interval_family_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return orders.filter(F.col("o_orderkey") <= 500).select(
        "o_orderkey",
        d.alias("d"),
        F.add_months(d, 3).alias("plus_3_months"),
        F.date_add(d, 45).alias("plus_45_days"),
        F.last_day(d).alias("month_end"),
        F.date_trunc("quarter", d).cast("date").alias("quarter_start"),
        F.datediff(F.lit("1998-12-01").cast("date"), d)
        .cast("bigint")
        .alias("days_to_cutoff"),
    )


@register(
    "scalar_collation_groupby",
    oracle="""
    WITH mixed AS (
        SELECT CASE CAST(c_custkey % 3 AS INTEGER)
                   WHEN 0 THEN upper(c_mktsegment)
                   WHEN 1 THEN lower(c_mktsegment)
                   ELSE c_mktsegment
               END AS seg,
               c_acctbal
        FROM customer
    )
    SELECT lower(seg) AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           ROUND(SUM(CAST(ROUND(c_acctbal * 100) AS HUGEINT))
                 / 100.0, 2) AS total_acctbal
    FROM mixed
    GROUP BY lower(seg)
    ORDER BY segment
    """,
    category="2.8 scalar functions (collations)",
    doc="Spark 4 collation-aware aggregation: segment labels arrive "
    "in inconsistent casing (a THIRD of rows upper-cased, a third "
    "lower — the classic multi-source ingest mess) and group "
    "correctly under the UTF8_LCASE collation WITHOUT a lowercase "
    "projection — the collation is a property of the comparison, "
    "so every operator downstream (joins, sorts, distinct) honors "
    "it consistently instead of each call-site remembering to "
    "lower(). The output key is normalized explicitly because the "
    "collation group's representative is first-seen "
    "(partition-order dependent). The oracle groups by lower() — "
    "identical partitions, independent mechanism. Exact "
    "integer-cent totals.",
)
def scalar_collation_groupby_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    seg = (
        F.when(
            (F.col("c_custkey") % 3) == 0, F.upper("c_mktsegment")
        )
        .when((F.col("c_custkey") % 3) == 1, F.lower("c_mktsegment"))
        .otherwise(F.col("c_mktsegment"))
    )
    return (
        cust.select(seg.alias("seg"), "c_acctbal")
        .groupBy(F.collate(F.col("seg"), "UTF8_LCASE").alias("k"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.round(
                F.sum(
                    F.round(F.col("c_acctbal") * 100).cast("decimal(38,0)")
                )
                / 100.0,
                2,
            ).alias("total_acctbal"),
        )
        .select(
            F.lower(F.col("k")).alias("segment"),
            "n_customers",
            "total_acctbal",
        )
        .orderBy("segment")
    )

"""Scalar-function surface (SURVEY.md §2.8): string / date / math / JSON.

Covers the reference's scalar operations — id generation O20
(LogChange.cs:80-92), epoch-ms conversion O21, null/blank guards O22,
enum-as-string O27 — plus the general function families the engine exposes.
All built-in expressions: whole-stage codegen, no Python boundary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..logstore.ids import doc_id
from ..registry import register
from ..tables import table
from ._util import dec, ms, ts_lit


@register(
    "event_id_generation",
    oracle="""
    SELECT
      event_id,
      concat_ws('_',
        CASE WHEN user_id IS NOT NULL THEN CAST(user_id AS VARCHAR) ELSE 'NoUserId' END,
        CASE WHEN event_type IS NOT NULL AND trim(event_type) <> ''
             THEN event_type ELSE 'NoTrigger' END,
        CAST(epoch_ms(date_trunc('milliseconds', ts)) AS VARCHAR)
      ) AS doc_id,
      CASE WHEN json_valid(props)
           THEN TRY_CAST(props->>'$.k' AS BIGINT) END AS prop_k,
      epoch_ms(date_trunc('milliseconds', ts)) AS ts_ms
    FROM events
    WHERE user_id <= 20
    """,
)
def event_id_generation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O20-O22 parity: `{UserId}_{Trigger}_{epochMs}` document ids with the
    reference's null/blank fallbacks (LogChange.cs:80-85: NoUserId /
    NoTrigger), plus JSON payload extraction. The id is
    ``logstore.ids.doc_id`` with a NULL discriminator: the reference's
    ULID segment is random, so it is left out here and ``concat_ws``
    skips the NULL, keeping the id oracle-checkable."""
    ev = table(spark, sf_dir, "events").where(F.col("user_id") <= 20)
    return ev.select(
        "event_id",
        doc_id(
            F.col("user_id"),
            F.col("event_type"),
            F.col("ts"),
            discriminator=F.lit(None).cast("string"),
        ).alias("doc_id"),
        # try_cast: a non-scalar $.k (nested object — fuzz 5) must be NULL,
        # not an ANSI CAST_INVALID_INPUT (ANSI is the Spark 4 default)
        F.get_json_object("props", "$.k").try_cast("bigint").alias("prop_k"),
        F.unix_millis("ts").alias("ts_ms"),
    )


@register(
    "part_string_functions",
    oracle="""
    SELECT
      p_partkey,
      upper(p_type)                              AS type_upper,
      lower(p_brand)                             AS brand_lower,
      substr(p_name, 1, 12)                      AS name_prefix,
      length(p_name)                             AS name_len,
      replace(p_brand, 'Brand#', 'B')            AS brand_short,
      -- concat_ws, not concat (fuzz 10: NULL p_brand) — Spark's concat
      -- NULLs the whole result on any NULL arg while DuckDB's skips it;
      -- concat_ws has identical skip-NULL semantics on both engines
      concat_ws('/', p_brand, p_type)            AS brand_type,
      strpos(p_name, 'row')                      AS pos_row,
      trim(p_name)                               AS name_trimmed,
      lpad(CAST(p_size AS VARCHAR), 4, '0')      AS size_padded,
      CASE WHEN p_type LIKE 'PROMO%' THEN 1 ELSE 0 END AS is_promo
    FROM part
    """,
)
def part_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String family: case, substring, length, replace, concat, search,
    trim, pad, LIKE — all codegen'd JVM expressions."""
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_type").alias("type_upper"),
        F.lower("p_brand").alias("brand_lower"),
        F.substring("p_name", 1, 12).alias("name_prefix"),
        F.length("p_name").alias("name_len"),
        F.regexp_replace("p_brand", "Brand#", "B").alias("brand_short"),
        F.concat_ws("/", F.col("p_brand"), F.col("p_type")).alias("brand_type"),
        F.instr(F.col("p_name"), "row").alias("pos_row"),
        F.trim("p_name").alias("name_trimmed"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
        F.when(F.col("p_type").startswith("PROMO"), 1).otherwise(0).alias("is_promo"),
    )


@register(
    "order_date_functions",
    oracle="""
    SELECT
      o_orderkey,
      year(o_orderdate)                                  AS order_year,
      month(o_orderdate)                                 AS order_month,
      day(o_orderdate)                                   AS order_day,
      quarter(o_orderdate)                               AS order_quarter,
      epoch_ms(date_trunc('milliseconds', date_trunc('month', o_orderdate)))         AS month_start_ms,
      epoch_ms(date_trunc('milliseconds', CAST(last_day(o_orderdate) AS TIMESTAMP))) AS month_end_ms,
      -- +3 months on the DATE part (fuzz 11: a sub-day order timestamp):
      -- Spark's add_months returns a DATE (time-of-day dropped) while
      -- raw ts + INTERVAL keeps it — pin calendar-month arithmetic by
      -- casting to DATE first on both engines
      epoch_ms(date_trunc('milliseconds', CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS TIMESTAMP))) AS plus3m_ms,
      date_diff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS days_since_epoch_start
    FROM orders
    WHERE o_custkey <= 40
    """,
)
def order_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date family: extraction, truncation, month arithmetic (end-of-month
    clamping semantics match DuckDB's), day difference."""
    o = table(spark, sf_dir, "orders").where(F.col("o_custkey") <= 40)
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("order_year"),
        F.month("o_orderdate").cast("long").alias("order_month"),
        F.dayofmonth("o_orderdate").cast("long").alias("order_day"),
        F.quarter("o_orderdate").cast("long").alias("order_quarter"),
        ms(F.date_trunc("month", "o_orderdate")).alias("month_start_ms"),
        ms(F.last_day("o_orderdate")).alias("month_end_ms"),
        ms(F.add_months("o_orderdate", 3)).alias("plus3m_ms"),
        F.datediff(
            F.col("o_orderdate"), ts_lit("1995-01-01 00:00:00")
        ).cast("long").alias("days_since_epoch_start"),
    )


@register(
    "part_math_functions",
    oracle="""
    SELECT
      p_partkey,
      abs(p_size - 25)                                   AS size_dev,
      CAST(ceil(TRY_CAST(CASE WHEN isfinite(p_retailprice) THEN p_retailprice END AS DECIMAL(10,2))) AS BIGINT)  AS price_ceil,
      CAST(floor(TRY_CAST(CASE WHEN isfinite(p_retailprice) THEN p_retailprice END AS DECIMAL(10,2))) AS BIGINT) AS price_floor,
      -- sqrt domain pinned (fuzz 10: negative p_size) — Spark yields NaN
      -- where DuckDB hard-errors; out-of-domain is NULL on both engines
      round(sqrt(CASE WHEN p_size >= 0 THEN CAST(p_size AS DOUBLE) END), 6) AS size_sqrt,
      p_partkey % 7                                      AS key_mod7,
      greatest(p_size, 10)                               AS size_floor10,
      least(p_size, 40)                                  AS size_cap40,
      CAST(round(TRY_CAST(CASE WHEN isfinite(p_retailprice) THEN p_retailprice END AS DECIMAL(10,2)) * 2, 2) AS DOUBLE) AS price_x2
    FROM part
    """,
)
def part_math_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math family: abs/ceil/floor/sqrt/mod/greatest/least. sqrt is IEEE
    correctly-rounded (identical across engines); other FP ops avoided or
    decimal-exact."""
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.abs(F.col("p_size") - 25).alias("size_dev"),
        F.ceil(dec("p_retailprice")).cast("bigint").alias("price_ceil"),
        F.floor(dec("p_retailprice")).cast("bigint").alias("price_floor"),
        F.round(
            F.sqrt(F.when(F.col("p_size") >= 0, F.col("p_size").cast("double"))), 6
        ).alias("size_sqrt"),
        (F.col("p_partkey") % 7).alias("key_mod7"),
        F.greatest(F.col("p_size"), F.lit(10)).alias("size_floor10"),
        F.least(F.col("p_size"), F.lit(40)).alias("size_cap40"),
        F.round(dec("p_retailprice") * 2, 2).cast("double").alias("price_x2"),
    )


@register(
    "part_array_functions",
    oracle="""
    WITH t AS (
      SELECT p_partkey, string_split(p_name, ' ') AS words FROM part
    )
    SELECT
      p_partkey,
      len(words) AS n_words,
      array_to_string(list_sort(words), '|') AS sorted_words,
      CAST(list_contains(words, 'widget') AS INTEGER) AS has_widget,
      words[1] AS first_word,
      words[len(words)] AS last_word,
      array_to_string(list_transform(words, w -> upper(w)), ' ') AS upper_name,
      list_sort(words)[1] AS min_word
    FROM t
    """,
)
def part_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array scalar-function surface (SURVEY.md §2.8): split, size, sort,
    contains, element_at (head/tail), transform, array_min — the
    higher-order-function family the dedup/text operators build on,
    exercised standalone. All JVM expressions inside one codegen stage."""
    p = table(spark, sf_dir, "part")
    words = F.split("p_name", " ")
    t = p.select("p_partkey", words.alias("words"))
    return t.select(
        "p_partkey",
        F.size("words").cast("bigint").alias("n_words"),
        F.array_join(F.array_sort("words"), "|").alias("sorted_words"),
        F.array_contains("words", "widget").cast("int").alias("has_widget"),
        F.element_at("words", 1).alias("first_word"),
        F.element_at("words", -1).alias("last_word"),
        F.array_join(F.transform("words", lambda w: F.upper(w)), " ").alias(
            "upper_name"
        ),
        F.array_min("words").alias("min_word"),
    )


@register(
    "events_map_functions",
    oracle="""
    SELECT
      event_type,
      count(*) AS n_events,
      map(['type', 'bucket'],
          [event_type, CASE WHEN (isfinite(value) AND abs(value) < 1e16) AND value >= 50
                  THEN 'high' ELSE 'low' END]
         )['bucket'][1] AS value_bucket
    FROM events
    GROUP BY 1, 3
    """,
)
def events_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map scalar-function surface: create_map + element access feeding a
    grouping key (the remaining §2.8 container type). The map is
    constant-shaped so Catalyst simplifies the lookup to the CASE value —
    zero runtime map allocation after optimization."""
    ev = table(spark, sf_dir, "events")
    m = F.create_map(
        F.lit("type"),
        F.col("event_type"),
        F.lit("bucket"),
        F.when(F.col("value") >= 50, "high").otherwise("low"),
    )
    return (
        ev.select("event_type", m.getItem("bucket").alias("value_bucket"))
        .groupBy("event_type", "value_bucket")
        .agg(F.count("*").alias("n_events"))
        .select("event_type", "n_events", "value_bucket")
    )


@register(
    "events_xml_inspection",
    oracle="""
    SELECT event_id, user_id,
           -- from_xml trims XML whitespace around element text (fuzz 6:
           -- ' click '), so the round-trip normalizes — mirror it
           trim(coalesce(event_type, ''),
                ' ' || chr(9) || chr(10) || chr(13)) AS event_type,
           epoch_ms(date_trunc('milliseconds', ts)) AS ts_ms
    FROM events
    WHERE user_id <= 50
    """,
)
def events_xml_inspection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O28: XML payload inspection (the reference stores XmlDocument
    OuterXml as its payload, LogChange.cs:104; the engine treats stored
    payloads as opaque text but CAN look inside). Each event synthesizes
    the reference-style XML document, then ``from_xml`` parses it back
    into typed fields — the oracle emits the ORIGINAL columns, so any
    parse/typing defect (element order, whitespace, numeric coercion)
    breaks the hash compare. Both synthesis and parse are built-in
    expressions: one narrow projection, no UDF, no shuffle."""
    ev = table(spark, sf_dir, "events").where(F.col("user_id") <= 50)
    xml = F.concat(
        F.lit("<log><user>"),
        F.col("user_id"),
        F.lit("</user><type>"),
        # NULL type would null the whole concat; a missing field is an
        # EMPTY ELEMENT, which from_xml parses back as '' — the oracle
        # coalesces to '' to mirror the round trip
        F.coalesce(F.col("event_type"), F.lit("")),
        F.lit("</type><ts>"),
        # NULL ts (fuzz 6) would likewise null the concat; the empty
        # element parses back as NULL BIGINT, matching epoch_ms(date_trunc('milliseconds', NULL))
        F.coalesce(F.unix_millis("ts").cast("string"), F.lit("")),
        F.lit("</ts></log>"),
    )
    parsed = F.from_xml(xml, "user BIGINT, type STRING, ts BIGINT")
    return ev.select("event_id", parsed.alias("p")).select(
        "event_id",
        F.col("p.user").alias("user_id"),
        F.col("p.type").alias("event_type"),
        F.col("p.ts").alias("ts_ms"),
    )

"""Tier-X scalar function surface (SURVEY.md §2.2, X19-X23).

String, date/time, math, array (higher-order), and JSON functions — all
JVM-side ``pyspark.sql.functions`` so every expression stays inside
whole-stage codegen; no Python UDFs anywhere on this path.

Cross-engine notes (Spark vs the DuckDB oracle):
- ``ceil``/``floor`` return BIGINT in Spark but DOUBLE in DuckDB — both
  sides cast to BIGINT explicitly.
- day-of-week numbering differs between engines — avoided; ``year/month/
  day/quarter`` agree.
- array elements are float32 in parquet; both sides cast to double
  *before* reducing so the accumulation precision matches, and results are
  rounded identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gasket_rs_spark import keys
from gasket_rs_spark.grid import snap
from gasket_rs_spark.tables import load


def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lower/upper/substr/length/concat/split/regexp/replace/trim/position."""
    return (
        load(spark, sf_dir, "part")
        .select(
            "p_partkey",
            F.lower("p_name").alias("name_lower"),
            F.upper("p_brand").alias("brand_upper"),
            F.substring("p_name", 1, 4).alias("name_pre4"),
            F.length("p_name").alias("name_len"),
            F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
            F.size(keys.tokens("p_name")).cast("bigint").alias("n_words"),
            F.regexp_extract("p_name", "([a-z]+)$", 1).alias("last_word"),
            F.regexp_replace("p_type", "[AEIOU]", "_").alias("type_devoweled"),
            F.instr("p_name", "e").cast("bigint").alias("first_e"),
            F.trim(F.lpad("p_brand", 12, " ")).alias("brand_trim"),
        )
    )


def q_datetime_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """extract / trunc / diff / interval arithmetic over order dates."""
    return (
        load(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            F.year("o_orderdate").cast("bigint").alias("yr"),
            F.month("o_orderdate").cast("bigint").alias("mo"),
            F.dayofmonth("o_orderdate").cast("bigint").alias("dy"),
            F.quarter("o_orderdate").cast("bigint").alias("qtr"),
            F.date_trunc("month", "o_orderdate").alias("month_start"),
            F.datediff(F.lit("2000-01-01").cast("date"), F.col("o_orderdate").cast("date"))
            .cast("bigint")
            .alias("days_to_y2k"),
            (F.col("o_orderdate") + F.expr("INTERVAL 1 MONTH")).alias("plus_1m"),
        )
    )


def q_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """round/abs/ceil/floor/sqrt/ln/power/mod over lineitem."""
    return (
        load(spark, sf_dir, "lineitem")
        .select(
            "l_orderkey",
            "l_linenumber",
            F.round("l_extendedprice", 1).alias("price_r1"),
            F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
            F.ceil("l_quantity").cast("bigint").alias("qty_ceil"),
            F.floor("l_quantity").cast("bigint").alias("qty_floor"),
            F.round(F.sqrt("l_extendedprice"), 6).alias("price_sqrt"),
            F.round(F.log("l_extendedprice"), 6).alias("price_ln"),
            F.round(F.pow("l_quantity", F.lit(2.0)), 2).alias("qty_sq"),
            (F.col("l_linenumber") % 3).alias("ln_mod3"),
            F.col("l_quantity").cast("int").alias("qty_int"),
        )
    )


def q_decimal_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact fixed-point aggregation (X21's decimal surface): prices cast
    to DECIMAL(12,2), summed exactly (no float summation-order drift —
    the reason money columns are decimal at any scale), then the exact
    decimal converted to double only for the cross-engine compare. The
    half-up vs half-even cast difference between engines cannot bite:
    a double is never exactly on a .005 tie."""
    return (
        load(spark, sf_dir, "lineitem")
        .withColumn("price_dec", F.col("l_extendedprice").cast("decimal(12,2)"))
        .groupBy("l_returnflag")
        .agg(
            F.sum("price_dec").alias("sum_dec"),
            F.count("*").alias("n"),
        )
        .select(
            "l_returnflag",
            F.col("sum_dec").cast("double").alias("sum_price"),
            # avg via double on the exact sum: decimal DIVISION scale
            # rules are engine-specific, so divide after the exact part
            snap(
                F.col("sum_dec").cast("double") / F.col("n"), 1000000
            ).alias("avg_price"),
            "n",
        )
    )


def q_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """size / element access / higher-order reduce over embedding vectors.

    ``F.aggregate`` (fold) and ``F.transform`` run as Catalyst higher-order
    functions — JVM-side, no UDF — so this scales like any projection.
    """
    emb = load(spark, sf_dir, "embeddings")
    as_double = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    sum_expr = F.aggregate(as_double, F.lit(0.0), lambda acc, x: acc + x)
    sumsq_expr = F.aggregate(as_double, F.lit(0.0), lambda acc, x: acc + x * x)
    return emb.select(
        "vec_id",
        F.size("embedding").cast("bigint").alias("dim"),
        F.round(F.element_at(as_double, 1), 6).alias("first_elem"),
        F.round(sum_expr, 4).alias("vec_sum"),
        F.round(F.sqrt(sumsq_expr), 4).alias("vec_norm"),
        F.round(F.array_max(as_double), 6).alias("vec_max"),
    )


def q_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array manipulation depth: sort / slice / contains / position /
    distinct-count over tokenized text (arrays built in-plan)."""
    docs = load(spark, sf_dir, "documents")
    toks = keys.tokens()
    sorted_toks = F.array_sort(toks)
    return docs.select(
        "doc_id",
        F.element_at(sorted_toks, 1).alias("first_sorted"),
        F.element_at(sorted_toks, -1).alias("last_sorted"),
        F.array_join(F.slice(toks, 1, 3), " ").alias("first3"),
        F.array_contains(toks, "the").alias("has_the"),
        F.array_position(toks, "the").cast("bigint").alias("the_pos"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_uniq"),
    )


def q_json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction from the events.props payload column.

    ``from_json`` with a 1-field schema instead of
    ``get_json_object($.k).cast(bigint)``: the filter on the derived
    column is pushed below the projection, so the extraction expression
    runs up to 3x per row (twice in the pushed Filter condition, once in
    the Project) — schema-bound struct parsing is the cheaper expression
    to duplicate (r21 A/B at sf0.1: 0.75s vs 0.97s min, identical rows;
    guide §4.1 "prefer built-ins", §1.2 per-task work). Value-equivalent
    for this payload: props is always ``{"k": <int>}`` (FIXTURES.md), and
    both forms yield NULL on a missing/malformed field; equivalence is
    oracle-checked at all three SFs.
    """
    events = load(spark, sf_dir, "events")
    k_val = F.from_json("props", "k bigint").getField("k")
    return (
        events
        .select(
            "event_id",
            "event_type",
            k_val.alias("k_val"),
        )
        .where(F.col("k_val").isNotNull() & (F.col("k_val") >= 50))
    )


def q_string_advanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-tier string functions the basic witness doesn't cover:
    split_part (field extraction), translate (character mapping),
    regexp_count, reverse / repeat, left / right slicing — the
    log-parsing toolkit. Pure projection in whole-stage codegen over the
    customer dim; every function has a DuckDB twin (regexp_count is
    len(regexp_extract_all) there)."""
    customer = load(spark, sf_dir, "customer")
    return customer.select(
        "c_custkey",
        F.split_part(F.col("c_name"), F.lit("#"), F.lit(2)).alias("name_num"),
        F.translate(F.col("c_mktsegment"), "AEIOU", "aeiou").alias("seg_vowels"),
        F.regexp_count(F.col("c_name"), F.lit(r"[0-9]+")).alias("digit_runs"),
        F.reverse(F.col("c_mktsegment")).alias("seg_rev"),
        F.repeat(F.expr("left(c_mktsegment, 1)"), 3).alias("initial3"),
        F.expr("right(c_name, 4)").alias("name_tail"),
    )


def q_url_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL decomposition for web-corpus processing — the host/path/query
    extraction that feeds per-domain dedup, domain mixture weights and
    crawl analytics. Synthetic URLs are built from document attributes
    (the fixtures carry no URL column), then ``parse_url`` pulls HOST /
    PATH / QUERY and a parameter value back out, and
    ``url_decode(url_encode(payload))`` round trips a special-character
    payload — the decoded value must equal the raw payload the oracle
    computes directly (the encoded form itself is engine-specific
    form-encoding, so only the round trip is cross-engine comparable).
    The oracle recomputes every output straight
    from the source attributes, so each extraction must be exactly
    inverse to the construction. Per-row projection in whole-stage
    codegen + one hash agg on host."""
    docs = load(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://www."), F.col("source"), F.lit(".example.com/docs/"),
        F.col("doc_id").cast("string"), F.lit("?lang="), F.col("lang"),
        F.lit("&n="), F.col("n_chars").cast("string"),
    )
    payload = F.concat_ws(
        " & ", F.col("lang"), F.col("source"), F.col("doc_id").cast("string")
    )
    parsed = docs.select(
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY"), F.lit("lang")).alias("lang_param"),
        F.url_decode(F.url_encode(payload)).alias("payload_rt"),
        F.col("n_chars"),
    )
    return (
        parsed.groupBy("host", "lang_param")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("path").alias("first_path"),
            F.min("payload_rt").alias("first_payload"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
    )


def q_xml_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 XML support (the third semi-structured format beside JSON
    and VARIANT): order rows are serialized to ``<order>`` documents —
    the shape an XML feed ingests as — then ``from_xml`` with an explicit
    schema binds typed fields back out, and the witness aggregates the
    EXTRACTED values. The oracle recomputes the same aggregates straight
    from the source columns, so the serialize → parse → extract chain
    must be value-preserving (double formatting round trip included).
    Per-row projection + one hash agg; scan-bound, no extra shuffle."""
    orders = load(spark, sf_dir, "orders")
    xml = F.concat(
        F.lit("<order><k>"), F.col("o_orderkey").cast("string"),
        F.lit("</k><status>"), F.col("o_orderstatus"),
        F.lit("</status><total>"), F.col("o_totalprice").cast("string"),
        F.lit("</total></order>"),
    )
    parsed = orders.select(
        F.from_xml(xml, "k BIGINT, status STRING, total DOUBLE").alias("p")
    )
    return (
        parsed.groupBy(F.col("p.status").alias("status"))
        .agg(
            F.count("*").alias("n"),
            F.max("p.k").alias("max_key"),
            # 2dp-grid sum -> snap at the grid (q1 convention)
            snap(F.sum("p.total"), 100).alias("sum_total"),
        )
    )


def q_try_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-mode error-safe functions: Spark 4 runs ANSI SQL by default,
    so division by zero / numeric overflow / bad casts THROW unless the
    ``try_*`` family is used — the exact functions a production pipeline
    reaches for on dirty data. Each column mixes success and NULL rows:
    try_divide (zero denominators), try_cast (unparseable strings),
    try_add (int64 overflow), try_element_at (out-of-range index). The
    oracle reproduces the NULL semantics with CASE/TRY_CAST/list
    indexing — pure per-row projection, scan-bound, no shuffle."""
    li = load(spark, sf_dir, "lineitem").where((F.col("l_orderkey") % 7) == 0)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        snap(F.expr("try_divide(l_extendedprice, l_quantity - 24)"), 1000000).alias(
            "safe_ratio"
        ),
        F.expr(
            "try_cast(CASE WHEN l_quantity < 25"
            "  THEN concat('x', CAST(CAST(l_quantity AS INT) AS STRING))"
            "  ELSE CAST(CAST(l_quantity AS INT) AS STRING) END AS INT)"
        ).alias("parsed_qty"),
        F.expr("try_add(l_orderkey, 9223372036854775807)").alias("add_overflow"),
        F.expr(
            "try_element_at(array(l_quantity, l_extendedprice), CAST(l_linenumber AS INT))"
        ).alias("arr_at"),
    )


def q_json_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT path for semi-structured payloads: parse_json →
    open-schema binary variant → typed variant_get extraction + agg.
    Unlike from_json (fixed schema declared up front), variant columns
    keep the full document and bind types at ACCESS time — the
    shred-on-read model for evolving event payloads; at 100 TB the
    variant binary encoding also scans faster than re-parsing JSON text
    per access. Values are pinned EXACT against DuckDB's JSON extraction
    (same documents, same typed accesses)."""
    events = load(spark, sf_dir, "events")
    v = F.parse_json("props")
    return (
        events.select(
            "event_type",
            F.variant_get(v, "$.k", "bigint").alias("k"),
        )
        .where(F.col("k").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


def q_json_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """from_json → typed struct column → field access + struct building
    (the schema-on-read path for semi-structured payload columns)."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    events = load(spark, sf_dir, "events")
    schema = StructType([StructField("k", IntegerType())])
    parsed = events.withColumn("p", F.from_json("props", schema))
    return (
        parsed.select(
            "event_id",
            F.col("p.k").alias("k"),
            F.struct(
                F.col("event_type").alias("typ"), F.col("p.k").alias("kk")
            ).alias("nested"),
        )
        .where(F.col("k").isNotNull())
        .select(
            "event_id",
            "k",
            F.col("nested.typ").alias("typ"),
            (F.col("nested.kk") * 2).cast("bigint").alias("k2"),
        )
    )


def q_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame over event-time: per user, sum of values in the
    trailing 10 minutes (event-time range, not row count)."""
    from pyspark.sql import Window

    events = load(spark, sf_dir, "events").withColumn(
        "ts_sec", F.expr("unix_millis(ts) div 1000")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_sec")
        .rangeBetween(-600, Window.currentRow)
    )
    return events.select(
        "event_id",
        "user_id",
        "ts_sec",
        snap(F.sum("value").over(w), 10000).alias("sum_10min"),
        F.count("*").over(w).alias("n_10min"),
    )


def q_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface: build a map in-plan, then keys/size/element_at.

    Output stays scalar (map-derived values) because map *rendering*
    differs between engines' client layers even when semantics agree.
    """
    events = load(spark, sf_dir, "events")
    m = F.create_map(
        F.lit("type"), F.col("event_type"),
        F.lit("k"), F.get_json_object("props", "$.k"),
    )
    return events.select(
        "event_id",
        F.element_at(m, "type").alias("m_type"),
        F.element_at(m, "k").cast("bigint").alias("m_k"),
        F.size(m).cast("bigint").alias("m_size"),
        F.array_join(F.array_sort(F.map_keys(m)), ",").alias("m_keys"),
    )


def q_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode_outer: rows with empty arrays survive with a NULL element
    (the OutputMap/splitter edge case — R6/R7 null path)."""
    docs = load(spark, sf_dir, "documents")
    rare = F.filter(keys.tokens(), lambda t: t.startswith("v"))
    ex = docs.select("doc_id", F.explode_outer(rare).alias("vtoken"))
    return ex.groupBy("doc_id").agg(
        F.count("*").alias("n_rows"),
        F.count("vtoken").alias("n_tokens"),
    )


ORACLES: dict[str, str] = {
    "string_advanced": """
        SELECT c_custkey,
               split_part(c_name, '#', 2) AS name_num,
               translate(c_mktsegment, 'AEIOU', 'aeiou') AS seg_vowels,
               CAST(len(regexp_extract_all(c_name, '[0-9]+')) AS INT)
                 AS digit_runs,
               reverse(c_mktsegment) AS seg_rev,
               repeat(left(c_mktsegment, 1), 3) AS initial3,
               right(c_name, 4) AS name_tail
        FROM customer
    """,
    "url_parse": """
        SELECT 'www.' || source || '.example.com' AS host,
               lang AS lang_param,
               count(*) AS n_docs,
               -- string min, matching Spark's lexicographic min over PATH
               min('/docs/' || CAST(doc_id AS VARCHAR)) AS first_path,
               -- Spark side computes url_decode(url_encode(payload)); the
               -- round trip must reproduce the raw payload exactly
               min(lang || ' & ' || source || ' & ' || CAST(doc_id AS VARCHAR))
                   AS first_payload,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM documents
        GROUP BY 1, 2
    """,
    "xml_extract": """
        SELECT o_orderstatus AS status,
               count(*) AS n,
               max(o_orderkey) AS max_key,
               floor(sum(o_totalprice) * 100 + 0.5) / 100 AS sum_total
        FROM orders
        GROUP BY o_orderstatus
    """,
    "try_functions": """
        SELECT l_orderkey, l_linenumber,
               CASE WHEN l_quantity = 24 THEN NULL
                    ELSE floor(l_extendedprice / (l_quantity - 24)
                               * 1000000 + 0.5) / 1000000 END AS safe_ratio,
               TRY_CAST(CASE WHEN l_quantity < 25
                             THEN 'x' || CAST(CAST(l_quantity AS INT) AS VARCHAR)
                             ELSE CAST(CAST(l_quantity AS INT) AS VARCHAR) END
                        AS INT) AS parsed_qty,
               -- int64 overflow iff l_orderkey > 0 (keys are >= 0;
               -- orderkey 0 legitimately sums to INT64_MAX)
               CASE WHEN l_orderkey = 0 THEN 9223372036854775807
                    ELSE CAST(NULL AS BIGINT) END AS add_overflow,
               ([l_quantity, l_extendedprice])[l_linenumber] AS arr_at
        FROM lineitem
        WHERE l_orderkey % 7 = 0
    """,
    "decimal_agg": """
        WITH t AS (
            SELECT l_returnflag,
                   sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS sum_dec,
                   count(*) AS n
            FROM lineitem
            GROUP BY l_returnflag
        )
        SELECT l_returnflag,
               CAST(sum_dec AS DOUBLE) AS sum_price,
               floor(CAST(sum_dec AS DOUBLE) / n * 1000000 + 0.5) / 1000000 AS avg_price,
               n
        FROM t
    """,
    "map_funcs": """
        SELECT event_id,
               event_type AS m_type,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS m_k,
               CAST(2 AS BIGINT) AS m_size,
               'k,type' AS m_keys
        FROM events
    """,
    "explode_outer": """
        SELECT doc_id, count(*) AS n_rows, count(u.vtoken) AS n_tokens
        FROM documents t
        LEFT JOIN LATERAL unnest(list_filter(string_split(t.text, ' '),
                                             x -> x LIKE 'v%')) u(vtoken) ON true
        GROUP BY doc_id
    """,
    "json_struct": """
        SELECT event_id,
               CAST(json_extract_string(props, '$.k') AS INT) AS k,
               event_type AS typ,
               CAST(json_extract_string(props, '$.k') AS BIGINT) * 2 AS k2
        FROM events
        WHERE json_extract_string(props, '$.k') IS NOT NULL
    """,
    "window_range_frame": """
        SELECT event_id, user_id,
               epoch_ms(ts) // 1000 AS ts_sec,
               floor(sum(value) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts) // 1000
                     RANGE BETWEEN 600 PRECEDING AND CURRENT ROW) * 10000 + 0.5) / 10000 AS sum_10min,
               count(*) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts) // 1000
                     RANGE BETWEEN 600 PRECEDING AND CURRENT ROW) AS n_10min
        FROM events
    """,
    "string_funcs": """
        SELECT p_partkey,
               lower(p_name) AS name_lower,
               upper(p_brand) AS brand_upper,
               substr(p_name, 1, 4) AS name_pre4,
               length(p_name) AS name_len,
               p_brand || '|' || p_type AS brand_type,
               len(string_split(p_name, ' ')) AS n_words,
               regexp_extract(p_name, '([a-z]+)$', 1) AS last_word,
               regexp_replace(p_type, '[AEIOU]', '_', 'g') AS type_devoweled,
               strpos(p_name, 'e') AS first_e,
               trim(lpad(p_brand, 12, ' ')) AS brand_trim
        FROM part
    """,
    "datetime_funcs": """
        SELECT o_orderkey,
               year(o_orderdate) AS yr,
               month(o_orderdate) AS mo,
               day(o_orderdate) AS dy,
               quarter(o_orderdate) AS qtr,
               CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
               date_diff('day', o_orderdate::DATE, DATE '2000-01-01') AS days_to_y2k,
               o_orderdate + INTERVAL 1 MONTH AS plus_1m
        FROM orders
    """,
    "math_funcs": """
        SELECT l_orderkey, l_linenumber,
               round(l_extendedprice, 1) AS price_r1,
               abs(l_discount - 0.05) AS disc_dev,
               CAST(ceil(l_quantity) AS BIGINT) AS qty_ceil,
               CAST(floor(l_quantity) AS BIGINT) AS qty_floor,
               round(sqrt(l_extendedprice), 6) AS price_sqrt,
               round(ln(l_extendedprice), 6) AS price_ln,
               round(pow(l_quantity, 2.0), 2) AS qty_sq,
               l_linenumber % 3 AS ln_mod3,
               CAST(l_quantity AS INT) AS qty_int
        FROM lineitem
    """,
    "array_funcs": """
        SELECT vec_id,
               CAST(len(embedding) AS BIGINT) AS dim,
               round(CAST(embedding[1] AS DOUBLE), 6) AS first_elem,
               round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE))), 4) AS vec_sum,
               round(sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS vec_norm,
               round(list_max(list_transform(embedding, x -> CAST(x AS DOUBLE))), 6) AS vec_max
        FROM embeddings
    """,
    "array_ops": """
        SELECT doc_id,
               list_sort(string_split(text, ' '))[1] AS first_sorted,
               list_sort(string_split(text, ' '))[-1] AS last_sorted,
               array_to_string(string_split(text, ' ')[1:3], ' ') AS first3,
               list_contains(string_split(text, ' '), 'the') AS has_the,
               CAST(coalesce(list_position(string_split(text, ' '), 'the'), 0) AS BIGINT) AS the_pos,
               CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_uniq
        FROM documents
    """,
    "json_variant": """
        SELECT event_type,
               count(*) AS n,
               CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
                 AS sum_k,
               min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
               max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        FROM events
        WHERE json_extract_string(props, '$.k') IS NOT NULL
        GROUP BY event_type
    """,
    "json_funcs": """
        SELECT event_id, event_type,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
        FROM events
        WHERE json_extract_string(props, '$.k') IS NOT NULL
          AND CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50
    """,
}

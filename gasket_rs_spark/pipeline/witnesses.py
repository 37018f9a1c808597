"""Tier-R operator witnesses (SURVEY §2.2 note: R5-R14 each get a
queries() entry) — every reference messaging/stage primitive expressed
through the DFPipeline layer and oracle-checked.

Naming: r{NN}_{primitive} mirrors the SURVEY §2.1 inventory rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gasket_rs_spark import keys
from gasket_rs_spark.grid import snap
from gasket_rs_spark.pipeline.dataframe_pipeline import DFPipeline, funnel, tee
from gasket_rs_spark.tables import load


def q_r05_mapper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R5 impl_mapper! (macros.rs:2-41): 1:1 payload transform."""
    pipe = DFPipeline().stage(
        "mapper",
        lambda df: df.select(
            "o_orderkey",
            (F.col("o_totalprice") * 1.1).alias("price_with_tax"),
            F.upper("o_orderstatus").alias("status_u"),
        ),
    )
    return pipe.build(load(spark, sf_dir, "orders"))


def q_r06_splitter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R6 impl_splitter! (macros.rs:44-85): 1:N flat-map — one doc row to
    one row per token."""
    pipe = DFPipeline().stage(
        "splitter",
        lambda df: df.select("doc_id", F.explode(keys.tokens()).alias("token")),
    ).stage(
        "count",
        lambda df: df.groupBy("doc_id").agg(F.count("*").alias("n_out")),
    )
    return pipe.build(load(spark, sf_dir, "documents"))


def q_r07_output_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R7 OutputMap (messaging.rs:255-274): map to Option, None dropped —
    fused project + filter."""
    pipe = DFPipeline().stage(
        "output_map",
        lambda df: df.select(
            "event_id",
            F.when(F.col("value") > 0, F.round(F.log("value"), 6)).alias("log_value"),
        ).where(F.col("log_value").isNotNull()),
    )
    return pipe.build(load(spark, sf_dir, "events"))


def q_r10_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R10 funnel_ports (messaging.rs:413-423): unordered N:1 merge of two
    typed streams into one consumer."""
    hi = load(spark, sf_dir, "orders").where(F.col("o_totalprice") > 200000).select(
        F.col("o_orderkey").alias("key"), F.lit("hi").alias("src")
    )
    lo = load(spark, sf_dir, "orders").where(F.col("o_totalprice") <= 50000).select(
        F.col("o_orderkey").alias("key"), F.lit("lo").alias("src")
    )
    merged = funnel(hi, lo)
    return merged.groupBy("src").agg(F.count("*").alias("n"))


def q_r11_broadcast_tee(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R11/R12 broadcast_port + Fanout (messaging.rs:425-436, 72-95): one
    producer feeding two consumers, both seeing every message; results
    funneled back for one output."""
    events = load(spark, sf_dir, "events")
    by_type, by_user = tee(
        events,
        lambda df: df.groupBy(F.col("event_type").alias("grp")).agg(
            F.count("*").alias("n"), snap(F.sum("value"), 10000).alias("sum_v")
        ),
        lambda df: df.groupBy(F.col("user_id").cast("string").alias("grp")).agg(
            F.count("*").alias("n"), snap(F.sum("value"), 10000).alias("sum_v")
        ),
    )
    return funnel(by_type, by_user)


def q_r13_timer_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R13 TimerPort (messaging.rs:151-209): interval ticks → event-time
    minute bucketing (rate-source analogue, batch-checkable form)."""
    events = load(spark, sf_dir, "events")
    return (
        events.groupBy(F.date_trunc("minute", "ts").alias("tick"))
        .agg(F.count("*").alias("n_events"))
    )


def q_r14_sink_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R14 SinkAdapter (messaging.rs:211-253): bounded sink keeping the
    oldest cap messages — deterministic via explicit arrival order."""
    events = load(spark, sf_dir, "events")
    return (
        events.orderBy("event_id")
        .limit(100)
        .select("event_id", "event_type", "value")
    )


ORACLES: dict[str, str] = {
    "r05_mapper": """
        SELECT o_orderkey,
               o_totalprice * 1.1 AS price_with_tax,
               upper(o_orderstatus) AS status_u
        FROM orders
    """,
    "r06_splitter": """
        SELECT doc_id, count(*) AS n_out
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
        GROUP BY doc_id
    """,
    "r07_output_map": """
        SELECT event_id, round(ln(value), 6) AS log_value
        FROM events
        WHERE value > 0 AND round(ln(value), 6) IS NOT NULL
    """,
    "r10_funnel": """
        SELECT src, count(*) AS n FROM (
            SELECT o_orderkey AS key, 'hi' AS src FROM orders WHERE o_totalprice > 200000
            UNION ALL
            SELECT o_orderkey AS key, 'lo' AS src FROM orders WHERE o_totalprice <= 50000
        ) t
        GROUP BY src
    """,
    "r11_broadcast_tee": """
        SELECT event_type AS grp, count(*) AS n, floor(sum(value) * 10000 + 0.5) / 10000 AS sum_v
        FROM events GROUP BY event_type
        UNION ALL
        SELECT CAST(user_id AS VARCHAR) AS grp, count(*) AS n, floor(sum(value) * 10000 + 0.5) / 10000 AS sum_v
        FROM events GROUP BY user_id
    """,
    "r13_timer_buckets": """
        SELECT date_trunc('minute', ts) AS tick, count(*) AS n_events
        FROM events
        GROUP BY 1
    """,
    "r14_sink_cap": """
        SELECT event_id, event_type, value
        FROM events
        ORDER BY event_id
        LIMIT 100
    """,
}

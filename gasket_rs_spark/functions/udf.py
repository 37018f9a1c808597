"""Pandas-UDF surface (SURVEY §2.2 X28) — the sanctioned Python escape
hatch: Arrow-batched, vectorized, never row-at-a-time.

Three shapes, each a query witness:
- scalar ``@pandas_udf`` (Series → Series): per-row math in numpy;
- grouped ``applyInPandas`` (DataFrame per group → DataFrame): per-group
  normalization — the UDAF-ish shape;
- both are oracle-checked: the fake workloads are plain arithmetic DuckDB
  can recompute, which pins the Arrow plumbing end-to-end (types, null
  handling, group boundaries), not just "it ran".
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from gasket_rs_spark.grid import snap, units
from gasket_rs_spark.tables import load


@pandas_udf(DoubleType())
def _scaled_log(v: pd.Series) -> pd.Series:
    import numpy as np

    # ln(1+x) spelled exactly as the oracle does (not log1p — different
    # ulp behavior), and floor-rounding (np.round is half-to-even while
    # SQL round is half-away; floor(x*1e6+0.5) is identical IEEE math in
    # both engines).
    x = np.log(1.0 + v.abs().to_numpy()) * 100.0
    return pd.Series(np.floor(x * 1e6 + 0.5) / 1e6)


def q_pandas_udf_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized scalar pandas UDF over events.value."""
    events = load(spark, sf_dir, "events")
    return events.select(
        "event_id",
        "value",
        _scaled_log(F.col("value")).alias("scaled_log"),
    )


_NORM_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_id", LongType()),
        StructField("event_type", StringType()),
        StructField("dev_from_min", DoubleType()),
    ]
)


def q_pandas_udf_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group transform via applyInPandas: deviation from the group
    minimum per user — each group arrives as one pandas DataFrame.

    Min (not mean) keeps the statistic summation-free: v - min is exact
    IEEE subtraction, identical in every engine, so the oracle check is
    bit-exact with no rounding at all.
    """
    events = load(spark, sf_dir, "events")

    def dev(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf["value"].to_numpy()
        return pd.DataFrame(
            {
                "user_id": pdf["user_id"],
                "event_id": pdf["event_id"],
                "event_type": pdf["event_type"],
                "dev_from_min": v - v.min(),
            }
        )

    return events.groupBy("user_id").applyInPandas(dev, _NORM_SCHEMA)


def q_asof_join_cogrouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join via COGROUPED applyInPandas — the X28 escape hatch for
    join semantics no built-in expresses: both sides group on user_id,
    each (purchases, clicks) group pair lands in one pandas call, and
    ``pd.merge_asof`` does the backward at-or-before match.

    Semantics pinned frame-equal to the JVM union+window q_asof_join
    (tests/test_udf_cogroup.py): clicks sorted by (ts_sec, click_id) so
    the tie among equal-timestamp clicks resolves to the max click_id,
    and exact-timestamp clicks match (allow_exact_matches) — both
    matching the window formulation's (ts, kind, id) ordering. Same
    one-shuffle-per-side cost shape as the JVM plan; the JVM version
    stays the production path (no Python workers in the hot loop).
    """
    events = load(spark, sf_dir, "events").withColumn(
        "ts_sec", F.expr("unix_millis(ts) div 1000")
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("ts_sec")
    )
    clicks = events.where(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts_sec")
    )

    def asof(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if not len(left):
            return pd.DataFrame(
                columns=["purchase_id", "user_id", "purchase_sec", "click_id", "click_sec"]
            )
        p = left.sort_values(["ts_sec", "purchase_id"]).rename(
            columns={"ts_sec": "purchase_sec"}
        )
        c = right.sort_values(["ts_sec", "click_id"]).rename(
            columns={"ts_sec": "click_sec"}
        )[["click_sec", "click_id"]]
        out = pd.merge_asof(
            p,
            c,
            left_on="purchase_sec",
            right_on="click_sec",
            direction="backward",
            allow_exact_matches=True,
        )
        # no-prior-click purchases match nothing: merge_asof leaves NaN,
        # which floats the int columns — nullable Int64 keeps them bigint
        out["click_id"] = out["click_id"].astype("Int64")
        out["click_sec"] = out["click_sec"].astype("Int64")
        return out[["purchase_id", "user_id", "purchase_sec", "click_id", "click_sec"]]

    return (
        purchases.groupBy("user_id")
        .cogroup(clicks.groupBy("user_id"))
        .applyInPandas(
            asof,
            "purchase_id bigint, user_id bigint, purchase_sec bigint, "
            "click_id bigint, click_sec bigint",
        )
    )


def q_text_bigrams_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4 table function) expanding each document into
    its positioned token bigrams via a LATERAL join — the one-row-in /
    many-rows-out Python shape that completes the UDF surface (scalar /
    grouped / cogrouped / stateful / table function).

    API witness: row-at-a-time Python is the slow path by design; the
    production n-gram expansion is the JVM shingle builder
    (operators/dedup._shingles). Value-checked against the DuckDB
    oracle, which pins the lateral-join plumbing (row correlation,
    ordering-free compare, empty-doc handling).
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos bigint, bigram string")
    class Bigrams:
        def eval(self, text: str):
            toks = text.split(" ")
            for i in range(len(toks) - 1):
                yield i, toks[i] + " " + toks[i + 1]

    spark.udtf.register("gasket_bigrams", Bigrams)
    from gasket_rs_spark.tables import load

    load(spark, sf_dir, "documents").createOrReplaceTempView("_udtf_docs")
    return spark.sql(
        "SELECT d.doc_id, t.pos, t.bigram FROM _udtf_docs d, LATERAL gasket_bigrams(d.text) t"
    )


def q_arrow_python_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-OPTIMIZED Python UDF (Spark 4 `useArrow=True`) — the third
    UDF execution mode next to row-pickled Python UDFs (never used here)
    and vectorized pandas UDFs: per-row Python semantics but Arrow-batch
    transfer, the right tool when logic is genuinely scalar (no vector
    form) yet serialization must not dominate. The witness applies a
    piecewise fee function no built-in expresses naturally, aggregated
    per status — oracle recomputes the same piecewise CASE in SQL."""
    from pyspark.sql.functions import udf

    @udf(returnType=DoubleType(), useArrow=True)
    def shipping_fee(total: float) -> float:
        if total is None:
            return 0.0
        if total < 50_000:
            return 25.0
        if total < 150_000:
            return round(total * 0.0004, 6)
        return 80.0

    orders = load(spark, sf_dir, "orders")
    return (
        orders.withColumn("fee", shipping_fee(F.col("o_totalprice")))
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            snap(F.sum("fee"), 10000).alias("total_fees"),
        )
    )


def q_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow — the RecordBatch-level escape hatch below mapInPandas
    (no pandas conversion at all; columnar pyarrow compute end to end).
    The kernel is deliberately per-row-pure (batch-dependent results
    would vary with partitioning): cents-rounded totals and a price-band
    tag via pyarrow.compute case_when/round, aggregated per band. The
    oracle recomputes the same bands in SQL."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def batches(it):
        for batch in it:
            total = batch.column("o_totalprice")
            band = pc.case_when(
                pc.make_struct(
                    pc.less(total, 100_000.0),
                    pc.less(total, 250_000.0),
                ),
                pa.scalar("low"),
                pa.scalar("mid"),
                pa.scalar("high"),
            )
            cents = pc.round(pc.multiply(total, 100.0), 0)
            yield pa.RecordBatch.from_arrays(
                [batch.column("o_orderkey"), band, cents],
                ["o_orderkey", "band", "cents"],
            )

    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    banded = orders.mapInArrow(batches, "o_orderkey bigint, band string, cents double")
    return banded.groupBy("band").agg(
        F.count("*").alias("n_orders"),
        units(F.sum("cents"), 1).alias("sum_cents"),
    )


from gasket_rs_spark.operators.relational import ORACLES as _RELATIONAL_ORACLES

ORACLES: dict[str, str] = {
    "arrow_python_udf": """
        WITH f AS (
            SELECT o_orderstatus,
                   CASE WHEN o_totalprice IS NULL THEN 0.0
                        WHEN o_totalprice < 50000 THEN 25.0
                        WHEN o_totalprice < 150000 THEN round(o_totalprice * 0.0004, 6)
                        ELSE 80.0 END AS fee
            FROM orders
        )
        SELECT o_orderstatus, count(*) AS n_orders,
               floor(sum(fee) * 10000 + 0.5) / 10000 AS total_fees
        FROM f
        GROUP BY o_orderstatus
    """,
    "map_in_arrow": """
        WITH b AS (
            SELECT CASE WHEN o_totalprice < 100000 THEN 'low'
                        WHEN o_totalprice < 250000 THEN 'mid'
                        ELSE 'high' END AS band,
                   round(o_totalprice * 100.0, 0) AS cents
            FROM orders
        )
        SELECT band, count(*) AS n_orders,
               CAST(floor(sum(cents) + 0.5) AS BIGINT) AS sum_cents
        FROM b
        GROUP BY band
    """,
    # same contract as the JVM as-of join -- one oracle serves both
    "asof_join_cogrouped": _RELATIONAL_ORACLES["asof_join"],
    "text_bigrams_udtf": """
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ), s AS (
            SELECT doc_id, toks,
                   unnest(generate_series(1, len(toks) - 1)) AS i
            FROM t
            WHERE len(toks) >= 2
        )
        SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
               toks[i] || ' ' || toks[i + 1] AS bigram
        FROM s
    """,
    "pandas_udf_scalar": """
        SELECT event_id, value,
               round(ln(1 + abs(value)) * 100.0, 6) AS scaled_log
        FROM events
    """,
    "pandas_udf_grouped": """
        SELECT user_id, event_id, event_type,
               value - min(value) OVER (PARTITION BY user_id) AS dev_from_min
        FROM events
    """,
}

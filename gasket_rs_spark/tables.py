"""Table catalog over the driver's synthetic parquet datasets.

Schemas documented in FIXTURES.md; loading is a plain parquet scan so
Catalyst gets predicate pushdown + column pruning for free (check
``.explain`` for PushedFilters / ReadSchema).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimension tables that should always be broadcast in joins against
# the fact tables (lineitem/orders/events). At 100 TB the facts grow ~SF
# but these stay tiny relative to executor memory.
DIM_TABLES = frozenset({"region", "nation", "customer", "supplier", "part"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table as a DataFrame (lazy parquet scan).

    ``events.ts`` has shipped in two physical encodings across fixture
    generations: TIMESTAMP(NANOS) (Spark 4 rejects by default — we read
    it as a nanosecond long and truncate to µs, exactly what DuckDB's
    reader does) and plain TIMESTAMP(MICROS) (reads as TIMESTAMP_NTZ).
    Both are normalized to session-TZ TimestampType (session tz is UTC,
    so the NTZ→TZ cast is value-preserving) so downstream ``unix_millis``
    arithmetic and the DuckDB oracle see identical values either way.
    """
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    if name == "events":
        # The µs-fixture path below casts TIMESTAMP_NTZ -> TimestampType,
        # which reinterprets the wall-clock in the SESSION time zone; it is
        # value-preserving only under UTC. A user-constructed session with
        # a local tz would silently shift every events-based result, so
        # fail loudly instead (gasket_rs_spark.session.get_session sets
        # UTC; plain SparkSession users must do the same).
        tz = spark.conf.get("spark.sql.session.timeZone")
        if tz not in ("UTC", "Etc/UTC", "GMT", "Z", "+00:00"):
            raise RuntimeError(
                f"events requires spark.sql.session.timeZone=UTC (got {tz!r}); "
                "use gasket_rs_spark.session.get_session() or set the conf"
            )
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        return df.withColumn("ts", _normalize_ts(df.schema["ts"].dataType))
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def events_with_sec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``events`` plus ``ts_sec``, its epoch seconds truncated toward zero
    (``div``) — the spelling of the oracles' ``epoch_ms(ts) // 1000``,
    which also truncates, so the two agree before 1970 as well."""
    return load(spark, sf_dir, "events").withColumn(
        "ts_sec", F.expr("unix_millis(ts) div 1000")
    )


def _normalize_ts(dtype) -> F.Column:
    from pyspark.sql.types import LongType

    if isinstance(dtype, LongType):  # nanos-as-long fixture generation
        return F.timestamp_micros(F.expr("ts div 1000"))
    return F.col("ts").cast("timestamp")  # µs fixture generation (NTZ → UTC)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for spark.sql() queries."""
    for name in TABLE_NAMES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)

"""Data-profiling operators — the inspection utilities an ingestion
pipeline runs before/after every batch (null counts, cardinalities,
ranges, histograms). All single-pass: the per-column profile computes
every column's stats in ONE wide aggregation over a single table scan,
then unpivots (`stack`) to the stable row-per-column shape — at 100 TB
an N-column profile must not cost N scans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gasket_rs_spark.grid import units
from gasket_rs_spark.tables import load


def profile_columns(df: DataFrame, columns: list[str]) -> DataFrame:
    """One profile row per column: nulls, distincts, min/max as strings
    (stringly-typed so heterogeneous columns stack in one DataFrame).

    Single scan: all per-column stats are computed in one wide ``agg``
    (the multiple count-distincts expand map-side, still one FileScan),
    then unpivoted with ``stack`` into the row-per-column shape.
    """
    aggs = [F.count("*").alias("n_rows")]
    for c in columns:
        aggs.extend(
            [
                F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"{c}__n_null"),
                F.countDistinct(c).alias(f"{c}__n_distinct"),
                F.min(c).cast("string").alias(f"{c}__min"),
                F.max(c).cast("string").alias(f"{c}__max"),
            ]
        )
    wide = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', `{c}__n_null`, `{c}__n_distinct`, `{c}__min`, `{c}__max`"
        for c in columns
    )
    unpivoted = wide.select(
        "n_rows",
        F.expr(
            f"stack({len(columns)}, {stack_args}) "
            "AS (column, n_null, n_distinct, min_val, max_val)"
        ),
    )
    return unpivoted.select("column", "n_rows", "n_null", "n_distinct", "min_val", "max_val")


def q_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profile of the orders table's key columns."""
    return profile_columns(
        load(spark, sf_dir, "orders"),
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"],
    )


def q_histogram_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-width histogram of order totals (20 bins over [0, 500k)) —
    one hash aggregation over computed bin ids; out-of-range clamps to
    the edge bins."""
    orders = load(spark, sf_dir, "orders")
    width = 25000.0
    bin_id = F.least(
        F.greatest(F.floor(F.col("o_totalprice") / width), F.lit(0)), F.lit(19)
    ).cast("bigint")
    return (
        orders.groupBy(bin_id.alias("bin"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


def q_dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectation suite — the contract check a warehouse
    runs per ingest (Great-Expectations-shaped, expressed relationally):
    one row per named check with its violation count, so `WHERE
    n_violations > 0` is the alert feed. Checks cover the four families:
    NOT NULL (order keys), UNIQUENESS (o_orderkey), REFERENTIAL
    INTEGRITY (orders→customer, lineitem→orders — broadcast-anti-join
    shaped; at scale the dim side is the smaller and AQE picks the
    strategy), and DOMAIN/RANGE (non-negative totals, discount within
    [0,1], shipdate inside the TPC-H calendar).

    Scale: every check is one aggregation or one anti-join; nothing
    quadratic, nothing driver-side. The union of 1-row frames is
    dimension-sized."""
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    lineitem = load(spark, sf_dir, "lineitem")

    def one(name: str, df: DataFrame) -> DataFrame:
        return df.select(
            F.lit(name).alias("check"),
            F.count("*").cast("bigint").alias("n_violations"),
        )

    dup_keys = (
        orders.groupBy("o_orderkey")
        .agg(F.count("*").alias("c"))
        .where(F.col("c") > 1)
    )
    checks = [
        one("orders.o_orderkey.not_null", orders.where(F.col("o_orderkey").isNull())),
        one("orders.o_custkey.not_null", orders.where(F.col("o_custkey").isNull())),
        one("orders.o_orderkey.unique", dup_keys),
        one(
            "orders.o_custkey.fk_customer",
            orders.join(
                customer.select(F.col("c_custkey").alias("o_custkey")),
                "o_custkey",
                "left_anti",
            ),
        ),
        one(
            "lineitem.l_orderkey.fk_orders",
            lineitem.join(
                orders.select(F.col("o_orderkey").alias("l_orderkey")),
                "l_orderkey",
                "left_anti",
            ),
        ),
        one(
            "orders.o_totalprice.non_negative",
            orders.where(F.col("o_totalprice") < 0),
        ),
        one(
            "lineitem.l_discount.in_unit_interval",
            lineitem.where((F.col("l_discount") < 0) | (F.col("l_discount") > 1)),
        ),
        one(
            "lineitem.l_shipdate.in_calendar",
            lineitem.where(
                (F.col("l_shipdate") < F.lit("1992-01-01").cast("timestamp"))
                | (F.col("l_shipdate") >= F.lit("1999-01-01").cast("timestamp"))
            ),
        ),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out


_DQ_ORACLE = """
    SELECT 'orders.o_orderkey.not_null' AS check,
           CAST(count(*) AS BIGINT) AS n_violations
    FROM orders WHERE o_orderkey IS NULL
    UNION ALL
    SELECT 'orders.o_custkey.not_null', CAST(count(*) AS BIGINT)
    FROM orders WHERE o_custkey IS NULL
    UNION ALL
    SELECT 'orders.o_orderkey.unique', CAST(count(*) AS BIGINT)
    FROM (SELECT o_orderkey FROM orders GROUP BY 1 HAVING count(*) > 1)
    UNION ALL
    SELECT 'orders.o_custkey.fk_customer', CAST(count(*) AS BIGINT)
    FROM orders o WHERE NOT EXISTS
        (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    UNION ALL
    SELECT 'lineitem.l_orderkey.fk_orders', CAST(count(*) AS BIGINT)
    FROM lineitem l WHERE NOT EXISTS
        (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
    UNION ALL
    SELECT 'orders.o_totalprice.non_negative', CAST(count(*) AS BIGINT)
    FROM orders WHERE o_totalprice < 0
    UNION ALL
    SELECT 'lineitem.l_discount.in_unit_interval', CAST(count(*) AS BIGINT)
    FROM lineitem WHERE l_discount < 0 OR l_discount > 1
    UNION ALL
    SELECT 'lineitem.l_shipdate.in_calendar', CAST(count(*) AS BIGINT)
    FROM lineitem WHERE l_shipdate < TIMESTAMP '1992-01-01'
                     OR l_shipdate >= TIMESTAMP '1999-01-01'
"""


def _benford_exp6() -> list[int]:
    """Benford expected proportions log10(1 + 1/d), d=1..9, in
    micro-units — precomputed in PYTHON and inlined as literals on
    BOTH engines (the nDCG-weight discipline; no engine evaluates a
    log)."""
    import math

    return [int(math.floor(math.log10(1 + 1 / d) * 1e6 + 0.5)) for d in range(1, 10)]


def q_benford_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit audit (Benford 1938; Nigrini
    1996 — the standard fraud/synthetic-data screen a profiling
    pipeline runs on monetary columns) over lineitem extended prices:
    observed vs expected log10(1+1/d) proportions per leading digit,
    with the absolute deviation in micro-units.

    Determinism: prices snap to integer cents first; the leading digit
    comes from the engine-stable int64→string rendering (never from
    float formatting); observed shares are pure integer division; the
    nine expected shares are Python-inlined literal ints.

    Scale shape (100 TB): one scan → 9-group hash agg with map-side
    combine; the grand total joins back as a broadcast 1-row frame."""
    exp6 = _benford_exp6()
    li = load(spark, sf_dir, "lineitem").select(
        units(F.col("l_extendedprice"), 100).alias("cents")
    )
    g = (
        li.select(
            F.substring(F.col("cents").cast("string"), 1, 1)
            .cast("bigint")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count("*").cast("bigint").alias("n_obs"))
    )
    total = g.agg(F.sum("n_obs").cast("bigint").alias("n"))
    earr = F.array(*[F.lit(x) for x in exp6])
    return (
        g.crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n_obs",
            F.expr("n_obs * 1000000 div n").cast("bigint").alias("obs6"),
            F.element_at(earr, F.col("digit").cast("int")).cast("bigint").alias("exp6"),
        )
        .withColumn("dev6", F.abs(F.col("obs6") - F.col("exp6")).cast("bigint"))
        .orderBy("digit")
    )


def _benford_oracle() -> str:
    vals = ", ".join(f"({d + 1}, {x})" for d, x in enumerate(_benford_exp6()))
    return f"""
        WITH c AS (
            SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
            FROM lineitem
        ), g AS (
            SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT) AS digit,
                   CAST(count(*) AS BIGINT) AS n_obs
            FROM c GROUP BY 1
        ), t AS (
            SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM g
        ), e(digit, exp6) AS (VALUES {vals})
        SELECT g.digit, g.n_obs,
               CAST(g.n_obs * 1000000 // t.n AS BIGINT) AS obs6,
               CAST(e.exp6 AS BIGINT) AS exp6,
               CAST(abs(g.n_obs * 1000000 // t.n - e.exp6) AS BIGINT) AS dev6
        FROM g CROSS JOIN t JOIN e ON e.digit = g.digit
        ORDER BY g.digit
    """


# FK edges of the fixture star schema: (edge name, child table, child
# key, parent table, parent key). events.user_id→customer is the edge
# most likely to drift (event streams outlive dimension snapshots).
_FK_EDGES: tuple[tuple[str, str, str, str, str], ...] = (
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
    ("events.user_id->customer", "events", "user_id", "customer", "c_custkey"),
)


def q_referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit over every FK edge of the star
    schema: child rows whose key has no parent (orphans — broken joins
    waiting to happen) AND parent keys no child references (unreferenced
    — the q22-idle-customers signal generalized). The check every
    warehouse load runs before publishing a snapshot.

    One row per edge: child row count, orphan rows, distinct orphan
    keys, unreferenced parent keys. Pure integer counts — nothing to
    snap.

    Scale: per edge, the child side reduces to a (key → count) agg
    BEFORE the join (map-side combinable; the join then carries one row
    per distinct key, not per child row), joined full-outer to the
    distinct parent keys — shuffle on 8-byte keys, dimension parents
    broadcast by AQE. Edges are independent — the union evaluates them
    in parallel."""
    out = None
    for edge, child_t, ck, parent_t, pk in _FK_EDGES:
        child = (
            load(spark, sf_dir, child_t)
            .groupBy(F.col(ck).alias("k"))
            .agg(F.count("*").cast("bigint").alias("c"))
        )
        parent = load(spark, sf_dir, parent_t).select(F.col(pk).alias("k")).distinct()
        j = child.join(parent.withColumn("p", F.lit(1)), "k", "full_outer")
        row = j.agg(
            F.sum(F.coalesce("c", F.lit(0))).cast("bigint").alias("n_child_rows"),
            F.sum(F.when(F.col("p").isNull(), F.col("c")).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("n_orphan_rows"),
            F.count_if(F.col("p").isNull()).cast("bigint").alias("n_orphan_keys"),
            F.count_if(F.col("c").isNull()).cast("bigint").alias("n_unreferenced_parents"),
        ).select(F.lit(edge).alias("edge"), "n_child_rows", "n_orphan_rows",
                 "n_orphan_keys", "n_unreferenced_parents")
        out = row if out is None else out.unionByName(row)
    return out.orderBy("edge")


def _ri_oracle() -> str:
    parts = []
    for edge, child_t, ck, parent_t, pk in _FK_EDGES:
        parts.append(f"""
        SELECT '{edge}' AS edge,
               CAST(sum(coalesce(c, 0)) AS BIGINT) AS n_child_rows,
               CAST(sum(CASE WHEN p IS NULL THEN c ELSE 0 END) AS BIGINT)
                   AS n_orphan_rows,
               CAST(count(*) FILTER (p IS NULL) AS BIGINT) AS n_orphan_keys,
               CAST(count(*) FILTER (c IS NULL) AS BIGINT)
                   AS n_unreferenced_parents
        FROM (SELECT {ck} AS k, CAST(count(*) AS BIGINT) AS c
              FROM {child_t} GROUP BY 1) ch
        FULL OUTER JOIN (SELECT DISTINCT {pk} AS k, 1 AS p
                         FROM {parent_t}) pa USING (k)""")
    return " UNION ALL ".join(parts) + " ORDER BY edge"


ORACLES: dict[str, str] = {
    "referential_integrity_audit": _ri_oracle(),
    "benford_digit_audit": _benford_oracle(),
    "dq_expectations": _DQ_ORACLE,
    "profile_columns": """
        -- CAST on every integer sum: DuckDB sums into HUGEINT, which the
        -- driver canonicalizes to float64 and hash-mismatches Spark int64.
        SELECT 'o_orderkey' AS column, count(*) AS n_rows,
               CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
               count(DISTINCT o_orderkey) AS n_distinct,
               CAST(min(o_orderkey) AS VARCHAR) AS min_val,
               CAST(max(o_orderkey) AS VARCHAR) AS max_val
        FROM orders
        UNION ALL
        SELECT 'o_custkey', count(*),
               CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               count(DISTINCT o_custkey),
               CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR)
        FROM orders
        UNION ALL
        SELECT 'o_orderstatus', count(*),
               CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               count(DISTINCT o_orderstatus),
               CAST(min(o_orderstatus) AS VARCHAR), CAST(max(o_orderstatus) AS VARCHAR)
        FROM orders
        UNION ALL
        SELECT 'o_totalprice', count(*),
               CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               count(DISTINCT o_totalprice),
               CAST(min(o_totalprice) AS VARCHAR), CAST(max(o_totalprice) AS VARCHAR)
        FROM orders
        UNION ALL
        SELECT 'o_orderpriority', count(*),
               CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               count(DISTINCT o_orderpriority),
               CAST(min(o_orderpriority) AS VARCHAR), CAST(max(o_orderpriority) AS VARCHAR)
        FROM orders
    """,
    "histogram_value": """
        SELECT CAST(least(greatest(floor(o_totalprice / 25000.0), 0), 19) AS BIGINT) AS bin,
               count(*) AS n,
               round(min(o_totalprice), 2) AS lo,
               round(max(o_totalprice), 2) AS hi
        FROM orders
        GROUP BY 1
    """,
}

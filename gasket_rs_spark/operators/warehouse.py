"""Warehouse-maintenance operators: interval coalescing, SCD type-2
dimension builds, mergeable Bloom-filter membership, and Z-order layout
keys — the table-maintenance surface a lakehouse runs alongside the
query operators (reference has no analogue; this extends the X-tier
data plane the way dedup/curation do for the LLM pipeline).

All four are pure DataFrame plans with DuckDB oracle twins (everything
here is deterministic — even the Bloom filter, whose hash functions are
md5-derived and engine-independent, so its false positives are EXACTLY
reproducible).

Scale notes (100 TB):
- interval merge / SCD2 are one shuffle each (window partitioned by the
  entity key); no self-joins, no driver state.
- the Bloom build aggregates 4096 bits into 128 int words via bit_or —
  map-side combinable, output is a constant 128 rows regardless of SF,
  then broadcast to the probe side. This is exactly how a runtime
  bloom-pruned join works at scale: build on the small side, broadcast
  the bitset, pre-filter the fact scan before the real join.
- Z-order keys are a narrow per-row map (no shuffle); the layout write
  would `repartitionByRange(zval)` so min/max column stats per file
  stay tight on BOTH interleaved dimensions (data-skipping for 2-D
  predicates). The witness aggregates per z-bucket to show both key
  ranges narrow together.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gasket_rs_spark import keys, store
from gasket_rs_spark.grid import units
from gasket_rs_spark.tables import load


# ---------------------------------------------------------------------------
# Interval coalescing (merge overlapping activity spans)
# ---------------------------------------------------------------------------

_SPAN_SEC = 300  # each event opens a 5-minute activity span


def q_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge overlapping per-user activity intervals (islands & gaps).

    Each event opens a [ts, ts+300s) span; overlapping/touching spans per
    user coalesce into one interval. Classic cumulative-max island
    detection: a span starts a new island iff its start exceeds the max
    end seen so far; running sum of starts numbers the islands — one
    window shuffle on user_id, no self-join.
    """
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        F.floor(F.unix_millis("ts") / F.lit(1000)).alias("s"),
    ).withColumn("e", F.col("s") + _SPAN_SEC)
    return merge_intervals(ev)


def merge_intervals(spans: DataFrame) -> DataFrame:
    """Core of q_interval_merge over any (user_id, s, e) frame."""
    w_order = Window.partitionBy("user_id").orderBy("s", "e")
    prev_max_end = F.max("e").over(w_order.rowsBetween(Window.unboundedPreceding, -1))
    flagged = spans.withColumn(
        "new_island",
        F.when(prev_max_end.isNull() | (F.col("s") > prev_max_end), 1).otherwise(0),
    )
    islands = flagged.withColumn(
        "island",
        F.sum("new_island").over(w_order.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        islands.groupBy("user_id", "island")
        .agg(
            F.min("s").alias("span_start"),
            F.max("e").alias("span_end"),
            F.count("*").alias("n_events"),
        )
        .select(
            "user_id",
            "island",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start")).alias("span_sec"),
            "n_events",
        )
    )


# ---------------------------------------------------------------------------
# SCD type-2 dimension build
# ---------------------------------------------------------------------------

def q_scd2_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing dimension from a change stream.

    Purchases are treated as attribute changes to a per-user dimension
    (`value` is the tracked attribute). Each change row becomes a
    versioned dimension row: valid_from = its time, valid_to = the next
    change's time (NULL while current), version = change ordinal,
    is_current on the last. lead() over one user_id window — the
    standard SCD2 build, one shuffle, no self-join. Ties on the same
    second are ordered by event_id (deterministic unique tiebreak).
    """
    w = Window.partitionBy("user_id").orderBy("ts_sec", "event_id")
    changes = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            "event_id",
            F.floor(F.unix_millis("ts") / F.lit(1000)).alias("ts_sec"),
            F.round("value", 4).alias("attr_value"),
        )
    )
    return changes.select(
        "user_id",
        F.col("ts_sec").alias("valid_from"),
        F.lead("ts_sec").over(w).alias("valid_to"),
        F.row_number().over(w).alias("version"),
        F.when(F.lead("ts_sec").over(w).isNull(), 1).otherwise(0).alias("is_current"),
        "attr_value",
    )


def q_snapshot_diff_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog derived from two table snapshots — the inverse of
    MERGE: given per-customer revenue state at cutoff 1996 vs at end of
    history, emit one change row per key (insert / update / unchanged,
    with old and new values) — what a downstream incremental consumer
    replays instead of re-reading the table. One aggregation pass builds
    BOTH snapshots (conditional sums — the cutoff is a CASE, not a
    second scan), so the diff needs no self-join at all."""
    orders = load(spark, sf_dir, "orders")
    cutoff = F.lit("1997-01-01").cast("timestamp")
    per_cust = orders.groupBy("o_custkey").agg(
        F.round(
            F.sum(F.when(F.col("o_orderdate") < cutoff, F.col("o_totalprice")).otherwise(F.lit(0.0))),
            2,
        ).alias("rev_v1"),
        F.round(F.sum("o_totalprice"), 2).alias("rev_v2"),
        F.count_if(F.col("o_orderdate") < cutoff).alias("n_v1"),
    )
    return per_cust.select(
        "o_custkey",
        F.when(F.col("n_v1") == 0, F.lit(None).cast("double"))
        .otherwise(F.col("rev_v1"))
        .alias("old_revenue"),
        F.col("rev_v2").alias("new_revenue"),
        F.when(F.col("n_v1") == 0, F.lit("insert"))
        .when(F.col("rev_v1") != F.col("rev_v2"), F.lit("update"))
        .otherwise(F.lit("unchanged"))
        .alias("change"),
    )


# ---------------------------------------------------------------------------
# Deterministic mergeable Bloom filter (build + broadcast probe)
# ---------------------------------------------------------------------------

_BLOOM_BITS = 4096
_BLOOM_WORD_BITS = 32  # positive int32 range — safe two's-complement-free
_BLOOM_WORDS = _BLOOM_BITS // _BLOOM_WORD_BITS
_BLOOM_K = 3


def _bloom_pos(key: F.Column, i: int) -> F.Column:
    """Bit position of hash function i — md5-derived, engine-portable."""
    h = F.md5(F.concat_ws(":", key.cast("string"), F.lit(str(i))))
    return keys.hex_int(h, 8) % _BLOOM_BITS


def q_bloom_filter_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a 4096-bit Bloom filter over BUILDING-segment customers,
    probe every order against it, and audit the filter exactly.

    Build: k=3 md5-derived bit positions per key, exploded, folded into
    128 int words with bit_or — a fully mergeable aggregate (map-side
    combine; shard blooms union with the same bit_or). Probe: each
    order's 3 positions join the broadcast word table; an order passes
    iff all 3 bits are set. The deterministic hashes make even the false
    positives reproducible, so the audit (vs the exact membership
    semi-join) is oracle-checked EXACT — the same shape as a runtime
    bloom-pruned join: build small side, broadcast bits, pre-filter the
    fact scan.
    """
    members = (
        load(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("key"))
    )
    pos = members.select(
        F.explode(
            F.array(*[_bloom_pos(F.col("key"), i) for i in range(_BLOOM_K)])
        ).alias("pos")
    )
    words = pos.groupBy(
        (F.col("pos") / _BLOOM_WORD_BITS).cast("int").alias("word_idx")
    ).agg(
        # shiftleft() needs a column shift count -> SQL form
        F.bit_or(
            F.expr(f"shiftleft(cast(1 as bigint), cast(pos % {_BLOOM_WORD_BITS} as int))")
        ).alias("word")
    )
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    probe = orders
    for i in range(_BLOOM_K):
        p = _bloom_pos(F.col("o_custkey"), i)
        probe = (
            probe.withColumn(f"w{i}", (p / _BLOOM_WORD_BITS).cast("int"))
            .withColumn(f"b{i}", (p % _BLOOM_WORD_BITS).cast("int"))
            .join(
                F.broadcast(words.select(
                    F.col("word_idx").alias(f"w{i}"), F.col("word").alias(f"word{i}")
                )),
                f"w{i}",
                "left",
            )
            .withColumn(
                f"hit{i}",
                # pyspark's shiftright() only takes a literal shift count;
                # the SQL form accepts a column expression.
                F.coalesce(
                    F.expr(f"shiftright(word{i}, b{i}) & 1"),
                    F.lit(0).cast("bigint"),
                ),
            )
        )
    passed = probe.withColumn(
        "bloom_pass", (F.col("hit0") + F.col("hit1") + F.col("hit2") == _BLOOM_K).cast("int")
    )
    truth = passed.join(
        F.broadcast(members.withColumn("is_member", F.lit(1))),
        passed.o_custkey == F.col("key"),
        "left",
    ).withColumn("actual", F.coalesce("is_member", F.lit(0)))
    return truth.agg(
        F.count("*").alias("n_probed"),
        F.sum("bloom_pass").alias("n_bloom_pass"),
        F.sum(F.col("actual")).alias("n_true_members"),
        F.sum(((F.col("bloom_pass") == 1) & (F.col("actual") == 0)).cast("int")).alias("n_false_pos"),
        F.sum(((F.col("bloom_pass") == 0) & (F.col("actual") == 1)).cast("int")).alias("n_false_neg"),
    )


# ---------------------------------------------------------------------------
# Z-order (Morton) layout keys
# ---------------------------------------------------------------------------

_Z_BITS = 8  # quantize both dims to 8 bits -> 16-bit z-value


def _interleave(x: F.Column, y: F.Column) -> F.Column:
    """Morton-interleave two 8-bit values (x gets odd bits, y even)."""
    z = F.lit(0).cast("bigint")
    for b in range(_Z_BITS):
        z = (
            z
            + F.shiftleft(F.shiftright(x, b).bitwiseAND(F.lit(1)).cast("bigint"), 2 * b + 1)
            + F.shiftleft(F.shiftright(y, b).bitwiseAND(F.lit(1)).cast("bigint"), 2 * b)
        )
    return z


def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering key over (l_partkey, l_suppkey) + bucket audit.

    Computes the Morton code of the two 8-bit-quantized join keys and
    aggregates per z-bucket (top 6 bits): row count and the min/max of
    BOTH underlying keys. The point of the witness: inside one z-bucket
    both key ranges are narrow simultaneously — the property that makes
    file-level min/max skipping work for predicates on either dimension
    after a `repartitionByRange("zval")` write. The key computation is a
    narrow map (no shuffle); only the audit aggregates.
    """
    li = load(spark, sf_dir, "lineitem").select(
        (F.col("l_partkey") % 256).cast("int").alias("px"),
        (F.col("l_suppkey") % 256).cast("int").alias("sy"),
    )
    zed = li.withColumn("zval", _interleave(F.col("px"), F.col("sy")))
    return zed.groupBy(F.shiftright("zval", 10).alias("z_bucket")).agg(
        F.count("*").alias("n_rows"), *_bucket_bounds()
    )


def _bucket_bounds() -> list[Column]:
    """The min and max of both quantized keys in a layout bucket — the
    audit columns of the Z-order and Hilbert layout witnesses."""
    return [
        F.min("px").alias("min_px"),
        F.max("px").alias("max_px"),
        F.min("sy").alias("min_sy"),
        F.max("sy").alias("max_sy"),
    ]


# ---------------------------------------------------------------------------
# MERGE INTO (Delta-style upsert with matched-update / matched-delete /
# not-matched-insert) expressed as one full-outer join
# ---------------------------------------------------------------------------

_MERGE_DELETE_ABOVE = 1_000_000.0  # matched & delta above this -> DELETE


def q_merge_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE a change batch into the customer dimension — the lakehouse
    upsert Spark-without-Delta lacks as a verb, expressed as its
    relational core: ONE full-outer equi-join on the merge key plus a
    row-wise CASE. Rules: matched + large delta → DELETE (churned
    account), matched → UPDATE (balance += delta), source-only → INSERT
    (key offset past the dim's key space marks genuinely-new rows),
    target-only → keep.

    The change batch is itself derived deterministically from orders
    (1995 revenue per customer; urgent-priority revenue re-keyed past the
    dim's ACTUAL key space — max(c_custkey) via a broadcast 1-row
    aggregate — as the new-customer stream). A fixed +1e6 offset collided
    with real customers at SF ≥ 7 (c_custkey reaches 150k×SF), silently
    turning inserts into matches (ADVICE r8); deriving it from the data
    is collision-free at every SF, and o_custkey ≥ 1 keeps the offset
    keys strictly above the dim. Sums land on the 2-cent decimal grid,
    so round(2) snaps identically cross-engine.

    Scale: a real MERGE at 100 TB is exactly this plan — co-partitioned
    full-outer join on the key (bucketed target makes it exchange-free
    on the big side) followed by a narrow projection; the rewrite then
    only touches files containing matched keys (the bloom/zorder
    operators above are the pruning inputs for that step).
    """
    customer = load(spark, sf_dir, "customer").select(
        "c_custkey", F.round("c_acctbal", 2).alias("c_acctbal"), "c_mktsegment"
    )
    o95 = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
    )
    updates = o95.groupBy(F.col("o_custkey").alias("key")).agg(
        F.round(F.sum("o_totalprice"), 2).alias("delta")
    )
    max_key = customer.agg(F.max("c_custkey").alias("_maxk"))
    inserts = (
        o95.where(F.col("o_orderpriority") == "1-URGENT")
        .crossJoin(F.broadcast(max_key))
        .groupBy((F.col("o_custkey") + F.col("_maxk")).alias("key"))
        .agg(F.round(F.sum("o_totalprice"), 2).alias("delta"))
    )
    return merge_upsert(customer, updates.unionByName(inserts))


def merge_upsert(target: DataFrame, source: DataFrame) -> DataFrame:
    """MERGE core over target(c_custkey, c_acctbal, c_mktsegment) and
    source(key, delta): matched+large-delta → delete, matched → update,
    source-only → insert, target-only → keep."""
    merged = target.join(source, target.c_custkey == source.key, "full_outer")
    matched = F.col("c_custkey").isNotNull() & F.col("key").isNotNull()
    return (
        merged.where(
            ~(matched & (F.col("delta") > _MERGE_DELETE_ABOVE))  # WHEN MATCHED ... DELETE
        )
        .select(
            F.coalesce("c_custkey", "key").alias("custkey"),
            F.when(matched, F.round(F.col("c_acctbal") + F.col("delta"), 2))
            .when(F.col("c_custkey").isNull(), F.round("delta", 2))
            .otherwise(F.col("c_acctbal"))
            .alias("acctbal"),
            F.coalesce("c_mktsegment", F.lit("NEW")).alias("mktsegment"),
            F.when(matched, F.lit("update"))
            .when(F.col("c_custkey").isNull(), F.lit("insert"))
            .otherwise(F.lit("keep"))
            .alias("action"),
        )
    )


def _bloom_pos_sql(key_expr: str, i: int) -> str:
    return (
        f"(('0x' || substr(md5(CAST({key_expr} AS VARCHAR) || ':{i}'), 1, 8))::BIGINT"
        f" % {_BLOOM_BITS})"
    )


def _interleave_sql(x: str, y: str) -> str:
    terms = []
    for b in range(_Z_BITS):
        terms.append(f"((({x} >> {b}) & 1)::BIGINT << {2 * b + 1})")
        terms.append(f"((({y} >> {b}) & 1)::BIGINT << {2 * b})")
    return " + ".join(terms)


_MV_CUTOFF = "1999-01-01"  # base/delta split date for the MV witness


def q_incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MATERIALIZED-VIEW maintenance: a per-priority revenue
    aggregate "materialized" over historical orders (< 1999-01-01) is
    brought current by merging ONLY the delta partition's partial
    aggregate — the standard lakehouse pattern that turns a daily
    full-table rebuild into delta-sized work. The witness's point is the
    CROSS-FORMULATION oracle: the DuckDB twin aggregates the full table
    DIRECTLY, so any defect in the merge algebra (lost groups,
    double-counted deltas, miscoalesced new keys) hash-mismatches.

    Revenue sums run in integer CENTS (o_totalprice is a double column;
    float partial-sum merge order would differ between engines — and on
    a real cluster between runs). Scale shape: the base aggregate is
    |groups|-sized state read back, the delta agg scans only the delta
    partition (at 100 TB: one day, not seven years), and the merge is a
    full-outer join of two |groups|-row frames."""
    orders = load(spark, sf_dir, "orders")
    cents = units(F.col("o_totalprice"), 100)
    cutoff = F.lit(_MV_CUTOFF).cast("timestamp")

    def agg_part(df: DataFrame, n: str, s: str) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count("*").cast("bigint").alias(n),
            F.sum(cents).cast("bigint").alias(s),
        )

    base = agg_part(orders.where(F.col("o_orderdate") < cutoff), "bn", "bs")
    delta = agg_part(orders.where(F.col("o_orderdate") >= cutoff), "dn", "ds")
    return (
        base.join(delta, "o_orderpriority", "full_outer")
        .select(
            "o_orderpriority",
            (F.coalesce("bn", F.lit(0)) + F.coalesce("dn", F.lit(0)))
            .cast("bigint")
            .alias("n_orders"),
            (F.coalesce("bs", F.lit(0)) + F.coalesce("ds", F.lit(0)))
            .cast("bigint")
            .alias("revenue_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Hilbert-curve layout keys (the locality-superior sibling of Z-order)
# ---------------------------------------------------------------------------

_H_BITS = 8  # 8 bits per dimension -> 16-bit Hilbert index


def _hilbert_levels() -> list[int]:
    return [1 << b for b in range(_H_BITS - 1, -1, -1)]  # 128, 64, .., 1


def _hilbert_spark(df: DataFrame) -> DataFrame:
    """Append hd = Hilbert index of (hx, hy) via the unrolled
    quadrant-rotation recurrence. Two chained projections per level keep
    Catalyst's project-collapse growth linear (each level's outputs
    reference the previous level's columns at most twice). The quadrant
    digit (3·rx)⊕ry is spelled arithmetically (3rx + ry − 2rx·ry) so the
    oracle needs no engine-specific XOR operator."""
    keep = [c for c in df.columns if c not in ("hx", "hy", "hd")]
    for s in _hilbert_levels():
        df = df.select(
            *keep, "hd",
            F.expr(f"hx div {s}").alias("rx"),
            F.expr(f"hy div {s}").alias("ry"),
            F.expr(f"hx % {s}").alias("xm"),
            F.expr(f"hy % {s}").alias("ym"),
        )
        df = df.select(
            *keep,
            F.expr(f"hd + {s * s} * (3 * rx + ry - 2 * rx * ry)").alias("hd"),
            F.expr(
                f"CASE WHEN ry = 0 THEN CASE WHEN rx = 1 THEN {s - 1} - ym"
                " ELSE ym END ELSE xm END"
            ).alias("hx"),
            F.expr(
                f"CASE WHEN ry = 0 THEN CASE WHEN rx = 1 THEN {s - 1} - xm"
                " ELSE xm END ELSE ym END"
            ).alias("hy"),
        )
    return df.select(*keep, "hd")


def _hilbert_sql(source_cte: str, keep: str) -> tuple[str, str]:
    """The SAME per-level recurrence as chained MATERIALIZED CTEs (plain
    CTEs inline and the expression tree grows exponentially — the BPE
    lesson)."""
    ctes = []
    prev = source_cte
    for i, s in enumerate(_hilbert_levels()):
        cur = f"hlvl{i}"
        ctes.append(
            f"{cur} AS MATERIALIZED (\n"
            f"  SELECT {keep},\n"
            f"    hd + {s * s} * (3 * (hx // {s}) + (hy // {s})"
            f" - 2 * (hx // {s}) * (hy // {s})) AS hd,\n"
            f"    CASE WHEN hy // {s} = 0 THEN CASE WHEN hx // {s} = 1"
            f" THEN {s - 1} - (hy % {s}) ELSE hy % {s} END"
            f" ELSE hx % {s} END AS hx,\n"
            f"    CASE WHEN hy // {s} = 0 THEN CASE WHEN hx // {s} = 1"
            f" THEN {s - 1} - (hx % {s}) ELSE hx % {s} END"
            f" ELSE hy % {s} END AS hy\n"
            f"  FROM {prev})"
        )
        prev = cur
    return ",\n".join(ctes), prev


def q_hilbert_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve clustering key over (l_partkey, l_suppkey) + the
    same bucket audit as q_zorder_layout — the layout that strictly
    dominates Z-order for multi-dimensional file skipping (every aligned
    2^k×2^k quadrant is a CONTIGUOUS index range, so min/max zone maps
    prune both dimensions; Morton buckets interleave rows from distant
    quadrants at the 2^k boundaries).

    The index is pure int64 arithmetic (div/mod/CASE — no floats, no
    XOR), computed on the DISTINCT quantized key pairs (≤2^16 rows —
    dimension-bounded at ANY corpus size) and the audit aggregates that
    bounded frame; the fact table pays one (px, sy) count aggregation,
    map-side combinable. At 100 TB the same kernel feeds
    `repartitionByRange("hval")` before the write.

    Pinned in tests/test_warehouse.py: bijectivity over the full 2^16
    grid, unit-step adjacency (a Hamiltonian path), corner start, and
    quadrant-contiguity at every scale k=1..7 — the defining property
    Z-order lacks (its pin shows Morton VIOLATES it)."""
    li = load(spark, sf_dir, "lineitem").select(
        (F.col("l_partkey") % 256).cast("bigint").alias("px"),
        (F.col("l_suppkey") % 256).cast("bigint").alias("sy"),
    )
    pairs = (
        li.groupBy("px", "sy")
        .agg(F.count("*").alias("cnt"))
        .select(
            "px", "sy", "cnt",
            F.col("px").alias("hx"), F.col("sy").alias("hy"),
            F.lit(0).cast("bigint").alias("hd"),
        )
    )
    hil = _hilbert_spark(pairs)
    return (
        hil.groupBy(F.shiftright("hd", 10).alias("h_bucket"))
        .agg(F.sum("cnt").cast("bigint").alias("n_rows"), *_bucket_bounds())
        .orderBy("h_bucket")
    )


def _hilbert_oracle() -> str:
    ctes, last = _hilbert_sql("pairs", "px, sy, cnt")
    return f"""
        WITH pairs AS MATERIALIZED (
            SELECT l_partkey % 256 AS px, l_suppkey % 256 AS sy,
                   CAST(count(*) AS BIGINT) AS cnt,
                   CAST(l_partkey % 256 AS BIGINT) AS hx,
                   CAST(l_suppkey % 256 AS BIGINT) AS hy,
                   0::BIGINT AS hd
            FROM lineitem GROUP BY 1, 2
        ),
        {ctes}
        SELECT hd >> 10 AS h_bucket,
               CAST(sum(cnt) AS BIGINT) AS n_rows,
               min(px) AS min_px, max(px) AS max_px,
               min(sy) AS min_sy, max(sy) AS max_sy
        FROM {last}
        GROUP BY 1 ORDER BY 1
    """


_ZONEMAP_CUTS = [f"{y}-01-01" for y in range(1995, 2003)]  # yearly predicates


def q_zonemap_pruning_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (min/max statistics) file-skipping audit: for each
    yearly predicate `l_shipdate >= cutoff`, how many of the simulated
    files (100-order key ranges, the compaction-planner manifest) can
    be pruned WITHOUT opening them because their max shipdate falls
    below the cutoff — the measurement that tells you whether the
    table's layout (insertion order here; see q_zorder_layout /
    q_hilbert_layout for the fix) actually supports data skipping.

    One row per cutoff: files, prunable files, rows inside them, and
    the prune ratio in micro-units. Days are exact int64 (epoch-day);
    cutoff days are Python-precomputed literals. Pure integers.

    Scale: the corpus pays one per-file min/max/count agg (map-side
    combinable — exactly the stats a parquet footer already holds);
    the 8-cutoff grid crosses the metadata-sized manifest."""
    import datetime as _dt

    cut_days = [
        ( _dt.date.fromisoformat(c) - _dt.date(1970, 1, 1)).days
        for c in _ZONEMAP_CUTS
    ]
    files = store.materialize(
        load(spark, sf_dir, "lineitem")
        .select(
            F.expr("l_orderkey div 100").alias("file_id"),
            # calendar-day arithmetic: immune to the NTZ/UTC parquet
            # encoding drift the tables.load docstring documents
            F.expr("datediff(CAST(l_shipdate AS DATE), DATE '1970-01-01')")
            .cast("bigint")
            .alias("ship_day"),
        )
        .groupBy("file_id")
        .agg(
            F.count("*").cast("bigint").alias("rows"),
            F.min("ship_day").cast("bigint").alias("min_day"),
            F.max("ship_day").cast("bigint").alias("max_day"),
        ),
        "warehouse.zonemap_files", eager=True,  # metadata-sized; 8 cutoff consumers
    )
    cuts = files.sparkSession.range(1).select(
        F.explode(
            F.array(*[F.lit(d).cast("bigint") for d in cut_days])
        ).alias("cut_day")
    )
    return (
        cuts.crossJoin(files)
        .groupBy("cut_day")
        .agg(
            F.count("*").cast("bigint").alias("n_files"),
            F.sum((F.col("max_day") < F.col("cut_day")).cast("bigint"))
            .cast("bigint")
            .alias("n_pruned"),
            F.sum(
                F.when(F.col("max_day") < F.col("cut_day"), F.col("rows")).otherwise(0)
            )
            .cast("bigint")
            .alias("rows_pruned"),
        )
        .withColumn(
            "prune6", F.expr("n_pruned * 1000000 div n_files").cast("bigint")
        )
        .orderBy("cut_day")
    )


def _zonemap_oracle() -> str:
    import datetime as _dt

    cut_days = [
        (_dt.date.fromisoformat(c) - _dt.date(1970, 1, 1)).days
        for c in _ZONEMAP_CUTS
    ]
    cuts = ", ".join(str(d) for d in cut_days)
    return f"""
        WITH files AS (
            SELECT l_orderkey // 100 AS file_id,
                   CAST(count(*) AS BIGINT) AS rows,
                   CAST(min(date_diff('day', DATE '1970-01-01',
                                      CAST(l_shipdate AS DATE))) AS BIGINT)
                       AS min_day,
                   CAST(max(date_diff('day', DATE '1970-01-01',
                                      CAST(l_shipdate AS DATE))) AS BIGINT)
                       AS max_day
            FROM lineitem GROUP BY 1
        ), cuts AS (SELECT unnest([{cuts}]) AS cut_day)
        SELECT CAST(cut_day AS BIGINT) AS cut_day,
               CAST(count(*) AS BIGINT) AS n_files,
               CAST(sum(CASE WHEN max_day < cut_day THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_pruned,
               CAST(sum(CASE WHEN max_day < cut_day THEN rows ELSE 0 END)
                    AS BIGINT) AS rows_pruned,
               CAST(sum(CASE WHEN max_day < cut_day THEN 1 ELSE 0 END)
                    * 1000000 // count(*) AS BIGINT) AS prune6
        FROM cuts CROSS JOIN files
        GROUP BY cut_day
        ORDER BY cut_day
    """


# ---------------------------------------------------------------------------
# Compaction planner (small-file bin packing)
# ---------------------------------------------------------------------------

_COMPACT_TARGET = 1024  # target rows per compacted output file


def q_compaction_bin_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner: assign input files to target-size
    output bins — the maintenance job every lakehouse table needs once
    streaming ingest has produced thousands of under-sized files.

    The file manifest is simulated from lineitem (file = 100-order key
    range, ~400 rows each — SF-invariant); files are packed per
    TABLE PARTITION (part_bucket = 64 consecutive files), the unit real
    compaction jobs operate on, by the deterministic sorted-fill policy:
    order files by (rows DESC, file_id), running-cumsum, bin =
    (cum−1) div target. A bin can overflow by at most one file — the
    standard greedy guarantee — and the whole plan is integer-exact.

    Scale: the manifest is metadata-sized (#files, not #rows); the only
    corpus-scale work is the per-file row count (map-side combinable).
    The packing window is PARTITIONED by part_bucket — no global sort,
    no single-partition window, arbitrarily many partitions pack in
    parallel."""
    files = (
        load(spark, sf_dir, "lineitem")
        .groupBy(F.expr("l_orderkey div 100").alias("file_id"))
        .agg(F.count("*").cast("bigint").alias("rows"))
        .withColumn("part_bucket", F.expr("file_id div 64"))
    )
    w = Window.partitionBy("part_bucket").orderBy(F.col("rows").desc(), "file_id")
    packed = files.withColumn("cum", F.sum("rows").over(w)).withColumn(
        "bin_id", F.expr(f"(cum - 1) div {_COMPACT_TARGET}")
    )
    return (
        packed.groupBy("part_bucket", "bin_id")
        .agg(
            F.count("*").cast("bigint").alias("n_files"),
            F.sum("rows").cast("bigint").alias("bin_rows"),
            F.min("rows").cast("bigint").alias("min_file_rows"),
            F.max("rows").cast("bigint").alias("max_file_rows"),
        )
        .withColumn(
            "fill6", F.expr(f"bin_rows * 1000000 div {_COMPACT_TARGET}").cast("bigint")
        )
        .orderBy("part_bucket", "bin_id")
    )


_DV_FILES = 16  # synthetic data files per table
_DV_DELETED_FILES = 8  # deletion vectors exist only for files 0..7
_DV_U16_CUT = 6553  # ~10% of rows in covered files are position-deleted


def q_deletion_vector_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETION-VECTOR scan (Delta deletion vectors / Iceberg position
    deletes): rows live in immutable "files" (md5 bucket of the order
    key) at a stable position (row_number within the file), deletes
    are a separate (file, position) side table, and the read path
    applies them with an ANTI-JOIN instead of rewriting data files —
    the merge-on-read half of a lakehouse DELETE. Audited per file:
    rows, deleted, live, and the live quantity sum in cents.

    Determinism: file ids and the deleted-row choice both come from
    md5 hex (engine-identical); positions order by the (orderkey,
    linenumber) natural key. Scale: position assignment is one
    partitioned window per file (files are the partition unit — no
    global sort); the DV side is ~10% of covered files and joins on
    (file, pos) — at 100 TB this is the standard DV shuffle, pruned
    to covered files only."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        units(F.col("l_quantity"), 100).alias("qty_c"),
    )
    file_id = keys.hex_int(F.md5(F.col("l_orderkey").cast("string")), 2) % _DV_FILES
    w = Window.partitionBy("file_id").orderBy("l_orderkey", "l_linenumber")
    # rows feeds THREE consumers (the DV side table, the anti-join left
    # side, per_file) — unmaterialized, the scan+md5+window subtree ran
    # once per consumer (§2.4). Lazy checkpoint: one materialization per
    # action (r21 interleaved A/B min 2.131 → 1.577 s at sf0.1, every
    # pair favors, identical rows). The anti-join itself stays — it IS
    # the merge-on-read DV shape this witness demonstrates (production
    # deletes arrive as a separate side table, not a derivable filter).
    rows = li.withColumn("file_id", file_id).withColumn("pos", F.row_number().over(w).cast("bigint"))
    rows = store.materialize(rows, "warehouse.dv_rows", eager=False)
    u16 = keys.hex_int(
        F.md5(
            F.concat_ws(
                ":",
                F.col("l_orderkey").cast("string"),
                F.col("l_linenumber").cast("string"),
                F.lit("dv"),
            )
        ),
        4,
    )
    dv = rows.where(
        (F.col("file_id") < _DV_DELETED_FILES) & (u16 < _DV_U16_CUT)
    ).select("file_id", "pos")
    live = rows.join(dv, ["file_id", "pos"], "left_anti")
    per_file = rows.groupBy("file_id").agg(
        F.count("*").cast("bigint").alias("n_rows")
    )
    live_agg = live.groupBy("file_id").agg(
        F.count("*").cast("bigint").alias("n_live"),
        F.sum("qty_c").cast("bigint").alias("live_qty_cents"),
    )
    return (
        per_file.join(live_agg, "file_id")
        .select(
            "file_id",
            "n_rows",
            (F.col("n_rows") - F.col("n_live")).cast("bigint").alias("n_deleted"),
            "n_live",
            "live_qty_cents",
        )
        .orderBy("file_id")
    )


def q_incremental_join_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental JOIN-view maintenance (delta-join IVM): for a
    materialized view over R ⋈ S, arriving deltas update it without a
    full recompute via Δ(R⋈S) = ΔR⋈S ∪ R⋈ΔS ∪ ΔR⋈ΔS. Orders and
    lineitem each split old/new on independent deterministic keys; the
    witness computes the per-status revenue view BOTH ways — full
    recompute vs base + three delta joins — and emits both so the
    value hash PROVES they coincide (the companion of
    q_incremental_agg_maintenance, which maintains an aggregate; this
    maintains a join).

    All-integer cents; at 100 TB the delta terms join a small ΔR/ΔS
    against the big base (broadcast when the delta is batch-sized)
    instead of re-shuffling the full fact pair — that asymmetry is the
    whole point of IVM."""
    r = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        (F.col("o_orderkey") % 10 >= 8).alias("r_new"),
    )
    s = load(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        ((F.col("l_orderkey") * 31 + F.col("l_linenumber")) % 10 >= 8).alias(
            "s_new"
        ),
        units(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")), 100)
        .alias("cents"),
    )

    def _agg(df: DataFrame, n_name: str, c_name: str) -> DataFrame:
        return df.groupBy("o_orderstatus").agg(
            F.count("*").cast("bigint").alias(n_name),
            F.sum("cents").cast("bigint").alias(c_name),
        )

    joined = r.join(s, r["o_orderkey"] == s["l_orderkey"]).select(
        "o_orderstatus", "r_new", "s_new", "cents"
    )
    full = _agg(joined, "n_full", "cents_full")
    base = joined.where(~F.col("r_new") & ~F.col("s_new"))
    d1 = joined.where(F.col("r_new") & ~F.col("s_new"))
    d2 = joined.where(~F.col("r_new") & F.col("s_new"))
    d3 = joined.where(F.col("r_new") & F.col("s_new"))
    inc = _agg(
        base.unionAll(d1).unionAll(d2).unionAll(d3), "n_inc", "cents_inc"
    )
    return (
        full.join(inc, "o_orderstatus")
        .select(
            "o_orderstatus",
            "n_full",
            "cents_full",
            "n_inc",
            "cents_inc",
            (
                (F.col("n_full") == F.col("n_inc"))
                & (F.col("cents_full") == F.col("cents_inc"))
            ).alias("consistent"),
        )
        .orderBy("o_orderstatus")
    )


def q_temporal_join_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME (temporal) JOIN against the SCD2 dimension: every
    click event looks up the dimension version that was valid AT ITS
    TIMESTAMP (valid_from ≤ t < valid_to, open-ended current rows) —
    the lookup that makes a versioned dimension useful, and the
    feature-store "no peeking" join that prevents label leakage in
    training pipelines. Dimension build mirrors q_scd2_dimension
    (warehouse.py:92) with the tracked attribute kept integer.

    Clicks before a user's first version report version 0 (a left
    join; the miss count is part of the audit). Aggregated per
    version: clicks, users, attribute sum — all int64. Scale: a range
    join shuffled on user_id; each user's version chain is short, so
    the per-key interval probe is cheap and AQE handles the key skew."""
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.floor(F.unix_millis("ts") / F.lit(1000)).cast("bigint").alias("ts_sec"),
        units(F.col("value"), 1e4).alias("attr4"),
    )
    w = Window.partitionBy("user_id").orderBy("ts_sec", "event_id")
    dim = store.materialize(
        ev.where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("ts_sec").alias("valid_from"),
            F.lead("ts_sec").over(w).alias("valid_to"),
            F.row_number().over(w).cast("bigint").alias("version"),
            "attr4",
        ),
        "warehouse.scd2_dim", eager=True,
    )
    clicks = (
        ev.where(F.col("event_type") == "click")
        .select("user_id", "event_id", "ts_sec")
        .alias("c")
    )
    d = dim.alias("d")
    joined = clicks.join(
        d,
        (F.col("c.user_id") == F.col("d.user_id"))
        & (F.col("c.ts_sec") >= F.col("d.valid_from"))
        & (F.col("d.valid_to").isNull() | (F.col("c.ts_sec") < F.col("d.valid_to"))),
        "left",
    ).select(
        F.col("c.user_id").alias("uid"),
        F.coalesce(F.col("d.version"), F.lit(0)).cast("bigint").alias("version"),
        F.coalesce(F.col("d.attr4"), F.lit(0)).cast("bigint").alias("attr4"),
    )
    return (
        joined.groupBy("version")
        .agg(
            F.count("*").cast("bigint").alias("n_clicks"),
            F.countDistinct("uid").cast("bigint").alias("n_users"),
            F.sum("attr4").cast("bigint").alias("attr_sum4"),
        )
        .orderBy("version")
    )


def q_file_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV + JSON source-format round-trip witness: the documents
    table is written to CSV (header, default quoting) and JSON-lines,
    read back through the explicit-schema readers in ``sources/io.py``
    (schema-on-read is banned at 100 TB — inference costs a scan and
    can drift per batch), and per-language aggregates from BOTH
    formats are emitted side by side. The oracle computes the same
    aggregates straight from parquet, so a value-hash match PROVES the
    round-trip is lossless — including the text column through CSV
    quoting and JSON string escaping.

    The content checksum is a sum of md5-prefix integers (engine-
    mirrorable, order-insensitive). Files land in a fresh tempdir so
    concurrent runs never collide; Spark's writer/reader pair is the
    same code path a 100 TB CSV/JSON ingest would use, just more
    files."""
    import tempfile

    from gasket_rs_spark.sources.io import read_csv, read_json

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars", "text"
    )
    tmp = tempfile.mkdtemp(prefix="gasket_roundtrip_")
    csv_path = f"{tmp}/docs_csv"
    json_path = f"{tmp}/docs_json"
    docs.coalesce(4).write.mode("overwrite").option("header", "true").csv(csv_path)
    docs.coalesce(4).write.mode("overwrite").json(json_path)
    schema = docs.schema
    c = read_csv(spark, csv_path, schema)
    j = read_json(spark, json_path, schema)

    def per_lang(df: DataFrame, tag: str) -> DataFrame:
        chk = keys.hex_int(F.md5("text"), 12)
        return df.groupBy("lang").agg(
            F.count("*").cast("bigint").alias(f"n_{tag}"),
            F.sum("n_chars").cast("bigint").alias(f"chars_{tag}"),
            F.sum(chk).cast("bigint").alias(f"md5sum_{tag}"),
        )

    return (
        per_lang(c, "csv")
        .join(per_lang(j, "json"), "lang")
        .orderBy("lang")
    )


ORACLES: dict[str, str] = {
    "temporal_join_scd2": """
        WITH ev AS (
            SELECT user_id, event_id, event_type,
                   epoch_ms(ts) // 1000 AS ts_sec,
                   CAST(floor(value * 1e4 + 0.5) AS BIGINT) AS attr4
            FROM events
        ), dim AS (
            SELECT user_id, ts_sec AS valid_from,
                   lead(ts_sec) OVER (PARTITION BY user_id
                                      ORDER BY ts_sec, event_id) AS valid_to,
                   CAST(row_number() OVER (PARTITION BY user_id
                        ORDER BY ts_sec, event_id) AS BIGINT) AS version,
                   attr4
            FROM ev WHERE event_type = 'purchase'
        ), clicks AS (
            SELECT user_id, event_id, ts_sec FROM ev
            WHERE event_type = 'click'
        ), joined AS (
            SELECT c.user_id AS uid,
                   CAST(COALESCE(d.version, 0) AS BIGINT) AS version,
                   CAST(COALESCE(d.attr4, 0) AS BIGINT) AS attr4
            FROM clicks c LEFT JOIN dim d
              ON c.user_id = d.user_id
             AND c.ts_sec >= d.valid_from
             AND (d.valid_to IS NULL OR c.ts_sec < d.valid_to)
        )
        SELECT version,
               CAST(count(*) AS BIGINT) AS n_clicks,
               CAST(count(DISTINCT uid) AS BIGINT) AS n_users,
               CAST(sum(attr4) AS BIGINT) AS attr_sum4
        FROM joined GROUP BY 1 ORDER BY 1
    """,
    "file_source_roundtrip": """
        WITH agg AS (
            SELECT lang, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(n_chars) AS BIGINT) AS chars,
                   CAST(sum(('0x' || substr(md5(text), 1, 12))::BIGINT)
                        AS BIGINT) AS md5sum
            FROM documents GROUP BY 1
        )
        SELECT lang, n AS n_csv, chars AS chars_csv, md5sum AS md5sum_csv,
               n AS n_json, chars AS chars_json, md5sum AS md5sum_json
        FROM agg ORDER BY lang
    """,
    "deletion_vector_scan": f"""
        WITH li AS (
            SELECT l_orderkey, l_linenumber,
                   CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS qty_c,
                   CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 2))
                        ::BIGINT % {_DV_FILES} AS BIGINT) AS file_id
            FROM lineitem
        ), rows_pos AS (
            SELECT *, CAST(row_number() OVER (PARTITION BY file_id
                           ORDER BY l_orderkey, l_linenumber) AS BIGINT) AS pos
            FROM li
        ), dv AS (
            SELECT file_id, pos FROM rows_pos
            WHERE file_id < {_DV_DELETED_FILES}
              AND ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || ':' ||
                   CAST(l_linenumber AS VARCHAR) || ':dv'), 1, 4))::BIGINT
                  < {_DV_U16_CUT}
        ), live AS (
            SELECT r.* FROM rows_pos r ANTI JOIN dv
              ON r.file_id = dv.file_id AND r.pos = dv.pos
        )
        SELECT f.file_id, f.n_rows,
               CAST(f.n_rows - l.n_live AS BIGINT) AS n_deleted,
               l.n_live, l.live_qty_cents
        FROM (SELECT file_id, CAST(count(*) AS BIGINT) AS n_rows
              FROM rows_pos GROUP BY 1) f
        JOIN (SELECT file_id, CAST(count(*) AS BIGINT) AS n_live,
                     CAST(sum(qty_c) AS BIGINT) AS live_qty_cents
              FROM live GROUP BY 1) l USING (file_id)
        ORDER BY file_id
    """,
    "incremental_join_maintenance": """
        WITH r AS (
            SELECT o_orderkey, o_orderstatus,
                   o_orderkey % 10 >= 8 AS r_new
            FROM orders
        ), s AS (
            SELECT l_orderkey,
                   (l_orderkey * 31 + l_linenumber) % 10 >= 8 AS s_new,
                   CAST(floor(l_extendedprice * (1.0 - l_discount) * 100 + 0.5)
                        AS BIGINT) AS cents
            FROM lineitem
        ), joined AS (
            SELECT o_orderstatus, r_new, s_new, cents
            FROM r JOIN s ON r.o_orderkey = s.l_orderkey
        ), full_v AS (
            SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_full,
                   CAST(sum(cents) AS BIGINT) AS cents_full
            FROM joined GROUP BY 1
        ), inc_v AS (
            SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_inc,
                   CAST(sum(cents) AS BIGINT) AS cents_inc
            FROM (
                SELECT * FROM joined WHERE NOT r_new AND NOT s_new
                UNION ALL SELECT * FROM joined WHERE r_new AND NOT s_new
                UNION ALL SELECT * FROM joined WHERE NOT r_new AND s_new
                UNION ALL SELECT * FROM joined WHERE r_new AND s_new
            ) GROUP BY 1
        )
        SELECT o_orderstatus, n_full, cents_full, n_inc, cents_inc,
               n_full = n_inc AND cents_full = cents_inc AS consistent
        FROM full_v JOIN inc_v USING (o_orderstatus)
        ORDER BY o_orderstatus
    """,
    "hilbert_layout": _hilbert_oracle(),
    "zonemap_pruning_audit": _zonemap_oracle(),
    "compaction_bin_packing": f"""
        WITH files AS (
            SELECT l_orderkey // 100 AS file_id,
                   CAST(count(*) AS BIGINT) AS rows
            FROM lineitem GROUP BY 1
        ), packed AS (
            SELECT file_id // 64 AS part_bucket, file_id, rows,
                   CAST(sum(rows) OVER (PARTITION BY file_id // 64
                        ORDER BY rows DESC, file_id) AS BIGINT) AS cum
            FROM files
        )
        SELECT part_bucket, (cum - 1) // {_COMPACT_TARGET} AS bin_id,
               CAST(count(*) AS BIGINT) AS n_files,
               CAST(sum(rows) AS BIGINT) AS bin_rows,
               CAST(min(rows) AS BIGINT) AS min_file_rows,
               CAST(max(rows) AS BIGINT) AS max_file_rows,
               CAST(sum(rows) * 1000000 // {_COMPACT_TARGET} AS BIGINT) AS fill6
        FROM packed
        GROUP BY 1, 2
        ORDER BY 1, 2
    """,
    "incremental_agg_maintenance": """
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS revenue_cents
        FROM orders
        GROUP BY o_orderpriority
    """,
    "snapshot_diff_changelog": """
        WITH pc AS (
            SELECT o_custkey,
                   round(sum(CASE WHEN o_orderdate < TIMESTAMP '1997-01-01'
                                  THEN o_totalprice ELSE 0.0 END), 2) AS rev_v1,
                   round(sum(o_totalprice), 2) AS rev_v2,
                   count(*) FILTER (o_orderdate < TIMESTAMP '1997-01-01') AS n_v1
            FROM orders GROUP BY 1
        )
        SELECT o_custkey,
               CASE WHEN n_v1 = 0 THEN NULL ELSE rev_v1 END AS old_revenue,
               rev_v2 AS new_revenue,
               CASE WHEN n_v1 = 0 THEN 'insert'
                    WHEN rev_v1 <> rev_v2 THEN 'update'
                    ELSE 'unchanged' END AS change
        FROM pc
    """,
    "merge_into": f"""
        WITH o95 AS (
            SELECT * FROM orders
            WHERE o_orderdate >= TIMESTAMP '1995-01-01'
              AND o_orderdate <  TIMESTAMP '1996-01-01'
        ), source AS (
            SELECT o_custkey AS key, round(sum(o_totalprice), 2) AS delta
            FROM o95 GROUP BY 1
            UNION ALL
            SELECT o_custkey + (SELECT max(c_custkey) FROM customer) AS key,
                   round(sum(o_totalprice), 2) AS delta
            FROM o95 WHERE o_orderpriority = '1-URGENT' GROUP BY 1
        ), merged AS (
            SELECT c.c_custkey, round(c.c_acctbal, 2) AS c_acctbal,
                   c.c_mktsegment, s.key, s.delta
            FROM customer c FULL OUTER JOIN source s ON c.c_custkey = s.key
        )
        SELECT coalesce(c_custkey, key) AS custkey,
               CASE WHEN c_custkey IS NOT NULL AND key IS NOT NULL
                        THEN round(c_acctbal + delta, 2)
                    WHEN c_custkey IS NULL THEN round(delta, 2)
                    ELSE c_acctbal END AS acctbal,
               coalesce(c_mktsegment, 'NEW') AS mktsegment,
               CASE WHEN c_custkey IS NOT NULL AND key IS NOT NULL THEN 'update'
                    WHEN c_custkey IS NULL THEN 'insert'
                    ELSE 'keep' END AS action
        FROM merged
        WHERE NOT (c_custkey IS NOT NULL AND key IS NOT NULL
                   AND delta > {_MERGE_DELETE_ABOVE})
    """,
    "interval_merge": f"""
        WITH spans AS (
            SELECT user_id,
                   epoch_ms(ts) // 1000 AS s,
                   epoch_ms(ts) // 1000 + {_SPAN_SEC} AS e
            FROM events
        ), flagged AS (
            SELECT user_id, s, e,
                   CASE WHEN max(e) OVER (PARTITION BY user_id ORDER BY s, e
                                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                            IS NULL
                         OR s > max(e) OVER (PARTITION BY user_id ORDER BY s, e
                                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                        THEN 1 ELSE 0 END AS new_island
            FROM spans
        ), islands AS (
            SELECT user_id, s, e,
                   CAST(sum(new_island) OVER (PARTITION BY user_id ORDER BY s, e
                                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS island
            FROM flagged
        )
        SELECT user_id, island,
               min(s) AS span_start, max(e) AS span_end,
               max(e) - min(s) AS span_sec,
               count(*) AS n_events
        FROM islands
        GROUP BY user_id, island
    """,
    "scd2_dimension": """
        WITH changes AS (
            SELECT user_id, event_id,
                   epoch_ms(ts) // 1000 AS ts_sec,
                   round(value, 4) AS attr_value
            FROM events
            WHERE event_type = 'purchase'
        )
        SELECT user_id,
               ts_sec AS valid_from,
               lead(ts_sec) OVER w AS valid_to,
               CAST(row_number() OVER w AS BIGINT) AS version,
               CASE WHEN lead(ts_sec) OVER w IS NULL THEN 1 ELSE 0 END AS is_current,
               attr_value
        FROM changes
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec, event_id)
    """,
    "bloom_filter_probe": f"""
        WITH members AS (
            SELECT c_custkey AS key FROM customer WHERE c_mktsegment = 'BUILDING'
        ), pos AS (
            SELECT unnest([{_bloom_pos_sql('key', 0)},
                           {_bloom_pos_sql('key', 1)},
                           {_bloom_pos_sql('key', 2)}]) AS pos
            FROM members
        ), words AS (
            SELECT CAST(pos // {_BLOOM_WORD_BITS} AS INT) AS word_idx,
                   bit_or(1::BIGINT << CAST(pos % {_BLOOM_WORD_BITS} AS INT)) AS word
            FROM pos GROUP BY 1
        ), probe AS (
            SELECT o.o_orderkey, o.o_custkey,
                   CASE WHEN coalesce((w0.word >> CAST({_bloom_pos_sql('o.o_custkey', 0)} % {_BLOOM_WORD_BITS} AS INT)) & 1, 0) = 1
                         AND coalesce((w1.word >> CAST({_bloom_pos_sql('o.o_custkey', 1)} % {_BLOOM_WORD_BITS} AS INT)) & 1, 0) = 1
                         AND coalesce((w2.word >> CAST({_bloom_pos_sql('o.o_custkey', 2)} % {_BLOOM_WORD_BITS} AS INT)) & 1, 0) = 1
                        THEN 1 ELSE 0 END AS bloom_pass
            FROM orders o
            LEFT JOIN words w0 ON w0.word_idx = CAST({_bloom_pos_sql('o.o_custkey', 0)} // {_BLOOM_WORD_BITS} AS INT)
            LEFT JOIN words w1 ON w1.word_idx = CAST({_bloom_pos_sql('o.o_custkey', 1)} // {_BLOOM_WORD_BITS} AS INT)
            LEFT JOIN words w2 ON w2.word_idx = CAST({_bloom_pos_sql('o.o_custkey', 2)} // {_BLOOM_WORD_BITS} AS INT)
        ), truth AS (
            SELECT p.*, CASE WHEN m.key IS NULL THEN 0 ELSE 1 END AS actual
            FROM probe p LEFT JOIN members m ON p.o_custkey = m.key
        )
        SELECT count(*) AS n_probed,
               CAST(sum(bloom_pass) AS BIGINT) AS n_bloom_pass,
               CAST(sum(actual) AS BIGINT) AS n_true_members,
               CAST(sum(CASE WHEN bloom_pass = 1 AND actual = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
               CAST(sum(CASE WHEN bloom_pass = 0 AND actual = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_false_neg
        FROM truth
    """,
    "zorder_layout": f"""
        WITH zed AS (
            SELECT CAST(l_partkey % 256 AS INT) AS px,
                   CAST(l_suppkey % 256 AS INT) AS sy,
                   {_interleave_sql('CAST(l_partkey % 256 AS INT)', 'CAST(l_suppkey % 256 AS INT)')} AS zval
            FROM lineitem
        )
        SELECT zval >> 10 AS z_bucket,
               count(*) AS n_rows,
               min(px) AS min_px, max(px) AS max_px,
               min(sy) AS min_sy, max(sy) AS max_sy
        FROM zed
        GROUP BY 1
    """,
}

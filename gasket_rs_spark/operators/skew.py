"""Skew mitigation: salted two-stage aggregation (SCALE.md, global posture).

AQE's skew-join splitting handles skewed *joins* automatically; skewed
*aggregation* keys (one giant group swamping a reducer) are handled with
the classic salt → partial-agg → unsalt → final-agg pattern. The witness
aggregates events by event_type (5 keys over ~100k rows at sf0.1 — exactly
the low-cardinality-hot-keys shape) through the salted path and is
oracle-checked against the plain GROUP BY: same answer, but the first
shuffle spreads each hot key over SALT_BUCKETS reducers.

Only algebraic aggregates decompose this way (sum/count/min/max and
anything built from them, e.g. avg = sum/count); the witness carries all
of them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gasket_rs_spark import keys
from gasket_rs_spark.grid import snap
from gasket_rs_spark.tables import load

SALT_BUCKETS = 16


def salted_agg(df: DataFrame, key: str, value: str) -> DataFrame:
    """Two-stage aggregation over a skewed key.

    Salt is derived from a uniform row attribute hash (event_id) rather
    than rand() so the plan stays deterministic and retry-safe.
    """
    salted = df.withColumn("_salt", F.pmod(F.xxhash64("event_id"), F.lit(SALT_BUCKETS)))
    partial = salted.groupBy(key, "_salt").agg(
        F.sum(value).alias("_sum"),
        F.count("*").alias("_cnt"),
        F.min(value).alias("_min"),
        F.max(value).alias("_max"),
    )
    return partial.groupBy(key).agg(
        snap(F.sum("_sum"), 10000).alias("sum_value"),
        F.sum("_cnt").alias("n_events"),
        F.round(F.min("_min"), 6).alias("min_value"),
        F.round(F.max("_max"), 6).alias("max_value"),
        snap(F.sum("_sum") / F.sum("_cnt"), 1000000).alias("avg_value"),
    )


def q_skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted aggregation over the hot event_type keys."""
    return salted_agg(load(spark, sf_dir, "events"), "event_type", "value")


def salted_join(fact: DataFrame, dim: DataFrame, key: str, salt_src: str) -> DataFrame:
    """Salted equi-join for a skewed fact key: replicate the right side
    ×SALT_BUCKETS, salt each fact row deterministically (hash of
    ``salt_src``, not rand() — retry-safe), join on (key, salt). Every
    hot key spreads over SALT_BUCKETS reducers instead of one. Result is
    row-identical to the unsalted join; only the shuffle layout changes."""
    salt_values = F.array(*[F.lit(i) for i in range(SALT_BUCKETS)])
    dim_rep = dim.withColumn("_salt", F.explode(salt_values))
    fact_s = fact.withColumn(
        "_salt", F.pmod(F.xxhash64(salt_src), F.lit(SALT_BUCKETS)).cast("int")
    )
    return fact_s.join(dim_rep, [key, "_salt"]).drop("_salt")


def bucketed_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    horizon_s: int,
) -> DataFrame:
    """Event-time-bucketed interval join — the skew cure for the
    interval/as-of join family (X8/X9 and the stream-stream join's batch
    shape), where salting does NOT apply: the interval predicate pins
    each pair to a (key, time) neighborhood, so the right fix is to make
    event time part of the equi-key rather than spreading rows randomly.

    Semantics: pairs (l, r) with l.key = r.key and
    r.ts ∈ [l.ts − horizon, l.ts] — exactly
    ``streaming.stream.interval_join_streams``'s predicate.

    Rewrite: bucket both sides by floor(unix_seconds(ts) / horizon) —
    TRUE floor, not Spark's truncate-toward-zero ``div``, so the
    two-bucket cover below holds by the one-line identity
    floor((x − H)/H) = floor(x/H) − 1 for ALL timestamp signs,
    pre-epoch included (spelled integer-exactly via pmod; see
    ``_floor_bucket``). A qualifying right row's bucket is then
    floor(l.ts/H) or floor(l.ts/H)−1 (subtracting exactly one bucket
    width shifts the floor by exactly one), so the left side replicates
    ×2 to those buckets and the join becomes an equi-join on
    (key, bucket) with the interval as a residual predicate. Every pair
    is produced exactly once because each right row owns a single
    bucket.

    Scale: the indivisible shuffle/state unit shrinks from
    rows-per-hot-key to rows-per-(hot-key, 2·horizon window) — bounded
    by the key's event RATE, not its total volume, the same bound the
    streaming join's watermark eviction gives state. Answer-invariance
    and the measured partition bound are pinned by
    tests/test_skew_stress_stream.py on an adversarial 30%-hot-user
    corpus (fuzz lane; no registry growth — VERDICT r16 #3), with a
    pre-epoch (negative unix time) leg in the fuzz grid."""
    if left_ts == right_ts:
        raise ValueError(
            "bucketed_interval_join: left_ts and right_ts must be distinct "
            f"column names (both are {left_ts!r}); the residual predicate "
            "references both sides by name"
        )
    tb = "_tb"
    taken = set(left.columns) | set(right.columns)
    while tb in taken:
        tb = "_" + tb

    def _floor_bucket(ts: str) -> F.Column:
        # Integer-exact floor division. Spark's `div` truncates toward
        # zero, which disagrees with floor for negative (pre-1970)
        # timestamps; pmod(x, H) is non-negative, so x - pmod(x, H) is
        # the greatest multiple of H <= x and the div is then exact for
        # all signs.
        x = f"unix_seconds({ts})"
        return F.expr(f"({x} - pmod({x}, {horizon_s})) div {horizon_s}").cast(
            "long"
        )

    lb = _floor_bucket(left_ts)
    left_rep = left.withColumn(tb, F.explode(F.array(lb, lb - 1)))
    right_b = right.withColumn(tb, _floor_bucket(right_ts))
    residual = (F.col(right_ts) <= F.col(left_ts)) & (
        F.col(right_ts) >= F.col(left_ts) - F.expr(f"INTERVAL {horizon_s} SECONDS")
    )
    return (
        left_rep.join(right_b, [key, tb])
        .where(residual)
        .drop(tb)
    )


def q_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join of the events fact (5 hot event_type keys — maximal
    skew) against an event_type attribute table, then an aggregate.

    The 5-row dim stands in for an SF-scaled right side that outgrew the
    broadcast threshold: that is when salting (or AQE skew-split) is the
    remaining lever. Oracle runs the PLAIN unsalted join — the witness
    proves the rewrite is answer-invariant, the physical point (each hot
    key split over 16 reducers) is visible in the shuffle layout."""
    events = load(spark, sf_dir, "events")
    joined = salted_join(events, event_type_weights(events), "event_type", "event_id")
    return weighted_type_totals(joined)


def event_type_weights(events: DataFrame) -> DataFrame:
    """``(event_type, weight)``: each event type weighted by the length of
    its name — the attribute table of the salted and stream-static
    joins."""
    return events.select("event_type").distinct().withColumn(
        "weight", F.length("event_type").cast("double")
    )


def weighted_type_totals(joined: DataFrame) -> DataFrame:
    """Per event_type of the events joined to ``event_type_weights``:
    the event count, the weight and Σ value·weight on the 1e-4 grid."""
    return joined.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.max("weight").alias("weight"),
        snap(F.sum(F.col("value") * F.col("weight")), 10000).alias(
            "weighted_value"
        ),
    )


_SHARDS = 256


def q_shard_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-assignment balance audit — the check a 100 TB writer runs
    before committing a layout: documents hash to 256 shards
    (md5 of doc_id, first two hex nibbles), shard load = Σ token
    counts, and the output is one row of balance statistics: occupied
    shards, total tokens, max/min load, the max/mean imbalance factor,
    and the Gini coefficient of the load distribution (the standard
    skew summary; 0 = perfectly even).

    Determinism: the shard id is derived from md5 hex CHARACTERS via
    ``strpos('0123456789abcdef', c)`` — identical on both engines, no
    hex-integer parsing; loads and both ratio numerators are exact
    int64; Gini uses the rank formulation
    G = (2·Σ i·x_(i) − (n+1)·Σx) / (n·Σx) — ties contribute the same
    Σ i·x under any tie order, so engine sort stability is irrelevant.

    Scale shape: one scan -> 256-group hash agg (map-side
    combinable) → ONE bounded 1-row aggregate; the ranked sum runs
    over the collected 256-element array (sort_array +
    zip_with(sequence) — the bootstrap_ci bounded-rank pattern, no
    single-partition window)."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.size(keys.tokens()).cast("bigint").alias("n_tok")
    )
    hexpos = "instr('0123456789abcdef', substring(md5(cast(doc_id as string)), {i}, 1)) - 1"
    shard = F.expr(f"({hexpos.format(i=1)}) * 16 + ({hexpos.format(i=2)})").cast(
        "bigint"
    )
    loads = (
        docs.select(shard.alias("shard"), "n_tok")
        .groupBy("shard")
        .agg(F.sum("n_tok").cast("bigint").alias("load"))
    )
    one = loads.agg(
        F.count("*").cast("bigint").alias("n_shards"),
        F.sum("load").cast("bigint").alias("total_tokens"),
        F.max("load").alias("max_load"),
        F.min("load").alias("min_load"),
        F.sort_array(F.collect_list("load")).alias("arr"),
    )
    ranked_sum = F.aggregate(
        F.zip_with(
            F.col("arr"),
            F.sequence(F.lit(1).cast("bigint"), F.size("arr").cast("bigint")),
            lambda x, i: x * i,
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return one.select(
        "n_shards",
        "total_tokens",
        "max_load",
        "min_load",
        F.expr("max_load * n_shards * 1000000 div total_tokens")
        .cast("bigint")
        .alias("imbalance6"),
        (
            (F.lit(2) * ranked_sum - (F.col("n_shards") + 1) * F.col("total_tokens"))
            * F.lit(1_000_000)
        )
        .cast("bigint")
        .alias("gini_num"),
    ).select(
        "n_shards",
        "total_tokens",
        "max_load",
        "min_load",
        "imbalance6",
        F.expr("gini_num div (n_shards * total_tokens)").cast("bigint").alias("gini6"),
    )


_HRW_N = 8  # cluster size before the resize (nodes 0..7; resize adds node 8)


def q_rendezvous_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous / highest-random-weight hashing (Thaler & Ravishankar
    1996 — the consistent-placement scheme behind cache/shard routing):
    each document lands on the node with the highest md5(doc:node)
    weight. The witness resizes the cluster from 8 to 9 nodes and
    audits HRW's minimal-disruption contract: one output row per
    (node8 → node9) movement class with its count — the only rows with
    node8 ≠ node9 MUST have node9 = 8 (every moved key moves TO the
    new node; nothing reshuffles between old nodes), and the moved
    fraction concentrates near 1/9.

    Determinism: placement is an argmax over md5 hex strings
    (lexicographic, engine-identical), realized as a windowed
    row_number per doc — ties are impossible in practice (128-bit
    hashes) and broken by node id anyway.

    Scale shape (100 TB): the doc×nodes candidate frame is a row-local
    explode of a 9-literal array (no join), the argmax is one window
    keyed on doc_id, and the audit is a 9²-bounded groupBy. A real
    router computes the same argmax per key in O(nodes) with no
    shuffle at all; the windowed form here exists to be
    oracle-comparable."""
    docs = load(spark, sf_dir, "documents").select("doc_id")
    cand = docs.select(
        "doc_id",
        F.explode(
            F.array(*[F.lit(n) for n in range(_HRW_N + 1)])
        ).alias("node"),
    ).select(
        "doc_id",
        "node",
        F.md5(F.concat_ws(":", F.col("doc_id"), F.col("node"))).alias("h"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("h").desc(), "node")
    ranked = cand.withColumn("rn", F.row_number().over(w))
    node9 = ranked.where(F.col("rn") == 1).select(
        "doc_id", F.col("node").alias("node9")
    )
    w8 = Window.partitionBy("doc_id").orderBy(F.col("h").desc(), "node")
    node8 = (
        cand.where(F.col("node") < _HRW_N)
        .withColumn("rn", F.row_number().over(w8))
        .where(F.col("rn") == 1)
        .select("doc_id", F.col("node").alias("node8"))
    )
    return (
        node8.join(node9, "doc_id")
        .groupBy("node8", "node9")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
        .orderBy("node8", "node9")
    )


_HRW_ORACLE = f"""
    WITH cand AS (
        SELECT d.doc_id, u.node,
               md5(CAST(d.doc_id AS VARCHAR) || ':' || CAST(u.node AS VARCHAR))
                   AS h
        FROM documents d, (SELECT unnest(range({_HRW_N + 1})) AS node) u
    ), n9 AS (
        SELECT doc_id, node AS node9 FROM (
            SELECT doc_id, node,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY h DESC, node) AS rn
            FROM cand
        ) WHERE rn = 1
    ), n8 AS (
        SELECT doc_id, node AS node8 FROM (
            SELECT doc_id, node,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY h DESC, node) AS rn
            FROM cand WHERE node < {_HRW_N}
        ) WHERE rn = 1
    )
    SELECT n8.node8, n9.node9, CAST(count(*) AS BIGINT) AS n_docs
    FROM n8 JOIN n9 USING (doc_id)
    GROUP BY 1, 2
    ORDER BY 1, 2
"""


_SHARD_BALANCE_ORACLE = f"""
    WITH d AS (
        SELECT (strpos('0123456789abcdef',
                       substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
               + (strpos('0123456789abcdef',
                         substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) AS shard,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        FROM documents
    ), loads AS (
        SELECT shard, CAST(sum(n_tok) AS BIGINT) AS load FROM d GROUP BY 1
    ), ranked AS (
        SELECT load, row_number() OVER (ORDER BY load, shard) AS i FROM loads
    ), agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n_shards,
               CAST(sum(load) AS BIGINT) AS total_tokens,
               max(load) AS max_load, min(load) AS min_load,
               CAST(sum(i * load) AS BIGINT) AS ranked_sum
        FROM ranked
    )
    SELECT n_shards, total_tokens, max_load, min_load,
           CAST(max_load * n_shards * 1000000 // total_tokens AS BIGINT)
               AS imbalance6,
           CAST((2 * ranked_sum - (n_shards + 1) * total_tokens) * 1000000
                // (n_shards * total_tokens) AS BIGINT) AS gini6
    FROM agg
"""


_RING_NODES = 8  # physical nodes before the resize (node 8 joins)
_RING_VNODES = 16  # virtual nodes per physical node


def q_consistent_hash_ring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONSISTENT HASHING ring with virtual nodes (Karger et al. 1997
    — the other classic minimal-disruption placement beside
    q_rendezvous_hashing): each physical node owns 16 md5-placed
    vnodes on a 48-bit ring, a key routes to the first vnode clockwise
    from its own hash (wrapping), and the witness resizes 8 → 9 nodes
    and audits the contract: every movement class with node8 ≠ node9
    must land ON the new node, and the moved share is ≈ 1/9 (vnodes
    tighten its variance — the reason they exist).

    Determinism: ring positions and key hashes are 48-bit md5-prefix
    ints; "first clockwise" is min(position ≥ key) with wrap-to-min —
    realized as two bounded aggregates over the BROADCAST vnode table
    (128/144 rows), never a window over keys. Scale: a real router
    binary-searches the ring per key with zero shuffle; this plan is
    one broadcast join + per-key min — the oracle-comparable
    equivalent."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        keys.hex_int(F.md5(F.col("doc_id").cast("string")), 12).alias("kh"),
    )

    def ring(n_nodes: int, tag: str) -> DataFrame:
        vn = spark.range(n_nodes * _RING_VNODES).select(
            (F.col("id") % n_nodes).cast("bigint").alias("node"),
            keys.hex_int(
                F.md5(
                    F.concat_ws(
                        ":",
                        (F.col("id") % n_nodes).cast("string"),
                        F.expr(f"id div {n_nodes}").cast("string"),
                        F.lit("ring"),
                    )
                ),
                12,
            ).alias("pos"),
        )
        wrap = vn.orderBy("pos", "node").limit(1).select(
            F.col("node").alias(f"wrap_{tag}")
        )
        hit = (
            docs.join(F.broadcast(vn), F.col("pos") >= F.col("kh"))
            .groupBy("doc_id")
            .agg(
                F.min(F.struct(F.col("pos"), F.col("node"))).alias("s")
            )
            .select("doc_id", F.col("s.node").alias(f"hit_{tag}"))
        )
        return (
            docs.join(hit, "doc_id", "left")
            .crossJoin(F.broadcast(wrap))
            .select(
                "doc_id",
                F.coalesce(f"hit_{tag}", f"wrap_{tag}").alias(f"node_{tag}"),
            )
        )

    r8 = ring(_RING_NODES, "a")
    r9 = ring(_RING_NODES + 1, "b")
    return (
        r8.join(r9, "doc_id")
        .groupBy(F.col("node_a").alias("node8"), F.col("node_b").alias("node9"))
        .agg(F.count("*").cast("bigint").alias("n_docs"))
        .orderBy("node8", "node9")
    )


def _ring_oracle() -> str:
    def ring_sql(n_nodes: int, tag: str) -> str:
        return f"""
        vn_{tag} AS (
            SELECT CAST(i % {n_nodes} AS BIGINT) AS node,
                   ('0x' || substr(md5(CAST(i % {n_nodes} AS VARCHAR) || ':'
                        || CAST(i // {n_nodes} AS VARCHAR) || ':ring'),
                        1, 12))::BIGINT AS pos
            FROM (SELECT unnest(generate_series(0,
                      {n_nodes * _RING_VNODES - 1})) AS i)
        ), wrap_{tag} AS (
            SELECT node FROM vn_{tag} ORDER BY pos, node LIMIT 1
        ), hit_{tag} AS (
            SELECT k.doc_id, min_by(v.node, v.pos) AS node
            FROM keys k JOIN vn_{tag} v ON v.pos >= k.kh
            GROUP BY 1
        ), route_{tag} AS (
            SELECT k.doc_id,
                   COALESCE(h.node, (SELECT node FROM wrap_{tag}))
                       AS node_{tag}
            FROM keys k LEFT JOIN hit_{tag} h ON k.doc_id = h.doc_id
        )"""

    return f"""
        WITH keys AS (
            SELECT doc_id,
                   ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))
                       ::BIGINT AS kh
            FROM documents
        ), {ring_sql(_RING_NODES, "a")}, {ring_sql(_RING_NODES + 1, "b")}
        SELECT a.node_a AS node8, b.node_b AS node9,
               CAST(count(*) AS BIGINT) AS n_docs
        FROM route_a a JOIN route_b b ON a.doc_id = b.doc_id
        GROUP BY 1, 2 ORDER BY 1, 2
    """


ORACLES: dict[str, str] = {
    "consistent_hash_ring": _ring_oracle(),
    "shard_balance_audit": _SHARD_BALANCE_ORACLE,
    "rendezvous_hashing": _HRW_ORACLE,
    "skew_salted_join": """
        WITH dim AS (
            SELECT DISTINCT event_type,
                   CAST(len(event_type) AS DOUBLE) AS weight
            FROM events
        )
        SELECT e.event_type,
               count(*) AS n_events,
               max(d.weight) AS weight,
               floor(sum(e.value * d.weight) * 10000 + 0.5) / 10000 AS weighted_value
        FROM events e JOIN dim d ON e.event_type = d.event_type
        GROUP BY e.event_type
    """,
    "skew_salted_agg": """
        SELECT event_type,
               floor(sum(value) * 10000 + 0.5) / 10000 AS sum_value,
               count(*) AS n_events,
               round(min(value), 6) AS min_value,
               round(max(value), 6) AS max_value,
               floor(sum(value) / count(*) * 1000000 + 0.5) / 1000000 AS avg_value
        FROM events
        GROUP BY event_type
    """,
}

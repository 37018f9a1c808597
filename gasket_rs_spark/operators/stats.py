"""Sampling & statistics operators — training-data-pipeline extensions
(deterministic sampling / splits, exact percentiles, correlation, pivot).

Sampling at 100 TB must be (a) a narrow map — no shuffle, no count-first
pass — and (b) reproducible across runs and engines. Both are satisfied by
salted-hash bucketing: ``md5(key)`` is identical everywhere, so "bucket <
k of 16" is a stable property of the row, the sample composes with
incremental data, and the DuckDB oracle reproduces it bit-for-bit.
(``rand(seed)`` is partition-order dependent in Spark — unusable.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gasket_rs_spark import keys, store
from gasket_rs_spark.grid import snap, units
from gasket_rs_spark.tables import load


def _md5_bucket(key_col, buckets: int = 16):
    """Deterministic bucket 0..buckets-1 from the first hex digit(s) of
    md5(key) — engine-independent."""
    return keys.hex_int(F.md5(key_col.cast("string")), 2) % buckets


def q_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~1/4 deterministic sample of documents via md5 bucketing."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.withColumn("bucket", _md5_bucket(F.col("doc_id")))
        .where(F.col("bucket") < 4)
        .select("doc_id", "lang", "bucket")
    )


def q_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 75/25 train/test split, summarized per language —
    the reproducible-split primitive every training pipeline needs."""
    docs = load(spark, sf_dir, "documents")
    split = F.when(_md5_bucket(F.col("doc_id")) < 12, F.lit("train")).otherwise(F.lit("test"))
    return (
        docs.withColumn("split", split)
        .groupBy("lang", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        )
    )


_STRATA_BUCKETS = 256


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-balanced stratified sample — the rebalancing step a
    training mix runs over a skewed corpus.

    Each language is down-sampled toward the smallest language's count:
    per-lang keep-threshold = floor(min_count / count × 256) md5-buckets
    of 256. The 5-row language stats broadcast back onto the corpus (one
    narrow map over the docs, no second corpus shuffle), and the md5
    bucket makes the kept set deterministic and engine-independent.
    Emits per-lang kept counts (value-checked vs the DuckDB oracle).
    """
    docs = load(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count("*").alias("n_lang"))
    mins = counts.agg(F.min("n_lang").alias("n_min"))
    # (n_min * 256) / n_lang with this exact association on BOTH sides —
    # a different float evaluation order could flip floor() at an integer
    # boundary (memory: half-grid rule).
    thresholds = counts.crossJoin(F.broadcast(mins)).select(
        "lang",
        F.floor((F.col("n_min") * _STRATA_BUCKETS) / F.col("n_lang")).alias("keep_lt"),
    )
    kept = (
        docs.withColumn("bucket", _md5_bucket(F.col("doc_id"), _STRATA_BUCKETS))
        .join(F.broadcast(thresholds), "lang")
        .where(F.col("bucket") < F.col("keep_lt"))
    )
    return kept.groupBy("lang").agg(
        F.count("*").alias("n_kept"),
        F.min("keep_lt").alias("keep_lt"),
    )


def q_stats_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles of order value per status.

    ``percentile`` (exact) needs the full group sorted — fine for bounded
    group counts; at 100 TB with huge groups switch to
    ``approx_percentile`` (t-digest, mergeable map-side).
    """
    orders = load(spark, sf_dir, "orders")
    pct = F.percentile("o_totalprice", F.lit([0.25, 0.5, 0.75, 0.95]))
    return orders.groupBy("o_orderstatus").agg(
        F.round(F.element_at(pct, 1), 4).alias("p25"),
        F.round(F.element_at(pct, 2), 4).alias("p50"),
        F.round(F.element_at(pct, 3), 4).alias("p75"),
        F.round(F.element_at(pct, 4), 4).alias("p95"),
    )


def q_stats_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlation / covariance / stddev per group (co-moment aggregates —
    single-pass, mergeable, scale-safe)."""
    li = load(spark, sf_dir, "lineitem")
    # + 0.0 after round: corr/covar cross zero, and round(-1e-9, 6) is
    # IEEE -0.0 — equal to 0.0 numerically but hash-distinct (see the
    # verify skill's negative-zero gotcha).
    return li.groupBy("l_returnflag").agg(
        (F.round(F.corr("l_quantity", "l_extendedprice"), 6) + F.lit(0.0)).alias("corr_qty_price"),
        (F.round(F.covar_samp("l_quantity", "l_discount"), 6) + F.lit(0.0)).alias("covar_qty_disc"),
        F.round(F.stddev_samp("l_quantity"), 6).alias("std_qty"),
        F.round(F.var_samp("l_discount"), 6).alias("var_disc"),
    )


def q_agg_arg_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``max_by`` / ``min_by`` (arg-extreme) aggregates with a
    deterministic composite tie-break: the ordering key is
    ``struct(metric, event_id)`` — lexicographic struct comparison, so
    equal metrics resolve by the globally-unique event_id and the answer
    is engine-stable. A bare ``max_by(x, value)`` with duplicated values
    is nondeterministic in ANY distributed engine — same rule as window
    ORDER BY tiebreaks. The oracle intentionally uses a different
    formulation (row_number over value DESC, event_id DESC) so the EXACT
    match cross-checks Spark's struct-ordering semantics rather than
    mirroring the same builtin. Single hash aggregation, mergeable
    map-side — scale-clean."""
    events = load(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.max_by("user_id", F.struct(F.col("value"), F.col("event_id"))).alias(
            "top_value_user"
        ),
        F.min_by("user_id", F.struct(F.col("ts"), F.col("event_id"))).alias(
            "first_user"
        ),
        F.round(F.max("value"), 4).alias("max_value"),
        F.count("*").alias("n"),
    )


def q_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT mergeable distinct counts via bitmap aggregation — the
    middle ground between count_distinct (exact, but re-shuffles raw
    values on every rollup) and HLL sketches (mergeable but approximate).
    Values bucket into fixed 32k-bit bitmaps (``bitmap_bucket_number`` /
    ``bitmap_bit_position``), per-bucket bitmaps OR-merge associatively —
    so pre-aggregated per-partition/per-day bitmaps roll up to exact
    global distincts without touching raw data again, the incremental
    100 TB ingest shape. The oracle is a plain COUNT(DISTINCT): the
    bitmap path must be exactly lossless, not approximately."""
    events = load(spark, sf_dir, "events")
    per_bucket = events.groupBy(
        "event_type", F.bitmap_bucket_number("user_id").alias("bkt")
    ).agg(F.bitmap_construct_agg(F.bitmap_bit_position("user_id")).alias("bm"))
    return per_bucket.groupBy("event_type").agg(
        F.sum(F.bitmap_count("bm")).cast("bigint").alias("n_users")
    )


def q_pivot_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: per-user event counts spread across event-type columns."""
    events = load(spark, sf_dir, "events")
    return (
        events.groupBy("user_id")
        .pivot("event_type", ["click", "view", "purchase", "signup", "error"])
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )


def q_mixture_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture sampling: every source gets a target keep-rate and
    rows are kept when their md5 fraction falls under it — the knob a
    training mix uses to up/down-weight domains (e.g. books 1.0, web
    0.25). Rates here derive from the source's numeric suffix
    ((N % 4 + 1)/4 ∈ {.25,.5,.75,1}) as a deterministic stand-in for a
    mixture config table.

    Scale: a narrow map — no shuffle, no count-first pass, composes with
    incremental ingest (same row always kept). The keep test compares
    integers (md5 bucket of 1024 < rate·1024, both exact) so there is no
    float-boundary risk between engines."""
    docs = load(spark, sf_dir, "documents")
    rate = ((F.substring(F.col("source"), 4, 10).cast("int") % 4) + 1) / F.lit(4.0)
    frac1024 = keys.hex_int(F.md5(F.col("doc_id").cast("string")), 4) % 1024
    return (
        docs.withColumn("keep_rate", rate)
        .where(frac1024 < F.col("keep_rate") * 1024)
        .groupBy("source", "keep_rate")
        .agg(F.count("*").alias("n_kept"))
    )


_MIX_ALPHA = 0.3  # temperature exponent (multilingual-T5 / UniMax style)
_MIX_BUDGET = 10_000  # epoch token budget the quotas divide


def q_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture weights — the data-mixing step that sets
    per-domain sampling rates for training (p_i ∝ n_i^α with α < 1
    up-weights small domains; α = 0.3 is the multilingual-T5 convention):
    per source, raw corpus share, temperature share, the resulting boost
    factor, and the epoch quota a loader would draw against a fixed
    budget.

    Scale shape: ONE count aggregation over the corpus (map-side
    combinable), then the normalizer is a broadcast 1-row sum over the
    source-cardinality frame — no second corpus pass, no window over
    data-sized frames. n^α is spelled exp(α·ln n) identically on both
    engines so the libm call sequence matches; shares snap on the 1e-6
    floor grid (pow ratios never land on the half-grid)."""
    docs = load(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count("*").alias("n_docs"))
    powed = counts.withColumn(
        "w", F.exp(F.lit(_MIX_ALPHA) * F.log(F.col("n_docs").cast("double")))
    )
    norm = powed.agg(
        F.sum("w").alias("w_sum"), F.sum("n_docs").alias("n_total")
    )
    return (
        powed.crossJoin(F.broadcast(norm))
        .select(
            "source",
            "n_docs",
            snap(F.col("n_docs") / F.col("n_total")).alias("raw_share"),
            snap(F.col("w") / F.col("w_sum")).alias("temp_share"),
            snap(
                (F.col("w") / F.col("w_sum"))
                / (F.col("n_docs") / F.col("n_total"))
            ).alias("boost"),
            units(F.col("w") / F.col("w_sum"), _MIX_BUDGET).alias("epoch_quota"),
        )
    )


def q_train_shard_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training shuffle + sharding: every doc gets a
    shard (md5 bucket of 32) and a within-shard ordinal (md5-ordered) —
    the layout a data loader consumes (epoch order = shard-major,
    reproducible across runs, engines, and re-ingests).

    Scale note: the naive "global shuffle" is ORDER BY rand() — a
    single-partition global sort (or a nondeterministic repartition).
    Hash-sharding first makes the window PARTITIONED (32-way parallel
    sort of n/32 rows each), and the md5 sort key inside each shard gives
    the pseudo-random order. No unpartitioned window, no rand()."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    md5hex = F.md5(F.col("doc_id").cast("string"))
    w = Window.partitionBy("shard").orderBy("md5hex", "doc_id")
    return (
        docs.select(
            "doc_id",
            _md5_bucket(F.col("doc_id"), 32).alias("shard"),
            md5hex.alias("md5hex"),
        )
        .withColumn("ordinal", F.row_number().over(w).cast("bigint"))
        .select("doc_id", "shard", "ordinal")
    )


_EPOCH_N = 3
_EPOCH_SHARDS = 32


def q_epoch_shard_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-EPOCH training order: the per-epoch reshuffle a data loader
    needs (same corpus, different deterministic order every epoch —
    repeating one fixed order measurably hurts convergence). Extends
    q_train_shard_order by salting the md5 shard/order key with the epoch
    number, so each epoch gets an independent pseudo-random permutation
    that is still reproducible across runs, engines, and re-ingests.

    Witness output is per (epoch, shard) accounting: document count, the
    first document in loader order, and the Σ doc_id·ordinal checksum —
    which pins the ENTIRE within-shard permutation (any swap of two
    distinct docs changes the sum), so the driver's hash check covers the
    full order without emitting corpus-sized rows.

    Scale shape: the epoch dimension is a 3-row broadcast cross join
    (corpus scanned once, rows ×epochs — exactly what a loader
    materializes anyway); ordering is a window PARTITIONED by
    (epoch, shard) — 96-way parallel sort of n/32 rows, never global."""
    docs = load(spark, sf_dir, "documents").select("doc_id")
    epochs = spark.range(_EPOCH_N).select(F.col("id").cast("int").alias("epoch"))
    salted = F.md5(
        F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("epoch").cast("string"))
    )
    keyed = docs.crossJoin(F.broadcast(epochs)).select(
        "doc_id",
        "epoch",
        salted.alias("md5hex"),
        (keys.hex_int(salted, 2) % _EPOCH_SHARDS).alias("shard"),
    )
    w = Window.partitionBy("epoch", "shard").orderBy("md5hex", "doc_id")
    ranked = keyed.withColumn("ordinal", F.row_number().over(w).cast("bigint"))
    return ranked.groupBy("epoch", "shard").agg(
        F.count("*").alias("n_docs"),
        F.min(F.when(F.col("ordinal") == 1, F.col("doc_id")))
        .cast("bigint")
        .alias("first_doc"),
        F.sum(F.col("doc_id") * F.col("ordinal")).cast("bigint").alias("order_checksum"),
    )


_WINSOR_LO = 0.01
_WINSOR_HI = 0.99


def q_winsorize_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorization — the standard robust-preprocessing clip
    before statistics/training: per event type, the exact p01/p99 order
    statistics (k-th smallest with k = ceil(q·n) — rank-based, no
    interpolation, so both engines select the SAME stored value) and the
    mean before/after clipping to them.

    Scale shape: one row_number window PARTITIONED by group (parallel
    per-group sort, never a global one), the two cut rows join back
    broadcast-sized (2 rows per group), and the clipped mean is a second
    map-side aggregation. Means snap on the 1e-6 floor grid."""
    ev = load(spark, sf_dir, "events").select("event_type", "value")
    w = Window.partitionBy("event_type").orderBy("value")
    ranked = ev.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count("*").over(Window.partitionBy("event_type"))
    )
    cuts = (
        ranked.where(
            (F.col("rn") == F.ceil(F.lit(_WINSOR_LO) * F.col("n")))
            | (F.col("rn") == F.ceil(F.lit(_WINSOR_HI) * F.col("n")))
        )
        .groupBy("event_type")
        .agg(F.min("value").alias("p_lo"), F.max("value").alias("p_hi"))
    )
    clipped = F.least(F.greatest(F.col("value"), F.col("p_lo")), F.col("p_hi"))
    return (
        ev.join(F.broadcast(cuts), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.min("p_lo").alias("p01"),
            F.min("p_hi").alias("p99"),
            snap(F.avg("value")).alias("mean_raw"),
            snap(F.avg(clipped)).alias("mean_winsorized"),
        )
    )


def _lang_source_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: the χ² statistic of the lang × source contingency table
    (snapped at 6dp) with its cell count ``n_cells``, total ``n`` and
    dimension sizes ``r`` (langs) and ``c`` (sources). Expected counts
    are row_total·col_total/N over the FULL zero-filled grid, so absent
    cells contribute their expected mass.

    Scale: one (lang, source) count aggregation; the grid is |langs|×
    |sources| (dimension-sized, broadcast cross join); N and the
    marginals are broadcast 1-row/dim-sized frames."""
    docs = load(spark, sf_dir, "documents")
    obs = docs.groupBy("lang", "source").agg(F.count("*").alias("o"))
    row_t = obs.groupBy("lang").agg(F.sum("o").alias("rt"))
    col_t = obs.groupBy("source").agg(F.sum("o").alias("ct"))
    n_t = obs.agg(F.sum("o").alias("n"))
    grid = (
        row_t.crossJoin(F.broadcast(col_t))
        .join(obs, ["lang", "source"], "left")
        .crossJoin(F.broadcast(n_t))
        .select(
            F.coalesce("o", F.lit(0)).alias("o"),
            (F.col("rt") * F.col("ct") / F.col("n")).alias("e"),
        )
    )
    cell = F.pow(F.col("o") - F.col("e"), 2) / F.col("e")
    r_c = row_t.crossJoin(F.broadcast(col_t)).agg(
        F.countDistinct("lang").alias("r"), F.countDistinct("source").alias("c")
    )
    return grid.agg(
        snap(F.sum(cell)).alias("chi2"),
        F.count("*").alias("n_cells"),
        F.sum("o").alias("n"),
    ).crossJoin(F.broadcast(r_c))


def q_lang_source_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test of the lang × source contingency
    table — the distribution-QA check a corpus build runs to detect
    source-conditional language skew. Expected counts are
    row_total·col_total/N over the FULL zero-filled grid (absent cells
    contribute their expected mass — the same zero-fill lesson as the
    drift witness); the statistic snaps at 6dp, dof = (R−1)(C−1)."""
    return _lang_source_chi2(spark, sf_dir).select(
        "chi2",
        "n_cells",
        "n",
        ((F.col("r") - 1) * (F.col("c") - 1)).alias("dof"),
    )


def q_agg_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group linear-regression aggregates (regr_slope / intercept /
    r2 / count) of event value against time-of-day seconds — the
    one-pass OLS family (all algebraic: five running sums). Snapped with
    the floor-grid trick at 6dp: the sums-of-products differ across
    engines only in summation order."""
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.col("value").alias("y"),
        (F.floor(F.unix_millis("ts") / F.lit(1000)) % 86400).cast("double").alias("x"),
    )

    return ev.groupBy("event_type").agg(
        F.regr_count("y", "x").alias("n_pts"),
        snap(F.regr_slope("y", "x")).alias("slope"),
        snap(F.regr_intercept("y", "x")).alias("intercept"),
        snap(F.regr_r2("y", "x")).alias("r2"),
        snap(F.regr_avgx("y", "x")).alias("avg_x"),
        snap(F.regr_avgy("y", "x")).alias("avg_y"),
    )


def q_outlier_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IQR outlier screening per event type (Tukey fences): values
    outside [q1 − 1.5·IQR, q3 + 1.5·IQR] are flagged; the witness emits
    the per-type fences and outlier counts — the standard numeric
    cleaning gate before stats/training. Two passes over one shuffle
    key: exact quantiles per type (bounded group count), fences
    broadcast back onto the rows."""
    ev = load(spark, sf_dir, "events")
    pct = F.percentile("value", F.lit([0.25, 0.75]))
    fences = ev.groupBy("event_type").agg(
        F.element_at(pct, 1).alias("q1"),
        F.element_at(pct, 2).alias("q3"),
    ).select(
        "event_type",
        "q1",
        "q3",
        # fences snapped at 4dp so a value within 1 ulp of the raw fence
        # can't flip the count between engines
        F.round(F.col("q1") - 1.5 * (F.col("q3") - F.col("q1")), 4).alias("lo"),
        F.round(F.col("q3") + 1.5 * (F.col("q3") - F.col("q1")), 4).alias("hi"),
    )
    flagged = ev.join(F.broadcast(fences), "event_type")
    return flagged.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.max("q1"), 4).alias("q1"),
        F.round(F.max("q3"), 4).alias("q3"),
        F.sum((F.col("value") < F.col("lo")).cast("int")).alias("n_low"),
        F.sum((F.col("value") > F.col("hi")).cast("int")).alias("n_high"),
    )


def q_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: recency (last order epoch), frequency
    (order count), monetary (revenue sum) per customer, quartiled by
    VALUE THRESHOLDS (exact p25/p50/p75 per metric, snapped at 4dp and
    broadcast back) rather than a global ntile window — rank-based cuts
    need a customer-dim-wide sort that wedges at 100 TB; threshold cuts
    are one bounded aggregate + a narrow map. Boundary determinism: the
    underlying metrics sit on integer / 2dp grids, so the 4dp-snapped
    thresholds compare identically cross-engine. Emits per-segment
    cohort sizes and revenue (≤64 rows at any SF)."""
    orders = load(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        # o_orderdate reads as TIMESTAMP_NTZ; the session is pinned UTC so
        # the cast is value-preserving (same convention as tables.load)
        F.unix_seconds(F.max("o_orderdate").cast("timestamp")).alias("recency"),
        F.count("*").cast("double").alias("frequency"),
        F.round(F.sum("o_totalprice"), 2).alias("monetary"),
    )

    def cuts(col: str):
        pct = F.percentile(col, F.lit([0.25, 0.5, 0.75]))
        return [
            F.round(F.element_at(pct, i + 1), 4).alias(f"{col}_p{q}")
            for i, q in enumerate((25, 50, 75))
        ]

    fences = per_cust.agg(
        *cuts("recency"), *cuts("frequency"), *cuts("monetary")
    )

    def quartile(col: str):
        # 4 = bottom quartile ... 1 = top quartile (value >= p75)
        return (
            F.when(F.col(col) >= F.col(f"{col}_p75"), 1)
            .when(F.col(col) >= F.col(f"{col}_p50"), 2)
            .when(F.col(col) >= F.col(f"{col}_p25"), 3)
            .otherwise(4)
        )

    cut = per_cust.crossJoin(F.broadcast(fences)).select(
        "monetary",
        quartile("recency").alias("r_q"),
        quartile("frequency").alias("f_q"),
        quartile("monetary").alias("m_q"),
    )
    return cut.groupBy("r_q", "f_q", "m_q").agg(
        F.count("*").alias("n_customers"),
        F.round(F.sum("monetary"), 2).alias("segment_revenue"),
    )


_WEIGHTED_K = 25


def q_weighted_sample_aes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis A-ES):
    each doc draws a deterministic uniform u from its md5 (engine-
    portable), gets key u^(1/w) with weight w = n_chars, and the global
    top-25 keys are the sample — longer docs proportionally more likely,
    no ORDER BY rand(), reruns identical. Keys are snapped at 9dp with
    a doc_id tiebreak so cross-engine ulp drift can't flip the cut.
    Top-k is TakeOrdered (no global sort); at 100 TB the same key is a
    per-group window for per-stratum quotas."""
    docs = load(spark, sf_dir, "documents").where(F.col("n_chars") > 0)
    h32 = keys.hex_int(F.md5(F.col("doc_id").cast("string")), 8)
    u = h32.cast("double") / F.lit(4294967296.0)
    key = F.round(F.pow(u, 1.0 / F.col("n_chars")), 9)
    return (
        docs.select("doc_id", "lang", "n_chars", key.alias("sample_key"))
        .orderBy(F.col("sample_key").desc(), "doc_id")
        .limit(_WEIGHTED_K)
    )


_RESERVOIR_K = 10


def q_reservoir_sample_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-k per-group deterministic reservoir: exactly 10 documents
    per language, chosen by md5(doc_id) order — the bounded eval-set /
    inspection-sample carve every corpus pipeline needs. Unlike the
    rate-based stratified sample (keep-probability per stratum), this
    guarantees an exact per-group count. row_number over a
    (lang, md5-order) window — one shuffle; the md5 tiebreak doubles as
    the uniform "random" order, reproducible across engines and runs
    (never ORDER BY rand(), per the train_shard_order discipline)."""
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        load(spark, sf_dir, "documents")
        .select("doc_id", "lang", "n_chars", F.row_number().over(w).alias("pick"))
        .where(F.col("pick") <= _RESERVOIR_K)
    )


_UNIMAX_EMAX = 2  # max epochs per stratum; integer so capacities stay exact


def q_mixture_unimax_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax token-budget allocation (Chung et al. 2023, "UniMax: Fairer
    and More Effective Language Sampling for Large-Scale Multilingual
    Pretraining"): spread a token budget over source strata, capping each
    stratum at ``_UNIMAX_EMAX`` epochs of its own data and waterfilling
    the remainder uniformly over the uncapped strata. Complements
    q_mixture_temperature (smooth n^alpha re-weighting) with the
    hard-epoch-cap policy large multilingual runs actually use.

    The fixture's 20 sources are deliberately size-uniform, so strata are
    formed by UNEQUAL source grouping (10/5/3/2 sources → ~50/25/15/10%
    token mass) — the planted-skew discipline (_hh_stream): with budget =
    one epoch of the full corpus and E_max = 2, the smallest stratum caps
    (2×10% = 20% < the 25% fair share) and the other three waterfill,
    so both branches of the policy are exercised at every SF.

    The waterfill split uses the closed form — stratum x is capped iff
    Σ_j min(c_j, c_x) ≤ B (equivalent to c_x ≤ τ where τ solves
    Σ min(c_i, τ) = B, since Σ min(c_j, t) is nondecreasing in t) — so
    the whole allocation is joins + aggregates over the 4-row strata
    frame: no iteration, no single-partition window, integer-exact until
    the two final divisions (snapped at 6dp identically cross-engine).

    Scale shape: ONE corpus pass (token count agg, map-side combinable);
    everything downstream operates on the stratum-cardinality frame via
    broadcast cross joins — the mixture_temperature pattern."""
    docs = load(spark, sf_dir, "documents")
    src_num = F.substring("source", 4, 8).cast("int")
    stratum = (
        F.when(src_num < 10, F.lit("a"))
        .when(src_num < 15, F.lit("b"))
        .when(src_num < 18, F.lit("c"))
        .otherwise(F.lit("d"))
    )
    ntok = F.size(F.filter(keys.tokens(), lambda x: x != F.lit("")))
    strata = store.materialize(
        docs.select(stratum.alias("stratum"), ntok.alias("nt"))
        .groupBy("stratum")
        .agg(F.sum("nt").cast("bigint").alias("n_tokens"))
        .withColumn(
            "cap_tokens", (F.col("n_tokens") * _UNIMAX_EMAX).cast("bigint")
        ),
        # strata feeds THREE consumers (minsum self-join both sides +
        # budget agg): without truncation the corpus token-count pass
        # re-executes per branch (6 scans in the physical plan — measured
        # round 10). The frame is 4 rows; materializing it is free.
        "stats.unimax_strata", eager=True,
    )
    budget = strata.agg(F.sum("n_tokens").cast("bigint").alias("budget"))
    minsums = (
        strata.crossJoin(
            F.broadcast(strata.select(F.col("cap_tokens").alias("c_j")))
        )
        .groupBy("stratum", "n_tokens", "cap_tokens")
        .agg(F.sum(F.least("c_j", "cap_tokens")).cast("bigint").alias("minsum"))
    )
    flagged = minsums.crossJoin(F.broadcast(budget)).withColumn(
        "capped", F.col("minsum") <= F.col("budget")
    )
    pools = flagged.agg(
        F.sum(F.when(F.col("capped"), F.col("cap_tokens")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("s_cap"),
        F.sum(F.when(F.col("capped"), F.lit(0)).otherwise(F.lit(1)))
        .cast("bigint")
        .alias("k_un"),
    )
    alloc_raw = F.when(F.col("capped"), F.col("cap_tokens").cast("double")).otherwise(
        (F.col("budget") - F.col("s_cap")) / F.col("k_un")
    )
    return flagged.crossJoin(F.broadcast(pools)).select(
        "stratum",
        "n_tokens",
        "cap_tokens",
        "capped",
        snap(alloc_raw).alias("alloc_tokens"),
        # Third guard audit (r14): n_tokens counts NON-EMPTY whitespace
        # tokens (the filtered-split spelling), so a stratum whose docs
        # are all empty reads 0 — legal, and Spark's ANSI session raises
        # DIVIDE_BY_ZERO (DuckDB: NULL). greatest(, 1) pins the
        # degenerate stratum at epochs = alloc (its alloc is 0 anyway:
        # cap_tokens = 0 and an all-capped board short-circuits the
        # uncapped branch); n_tokens >= 0 by construction, so the
        # greatest() floor cannot flip a sign.
        snap(alloc_raw / F.greatest(F.col("n_tokens"), F.lit(1))).alias(
            "epochs"
        ),
    )


def q_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between the English and
    non-English document-length distributions — the distribution-drift
    test that catches SHAPE changes the L1-over-shares drift witness
    (distribution_drift_weekly) can't see (same category shares, shifted
    lengths). D = max_s |F_en(s) - F_rest(s)| over the empirical CDFs.

    No global sort, no float CDFs until the end: lengths histogram into
    their exact integer values (bounded by the value range), cumulate
    both samples via ONE bounded theta join, and take the sup gap in
    CROSS-MULTIPLIED int64 units — |cum_a·n_b − cum_b·n_a| — so the
    max comparison is exact integer arithmetic; the single division by
    n_a·n_b happens once, snapped at 6dp. Also reports the classic
    α=0.05 two-sample threshold 1.358·√((n_a+n_b)/(n_a·n_b)) and the
    reject decision, both derived from the same integers. n_a·n_b
    carries greatest(..., 1.0) on both engines: a one-language corpus
    would otherwise hit 0/0 (the ADVICE-r11 class)."""
    docs = load(spark, sf_dir, "documents")
    hist = store.materialize(
        docs.select(
            F.col("n_chars").cast("bigint").alias("s"),
            (F.col("lang") == "en").cast("int").alias("is_a"),
        )
        .groupBy("s")
        .agg(
            F.sum("is_a").cast("bigint").alias("ca"),
            F.sum(1 - F.col("is_a")).cast("bigint").alias("cb"),
        ),
        "stats.ks_hist", eager=True,  # bounded rows; two consumers
    )
    h2 = hist.select(
        F.col("s").alias("s2"), F.col("ca").alias("ca2"), F.col("cb").alias("cb2")
    )
    cum = (
        hist.join(h2, F.col("s2") <= F.col("s"), "left")
        .groupBy("s")
        .agg(
            F.sum("ca2").cast("bigint").alias("cum_a"),
            F.sum("cb2").cast("bigint").alias("cum_b"),
        )
    )
    tot = hist.agg(
        F.sum("ca").cast("bigint").alias("na"),
        F.sum("cb").cast("bigint").alias("nb"),
    )
    gap = (
        cum.crossJoin(F.broadcast(tot))
        .agg(
            F.max(
                F.abs(F.col("cum_a") * F.col("nb") - F.col("cum_b") * F.col("na"))
            )
            .cast("bigint")
            .alias("gap_x"),
            F.max("na").cast("bigint").alias("na"),
            F.max("nb").cast("bigint").alias("nb"),
        )
    )
    # greatest(..., 1) on the pair product (both engines): a corpus with
    # only one language side would hit 0/0 -> NaN (the ADVICE-r11 class)
    nanb = F.greatest((F.col("na") * F.col("nb")).cast("double"), F.lit(1.0))
    d = F.col("gap_x").cast("double") / nanb
    thresh = F.lit(1.358) * F.sqrt(
        (F.col("na") + F.col("nb")).cast("double") / nanb
    )
    # reject derived from the SNAPPED values, not the raw doubles — a
    # raw comparison within 1 ulp of the sqrt-derived threshold could
    # differ per engine; snapped operands are bit-identical
    return gap.select(
        "na",
        "nb",
        snap(d).alias("ks_stat"),
        snap(thresh).alias("reject_threshold"),
        (snap(d) > snap(thresh)).alias("reject_h0"),
    )


def _en_length_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The score histogram of the n_chars-vs-English classifier: one row
    per exact integer score ``s`` = n_chars with its positive (``np``,
    lang = 'en') and negative (``nn``) counts. One map-side-combinable
    groupBy, bounded by the score's value range, not the corpus;
    checkpointed because every consumer reads it twice."""
    docs = load(spark, sf_dir, "documents")
    return store.materialize(
        docs.select(
            F.col("n_chars").cast("bigint").alias("s"),
            (F.col("lang") == "en").cast("int").alias("pos"),
        )
        .groupBy("s")
        .agg(
            F.sum("pos").cast("bigint").alias("np"),
            F.sum(1 - F.col("pos")).cast("bigint").alias("nn"),
        ),
        "stats.en_length_hist", eager=True,
    )


def q_auc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT ROC-AUC of a quality signal against a binary label (here:
    does n_chars separate English from non-English documents) — the
    Mann-Whitney rank statistic every filter-threshold study reports,
    computed WITHOUT a global sort: AUC over all pos×neg pairs =
    P(score_pos > score_neg) + ½P(tie).

    Scale shape: scores histogram into their exact integer values (one
    map-side-combinable groupBy, bounded by the score's value range, not
    the corpus); the rank accumulation is a bounded theta join over that
    histogram (cum negatives strictly below each score); the pair count
    runs in DOUBLED integer units (2 per win, 1 per tie) so everything
    until the single final division is int64 — no float sums, no
    half-grid ties (the ½ lives in integers). The divisor 2·n_pos·n_neg
    carries greatest(..., 1.0) on both engines: a single-class corpus
    would otherwise hit 0/0 (the ADVICE-r11 class). One row out. EXACT
    oracle."""
    hist = _en_length_hist(spark, sf_dir)
    h2 = hist.select(F.col("s").alias("s2"), F.col("nn").alias("nn2"))
    below = (
        hist.join(h2, F.col("s2") < F.col("s"), "left")
        .groupBy("s", "np", "nn")
        .agg(F.coalesce(F.sum("nn2"), F.lit(0)).cast("bigint").alias("neg_below"))
    )
    agg = below.agg(
        F.sum("np").cast("bigint").alias("n_pos"),
        F.sum("nn").cast("bigint").alias("n_neg"),
        F.sum(F.col("np") * (2 * F.col("neg_below") + F.col("nn")))
        .cast("bigint")
        .alias("won2"),
    )
    return agg.select(
        "n_pos",
        "n_neg",
        snap(
            F.col("won2").cast("double")
            / F.greatest(
                (2 * F.col("n_pos") * F.col("n_neg")).cast("double"),
                F.lit(1.0),
            )
        ).alias("auc"),
    )


def q_temperature_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-sampling TUNING TABLE — the alpha-selection sweep run
    before committing to a mixture temperature (q_mixture_temperature
    applies ONE alpha; choosing it is this table): for every
    alpha ∈ {0.1 … 1.0}, the softmax-over-sizes domain weights
    p_i ∝ n_i^alpha summarized as EFFECTIVE DOMAIN COUNT
    exp(H(p)) (perplexity of the mixture — the standard
    "how many domains does this temperature really train on") and the
    max single-domain weight (dominance check).

    Determinism: n_i^alpha = exp(alpha·ln n_i) snapped at 6dp, then
    converted to int64 micro-units so the normalizer Σ and the entropy
    Σ (per-domain terms snapped to 1e-9 before summing) are exact
    integer sums — engine order cannot matter (the DoReMi discipline).
    Scale: one corpus pass for the k-row domain-size frame; the sweep is
    a 10-row broadcast grid crossed with it — the whole tuning table
    costs one scan regardless of how many alphas are probed."""
    docs = load(spark, sf_dir, "documents")
    ntok = F.size(keys.tokens()).cast("bigint")
    dom = store.materialize(
        docs.groupBy("source")
        .agg(F.sum(ntok).cast("bigint").alias("n_tok")),
        "stats.temperature_domains", eager=True,  # k rows; feeds grid join + via sums
    )
    alphas = spark.range(1, 11).select(
        (F.col("id") / 10.0).alias("alpha")
    )
    x6 = (
        units(F.exp(F.col("alpha") * F.log(F.col("n_tok").cast("double")))).alias("x6")
    )
    scored = dom.crossJoin(F.broadcast(alphas)).select("source", "alpha", x6)
    tot = scored.groupBy("alpha").agg(F.sum("x6").cast("bigint").alias("s6"))
    w = F.col("x6").cast("double") / F.col("s6").cast("double")
    terms = scored.join(F.broadcast(tot), "alpha").select(
        "alpha",
        w.alias("w"),
        units(-(w * F.log(w)), 1e9).alias("h9"),
    )
    return terms.groupBy("alpha").agg(
        F.count("*").cast("bigint").alias("n_domains"),
        snap(F.exp(F.sum("h9").cast("double") / 1e9)).alias("effective_domains"),
        snap(F.max("w")).alias("max_weight"),
    )


def q_domain_ablation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-domain-out ABLATION table — the bookkeeping behind
    domain-ablation studies ("what does the corpus look like without
    domain d?", run for every d before attributing eval deltas to a
    domain): for each source, the corpus-minus-that-source document
    count, token mass, char mass, and the remaining corpus share.

    Scale shape (the point): k ablations in ONE corpus pass, not k
    scans — every reported statistic is ADDITIVE, so ablation is
    total − per-domain: one per-domain aggregation (map-side
    combinable), one 1-row total derived FROM the domain frame (never a
    second scan), a broadcast cross join, and pure integer subtraction.
    Non-additive stats (quantiles, distinct counts) deliberately stay
    out — those need the mergeable-sketch machinery (sketches.py), not
    subtraction; the docstring is the contract."""
    docs = load(spark, sf_dir, "documents")
    ntok = F.size(keys.tokens()).cast("bigint")
    dom = docs.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(ntok).cast("bigint").alias("n_tokens"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
    )
    tot = dom.agg(
        F.sum("n_docs").cast("bigint").alias("t_docs"),
        F.sum("n_tokens").cast("bigint").alias("t_tokens"),
        F.sum("n_chars").cast("bigint").alias("t_chars"),
    )
    return dom.crossJoin(F.broadcast(tot)).select(
        "source",
        (F.col("t_docs") - F.col("n_docs")).alias("ablated_docs"),
        (F.col("t_tokens") - F.col("n_tokens")).alias("ablated_tokens"),
        (F.col("t_chars") - F.col("n_chars")).alias("ablated_chars"),
        snap(
            (F.col("t_tokens") - F.col("n_tokens")).cast("double")
            / F.col("t_tokens").cast("double")
        ).alias("remaining_share"),
    )


_SPANC_BLOCK = 20  # tokens per corruption block (span_len / rate = 3/0.15)
_SPANC_LEN = 3  # corrupted span length per block


def q_span_corruption_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5/UL2-style SPAN-CORRUPTION example plan (Raffel et al. 2020):
    deterministic per-document corruption layout — one 3-token span per
    20-token block (the 15% corruption rate at mean span 3 the paper
    uses), span start drawn inside its block from md5(doc_id:block) so
    every engine, run, and re-ingest corrupts the SAME tokens. Reports
    the seq2seq accounting a packing/serving layer needs (encoder
    input length = kept tokens + one sentinel per span; decoder target
    length = corrupted tokens + sentinels + EOS) plus a Σ span-start
    checksum that pins the exact corruption positions without emitting
    per-token rows.

    Scale shape: block expansion is an in-scan ``sequence`` explode —
    n/20 rows per doc, ~5% of token volume, shuffled only by the
    existing doc_id key; everything else is per-row integer arithmetic.
    EXACT oracle (same md5 arithmetic in SQL)."""
    docs = load(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", F.size(keys.tokens()).cast("bigint").alias("n_tokens")
    ).where(F.col("n_tokens") >= _SPANC_BLOCK)
    blocks = base.select(
        "doc_id",
        "n_tokens",
        # integer DIV, never double-divide-then-cast: DuckDB casts
        # double->int by ROUNDING while Spark truncates (the grid trap)
        F.expr(f"CAST(n_tokens DIV {_SPANC_BLOCK} AS BIGINT)").alias("n_spans"),
    ).select(
        "doc_id",
        "n_tokens",
        "n_spans",
        F.explode(F.sequence(F.lit(0), F.col("n_spans") - 1)).alias("b"),
    )
    start = (
        F.col("b") * _SPANC_BLOCK
        + keys.hex_int(
            F.md5(
                F.concat(
                    F.col("doc_id").cast("string"), F.lit(":"), F.col("b").cast("string")
                )
            ),
            8,
        )
        % (_SPANC_BLOCK - _SPANC_LEN + 1)
    )
    return (
        blocks.select("doc_id", "n_tokens", "n_spans", start.alias("s"))
        .groupBy("doc_id", "n_tokens", "n_spans")
        .agg(F.sum("s").cast("bigint").alias("span_start_checksum"))
        .select(
            "doc_id",
            "n_tokens",
            "n_spans",
            (
                F.col("n_tokens")
                - F.col("n_spans") * _SPANC_LEN
                + F.col("n_spans")
            ).alias("input_len"),
            (F.col("n_spans") * _SPANC_LEN + F.col("n_spans") + 1).alias(
                "target_len"
            ),
            "span_start_checksum",
        )
    )


_DOREMI_T = 8  # fixed MW iteration count — bounded, oracle-unrollable
_DOREMI_ETA = 0.5  # multiplicative-weights step size
_DOREMI_C = 0.2  # uniform-smoothing mass (DoReMi's alpha-mix term)


def q_domain_reweight_doremi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-style domain reweighting (Xie et al. 2023, "DoReMi:
    Optimizing Data Mixtures Speeds Up Language Model Pretraining"):
    multiplicative-weights updates over domains, upweighting domains with
    positive EXCESS LOSS, then mixing with the uniform distribution —
    the one prominent LLM-mixture family the static policies
    (waterfill / temperature / cap) don't cover, because the weights are
    the fixpoint of an iteration, not a closed form.

    Excess-loss proxy (deterministic, data-derived so every engine can
    reproduce it): lambda_i = max(0, ln(avg_chars_i) - ln(avg_chars)) —
    domains with longer-than-average documents read as "harder" and get
    upweighted, mirroring DoReMi's clip-at-zero excess loss. Per
    iteration t = 1.._DOREMI_T:

        s_i = round(w_i * exp(eta*lambda_i) * 1e9)   (int64 micro-units)
        w_i = snap(0.8 * s_i/sum(s) + 0.2/k, 1e9)    (smooth with uniform)

    Determinism engineering: the normalizing sum runs in INTEGER
    micro-units (sum order can't perturb low-order float bits — the
    cross-engine float-sum trap), every transcendental output is snapped
    (6dp) before reuse, and each iteration's weights snap to a 9dp grid
    with the floor(x*1e9+0.5) spelling on both engines.

    Scale shape: ONE corpus pass (per-domain count/sum agg, map-side
    combinable); the T-step loop runs over the k-row domain frame with a
    localCheckpoint per step truncating the two-consumer lineage (the
    BPE/waterfill discipline) — at 100 TB the iteration cost is
    O(k*T) ~ microscopic next to the single scan. EXACT oracle: the
    fixed-T loop unrolled to T chained CTEs in DuckDB; a pure-Python
    fixpoint pin lives in tests/test_sampling_skew.py."""
    docs = load(spark, sf_dir, "documents")
    stats = docs.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
    )
    glob = docs.agg(
        F.count("*").cast("bigint").alias("g_n"),
        F.sum("n_chars").cast("bigint").alias("g_sum"),
    )
    kk = stats.agg(F.count("*").cast("bigint").alias("k"))
    cur = (
        stats.crossJoin(F.broadcast(glob))
        .crossJoin(F.broadcast(kk))
        .withColumn(
            "lam",
            snap(
                F.greatest(
                    F.log(
                        F.col("sum_chars").cast("double")
                        / F.col("n_docs").cast("double")
                    )
                    - F.log(
                        F.col("g_sum").cast("double") / F.col("g_n").cast("double")
                    ),
                    F.lit(0.0),
                )
            ),
        )
        .withColumn("e", snap(F.exp(F.lit(_DOREMI_ETA) * F.col("lam"))))
        .withColumn("w", snap(F.lit(1.0) / F.col("k"), 1e9))
        .select("source", "n_docs", "k", "lam", "e", "w")
    )
    for _ in range(_DOREMI_T):
        # s feeds two consumers (the sum agg + the update join): truncate
        # per step or lineage doubles each iteration. k-row frame — free.
        s = cur.withColumn("s", units(F.col("w") * F.col("e"), 1e9))
        s = store.materialize(s, "stats.doremi_step", eager=True)
        z = s.agg(F.sum("s").cast("bigint").alias("z"))
        cur = (
            s.crossJoin(F.broadcast(z))
            .withColumn(
                "w",
                snap(
                    F.lit(0.8)
                    * (F.col("s").cast("double") / F.col("z").cast("double"))
                    + F.lit(0.2) / F.col("k").cast("double"),
                    1e9,
                ),
            )
            .select("source", "n_docs", "k", "lam", "e", "w")
        )
    return cur.select(
        "source",
        "n_docs",
        F.col("lam").alias("excess_loss"),
        F.col("w").alias("weight"),
    )


def _doremi_oracle_sql() -> str:
    """Unroll the fixed-T MW loop into chained CTEs (same arithmetic,
    same snap spellings, integer-unit normalizing sums)."""
    iters = "".join(
        f""", s{t} AS (
            SELECT * , CAST(floor(w * e * 1e9 + 0.5) AS BIGINT) AS s
            FROM w{t - 1}
        ), z{t} AS (
            SELECT CAST(sum(s) AS BIGINT) AS z FROM s{t}
        ), w{t} AS (
            SELECT source, n_docs, k, lam, e,
                   floor((0.8 * (CAST(s AS DOUBLE) / CAST(z AS DOUBLE))
                          + 0.2 / CAST(k AS DOUBLE)) * 1e9 + 0.5) / 1e9 AS w
            FROM s{t} CROSS JOIN z{t}
        )"""
        for t in range(1, _DOREMI_T + 1)
    )
    return f"""
        WITH stats AS (
            SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS sum_chars
            FROM documents GROUP BY source
        ), g AS (
            SELECT CAST(count(*) AS BIGINT) AS g_n,
                   CAST(sum(n_chars) AS BIGINT) AS g_sum
            FROM documents
        ), kk AS (
            SELECT CAST(count(*) AS BIGINT) AS k FROM stats
        ), w0 AS (
            SELECT source, n_docs, k,
                   floor(greatest(
                       ln(CAST(sum_chars AS DOUBLE) / CAST(n_docs AS DOUBLE))
                       - ln(CAST(g_sum AS DOUBLE) / CAST(g_n AS DOUBLE)),
                       0.0) * 1e6 + 0.5) / 1e6 AS lam,
                   floor(exp({_DOREMI_ETA} * (floor(greatest(
                       ln(CAST(sum_chars AS DOUBLE) / CAST(n_docs AS DOUBLE))
                       - ln(CAST(g_sum AS DOUBLE) / CAST(g_n AS DOUBLE)),
                       0.0) * 1e6 + 0.5) / 1e6)) * 1e6 + 0.5) / 1e6 AS e,
                   floor((1.0 / CAST(k AS DOUBLE)) * 1e9 + 0.5) / 1e9 AS w
            FROM stats CROSS JOIN g CROSS JOIN kk
        ){iters}
        SELECT source, n_docs, lam AS excess_loss, w AS weight
        FROM w{_DOREMI_T}
    """


_BOOT_B = 32  # bootstrap replicates
_BOOT_LO_RANK = 2  # nearest-rank 5% of 32
_BOOT_HI_RANK = 31  # nearest-rank 95% of 32


def _poisson1_thresholds_u16() -> list[int]:
    """Cumulative Poisson(1) inverse-CDF thresholds on the 16-bit md5
    grid, k capped at 5 — precomputed in PYTHON and inlined as literal
    ints on BOTH engines (the nDCG-weight discipline: the only
    transcendentals, e^-1 terms, never touch either engine)."""
    import math

    probs = [math.exp(-1.0) / math.factorial(k) for k in range(5)]
    cum, out = 0.0, []
    for p in probs:
        cum += p
        out.append(int(math.floor(cum * 65536)))
    return out  # u16 < out[0] -> k=0, < out[1] -> 1, ... else 5


def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence interval (Chamandy et al. 2012 —
    the bootstrap that works in one pass on distributed data: each row
    enters replicate b with an independent Poisson(1) multiplicity, so
    no resampling shuffle exists) for the mean order value. B = 32
    replicates; the 90% percentile interval is (rank-2, rank-31) of the
    replicate means.

    Determinism: multiplicities come from md5(orderkey:b) through
    Python-inlined integer thresholds; replicate means are integer
    ``sum·100 div n`` (1e-4 currency units); the rank extraction is
    sort_array over the 32-row bounded collect_list — no window, no
    global sort, no floats.

    Scale shape (100 TB): ONE pass over orders explodes each row into
    its B replicate contributions (narrow map — the multiplicity is a
    row-local hash), one map-side-combinable groupBy(b), then a 32-row
    aggregate. This is how production systems attach uncertainty to
    corpus statistics without a resampling pass per replicate."""
    thr = _poisson1_thresholds_u16()
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        units(F.col("o_totalprice"), 100).alias("cents"),
    )
    point = orders.agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.expr("sum(cents) * 100 div count(*)").cast("bigint").alias("mean4"),
    )
    reps = orders.select(
        "o_orderkey",
        "cents",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b"),
    )
    u16 = keys.hex_int(F.md5(F.concat_ws(":", F.col("o_orderkey"), F.col("b"))), 4)
    k = (
        F.when(u16 < thr[0], 0)
        .when(u16 < thr[1], 1)
        .when(u16 < thr[2], 2)
        .when(u16 < thr[3], 3)
        .when(u16 < thr[4], 4)
        .otherwise(5)
    )
    means = (
        reps.select("b", "cents", k.alias("k"))
        .groupBy("b")
        .agg(
            F.sum("k").cast("bigint").alias("nb"),
            F.sum(F.col("k") * F.col("cents")).cast("bigint").alias("sumb"),
        )
        .where(F.col("nb") > 0)
        .select(F.expr("sumb * 100 div nb").cast("bigint").alias("mean4b"))
    )
    dist = means.agg(
        F.sort_array(F.collect_list("mean4b")).alias("ms"),
        F.count("*").cast("bigint").alias("n_reps"),
    ).select(
        F.element_at("ms", _BOOT_LO_RANK).alias("boot_lo4"),
        F.element_at("ms", _BOOT_HI_RANK).alias("boot_hi4"),
        "n_reps",
    )
    return point.crossJoin(F.broadcast(dist)).select(
        "n_orders", "mean4", "boot_lo4", "boot_hi4", "n_reps"
    )


def _bootstrap_oracle_sql() -> str:
    thr = _poisson1_thresholds_u16()
    return f"""
        WITH o AS (
            SELECT o_orderkey,
                   CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
            FROM orders
        ), point AS (
            SELECT CAST(count(*) AS BIGINT) AS n_orders,
                   CAST(sum(cents) * 100 // count(*) AS BIGINT) AS mean4
            FROM o
        ), reps AS (
            SELECT o.o_orderkey, o.cents,
                   unnest(range(0, {_BOOT_B})) AS b
            FROM o
        ), ks AS (
            SELECT b, cents,
                   CASE WHEN u < {thr[0]} THEN 0
                        WHEN u < {thr[1]} THEN 1
                        WHEN u < {thr[2]} THEN 2
                        WHEN u < {thr[3]} THEN 3
                        WHEN u < {thr[4]} THEN 4
                        ELSE 5 END AS k
            FROM (SELECT b, cents,
                         ('0x' || substr(md5(o_orderkey || ':' || b), 1, 4))::BIGINT
                             AS u
                  FROM reps)
        ), means AS (
            SELECT CAST(sum(k * cents) * 100 // sum(k) AS BIGINT) AS mean4b
            FROM ks GROUP BY b HAVING sum(k) > 0
        ), dist AS (
            SELECT list_sort(list(mean4b)) AS ms,
                   CAST(count(*) AS BIGINT) AS n_reps
            FROM means
        )
        SELECT p.n_orders, p.mean4,
               d.ms[{_BOOT_LO_RANK}] AS boot_lo4,
               d.ms[{_BOOT_HI_RANK}] AS boot_hi4,
               d.n_reps
        FROM point p CROSS JOIN dist d
    """


def _token_signals(docs: DataFrame, *ids: str) -> DataFrame:
    """(lang, *ids, s1, s2) per document: the two quality signals the
    rank correlations compare, length s1 (token count) and lexical
    richness s2 (type-token ratio in integer micro-units)."""
    toks = keys.tokens()
    return docs.select(
        "lang",
        *ids,
        F.size(toks).cast("bigint").alias("s1"),
        F.call_function(
            "div", F.size(F.array_distinct(toks)).cast("bigint") * 1000000, F.size(toks)
        ).alias("s2"),
    )


def q_spearman_quality_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation (Spearman 1904) per language between
    two document quality signals: length (token count) and lexical
    richness (type-token ratio in micro-units) — the standard check
    that a quality signal isn't just re-measuring length, computed the
    robust way (on ranks, so outlier docs can't dominate like they do
    in Pearson / q_stats_corr). Ties get average ranks (kept exact by
    DOUBLING: r = 2·rank + (ties−1), integer).

    Determinism: both signals, the doubled average ranks, and Σd² are
    exact int64; ρ = 1 − 1.5·Σd²/(n³−n) (the 6Σd²/4 tie-doubling fold)
    is ONE identically-spelled double expression snapped at 6dp, with
    greatest(..., 1.0) on the n³−n term (computed in DOUBLE — int64
    n³ overflows at ~2.6M rows/group): a one-document group reads the
    trivially-perfect ρ = 1 instead of a divergent NaN cast.

    Scale shape (100 TB): signals are row-local in one scan; ranks are
    two per-language windows (the distributed-sort-per-stratum cost
    every rank statistic pays — at corpus scale each language sorts in
    parallel across executors; skewed languages split under AQE);
    everything after is a |langs|-row aggregate."""
    docs = _token_signals(load(spark, sf_dir, "documents"))
    w1 = Window.partitionBy("lang").orderBy("s1")
    w2 = Window.partitionBy("lang").orderBy("s2")
    t1 = Window.partitionBy("lang", "s1")
    t2 = Window.partitionBy("lang", "s2")
    ranked = docs.select(
        "lang",
        (2 * F.rank().over(w1) + F.count("*").over(t1) - 1)
        .cast("bigint")
        .alias("r1"),
        (2 * F.rank().over(w2) + F.count("*").over(t2) - 1)
        .cast("bigint")
        .alias("r2"),
    )
    agg = ranked.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum((F.col("r1") - F.col("r2")) * (F.col("r1") - F.col("r2")))
        .cast("bigint")
        .alias("sd2"),
    )
    return agg.select(
        "lang",
        "n",
        "sd2",
        F.expr(
            "CAST(floor((1.0 - 1.5 * CAST(sd2 AS DOUBLE)"
            " / greatest(CAST(n AS DOUBLE) * CAST(n AS DOUBLE)"
            " * CAST(n AS DOUBLE) - CAST(n AS DOUBLE), 1.0))"
            " * 1e6 + 0.5) AS BIGINT)"
        ).alias("rho6"),
    ).orderBy("lang")


_SPEARMAN_ORACLE = """
    WITH d AS (
        SELECT lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS s1,
               CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
                   * 1000000 // len(string_split(text, ' ')) AS s2
        FROM documents
    ), ranked AS (
        SELECT lang,
               CAST(2 * rank() OVER (PARTITION BY lang ORDER BY s1)
                    + count(*) OVER (PARTITION BY lang, s1) - 1
                    AS BIGINT) AS r1,
               CAST(2 * rank() OVER (PARTITION BY lang ORDER BY s2)
                    + count(*) OVER (PARTITION BY lang, s2) - 1
                    AS BIGINT) AS r2
        FROM d
    ), agg AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS n,
               CAST(sum((r1 - r2) * (r1 - r2)) AS BIGINT) AS sd2
        FROM ranked GROUP BY 1
    )
    SELECT lang, n, sd2,
           CAST(floor((1.0 - 1.5 * CAST(sd2 AS DOUBLE)
                / greatest(CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                * CAST(n AS DOUBLE) - CAST(n AS DOUBLE), 1.0))
                * 1e6 + 0.5) AS BIGINT) AS rho6
    FROM agg ORDER BY lang
"""


_NEYMAN_B = 1000  # total sample budget to allocate across strata


def q_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman optimal stratified-sample allocation (Neyman 1934): given
    a budget of 1000 samples, allocate n_h ∝ N_h·σ_h across
    language strata (σ over per-doc token counts) — the
    minimum-variance design every stratified eval/labeling pipeline
    should use instead of proportional allocation. Integer seats are
    assigned by the largest-remainder (Hamilton) method so they sum to
    the budget exactly.

    Determinism: N_h·σ_h = sqrt(N_h·Σx² − (Σx)²) — ONE sqrt of an
    exact int64 per stratum (identically spelled on both engines, the
    audio-DFT transcendental-snap rule), snapped to micro-units; the
    allocation floor, remainders, and the largest-remainder ranking
    (5×5 self-join count, ties to lang asc) are pure int64 — both
    engines assign identical seats.

    Scale shape (100 TB): one corpus scan → per-stratum moment agg
    (map-side combinable, 3 int columns of state); everything after
    lives on the |strata|-row frame (broadcast-sized at any scale)."""
    docs = load(spark, sf_dir, "documents").select(
        "lang", F.size(keys.tokens()).cast("bigint").alias("x")
    )
    mom = docs.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    s = mom.select(
        "lang",
        "n_docs",
        "sx",
        "sxx",
        F.expr(
            "CAST(floor(sqrt(CAST(n_docs * sxx - sx * sx AS DOUBLE)) * 1e6 + 0.5)"
            " AS BIGINT)"
        ).alias("s6"),
    )
    tot = s.agg(F.sum("s6").cast("bigint").alias("stot"))
    base = store.materialize(
        s.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "n_docs",
            "s6",
            F.expr(f"{_NEYMAN_B} * s6 div stot").cast("bigint").alias("floor_alloc"),
            F.expr(f"{_NEYMAN_B} * s6 - ({_NEYMAN_B} * s6 div stot) * stot")
            .cast("bigint")
            .alias("rem"),
        ),
        "stats.neyman_base", eager=True,  # |strata| rows; consumed by 3 branches
    )
    deficit = base.agg(
        (F.lit(_NEYMAN_B) - F.sum("floor_alloc")).cast("bigint").alias("d")
    )
    other = base.select(
        F.col("lang").alias("lang2"), F.col("rem").alias("rem2")
    )
    rank = (
        base.join(
            other,
            (F.col("rem2") > F.col("rem"))
            | ((F.col("rem2") == F.col("rem")) & (F.col("lang2") < F.col("lang"))),
            "left",
        )
        .groupBy("lang", "n_docs", "s6", "floor_alloc", "rem")
        .agg(F.count("lang2").cast("bigint").alias("rk"))
    )
    return (
        rank.crossJoin(F.broadcast(deficit))
        .select(
            "lang",
            "n_docs",
            "s6",
            (
                F.col("floor_alloc")
                + F.when(F.col("rk") < F.col("d"), F.lit(1)).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("alloc"),
        )
        .orderBy("lang")
    )


_NEYMAN_ORACLE = f"""
    WITH d AS (
        SELECT lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS x
        FROM documents
    ), mom AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(x * x) AS BIGINT) AS sxx
        FROM d GROUP BY 1
    ), s AS (
        SELECT lang, n_docs,
               CAST(floor(sqrt(CAST(n_docs * sxx - sx * sx AS DOUBLE)) * 1e6
                          + 0.5) AS BIGINT) AS s6
        FROM mom
    ), tot AS (
        SELECT CAST(sum(s6) AS BIGINT) AS stot FROM s
    ), base AS (
        SELECT lang, n_docs, s6,
               CAST({_NEYMAN_B} * s6 // stot AS BIGINT) AS floor_alloc,
               CAST({_NEYMAN_B} * s6 - ({_NEYMAN_B} * s6 // stot) * stot
                    AS BIGINT) AS rem
        FROM s CROSS JOIN tot
    ), deficit AS (
        SELECT CAST({_NEYMAN_B} - sum(floor_alloc) AS BIGINT) AS dd FROM base
    ), rk AS (
        SELECT b.lang, b.n_docs, b.s6, b.floor_alloc,
               CAST(count(o.lang) AS BIGINT) AS rk
        FROM base b
        LEFT JOIN base o ON (o.rem > b.rem)
                         OR (o.rem = b.rem AND o.lang < b.lang)
        GROUP BY 1, 2, 3, 4
    )
    SELECT lang, n_docs, s6,
           CAST(floor_alloc + CASE WHEN rk < dd THEN 1 ELSE 0 END AS BIGINT)
               AS alloc
    FROM rk CROSS JOIN deficit
    ORDER BY lang
"""


def q_agg_geometric_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric mean of order value per priority — the multiplicative
    average (exp of mean log) that price/ratio distributions need where
    the arithmetic mean overweights outliers.

    Determinism (the DoReMi log discipline): each row's ln(price) is
    ONE transcendental on a parquet-exact double, snapped immediately
    to int64 micro-units; the per-group sum and the `sum div n` mean
    are pure integers, so summation order cannot matter; the final exp
    is ONE transcendental applied to the identical integer-derived
    double on both engines, snapped to cents.

    Scale: one scan, one map-side-combinable agg — nothing else."""
    rows = load(spark, sf_dir, "orders").select(
        "o_orderpriority",
        units(F.log(F.col("o_totalprice"))).alias("ln6"),
    )
    return (
        rows.groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum("ln6").cast("bigint").alias("sum_ln6"),
        )
        .select(
            "o_orderpriority",
            "n_orders",
            "sum_ln6",
            F.expr(
                "CAST(floor(exp(CAST(sum_ln6 div n_orders AS DOUBLE) / 1e6)"
                " * 100 + 0.5) AS BIGINT)"
            ).alias("geo_mean_cents"),
        )
        .orderBy("o_orderpriority")
    )


def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median unit price per return flag — the
    weighted order statistic (lower weighted median: smallest value v
    with 2·W(≤v) ≥ W_total) a pricing analysis needs when line items
    carry different volumes; plain median over rows answers a different
    question.

    Determinism: prices collapse to exact cents, weights to int64
    quantities; the cumulative weight runs over the (flag, cents)
    HISTOGRAM (value-unique per group, so the window order needs no
    row tiebreak), and the pick `min(cents | 2·cum ≥ tot)` is pure
    integer comparison.

    Scale: one map-side-combinable (flag, cents) agg collapses the
    corpus to the bounded value histogram; the per-flag window sorts
    only histogram rows (distributed per-stratum sort — the rank-
    statistic cost), then a |flags|-row aggregate."""
    hist = (
        load(spark, sf_dir, "lineitem")
        .select(
            "l_returnflag",
            units(F.col("l_extendedprice"), 100).alias("cents"),
            F.col("l_quantity").cast("bigint").alias("q"),
        )
        .groupBy("l_returnflag", "cents")
        .agg(F.sum("q").cast("bigint").alias("w"))
    )
    win = (
        Window.partitionBy("l_returnflag")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tot = Window.partitionBy("l_returnflag")
    cum = hist.select(
        "l_returnflag",
        "cents",
        F.sum("w").over(win).cast("bigint").alias("cum"),
        F.sum("w").over(tot).cast("bigint").alias("totw"),
    )
    return (
        cum.where(2 * F.col("cum") >= F.col("totw"))
        .groupBy("l_returnflag")
        .agg(
            F.min("cents").cast("bigint").alias("wmedian_cents"),
            F.max("totw").cast("bigint").alias("total_weight"),
        )
        .orderBy("l_returnflag")
    )


_WILSON_THR = 50.0  # "success" = event value at or above this
_WILSON_Z = 1.96  # 95% two-sided normal quantile, literal on both engines


def q_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson score interval (Wilson 1927) for the per-event-type
    success proportion (value ≥ 50) — the CI every conversion/accept
    dashboard should use instead of the Wald interval that collapses
    at small n or extreme p.

    Determinism: k and n are exact int64; p = k/n and the whole
    center±radius expression are IEEE ops on identical inputs spelled
    identically on both engines, with ONE sqrt (the Neyman rule), then
    floor-snapped to micro-units as integer lo6/hi6 columns (no ±0.0
    surface). z = 1.96 and z² = 3.8416 are decimal literals that parse
    to the same doubles everywhere.

    Scale: one map-side-combinable count aggregate; the interval math
    lives on the |types|-row frame."""
    z2 = _WILSON_Z * _WILSON_Z
    agg = (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum((F.col("value") >= _WILSON_THR).cast("bigint"))
            .cast("bigint")
            .alias("k"),
        )
    )
    expr = (
        "CAST(k AS DOUBLE) / n"  # p
    )
    lo = (
        f"((({expr}) + {z2} / (2 * n)) - {_WILSON_Z} * sqrt(((({expr})"
        f" * (1.0 - ({expr}))) + {z2} / (4 * n * CAST(n AS DOUBLE))) / n))"
        f" / (1.0 + {z2} / n)"
    )
    hi = lo.replace(f"- {_WILSON_Z} * sqrt", f"+ {_WILSON_Z} * sqrt")
    return agg.select(
        "event_type",
        "k",
        "n",
        F.expr(f"CAST(floor(({lo}) * 1e6 + 0.5) AS BIGINT)").alias("lo6"),
        F.expr(f"CAST(floor(({hi}) * 1e6 + 0.5) AS BIGINT)").alias("hi6"),
    ).orderBy("event_type")


def _wilson_oracle() -> str:
    z2 = _WILSON_Z * _WILSON_Z
    expr = "CAST(k AS DOUBLE) / n"
    lo = (
        f"((({expr}) + {z2} / (2 * n)) - {_WILSON_Z} * sqrt(((({expr})"
        f" * (1.0 - ({expr}))) + {z2} / (4 * n * CAST(n AS DOUBLE))) / n))"
        f" / (1.0 + {z2} / n)"
    )
    hi = lo.replace(f"- {_WILSON_Z} * sqrt", f"+ {_WILSON_Z} * sqrt")
    return f"""
        WITH agg AS (
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CASE WHEN value >= {_WILSON_THR} THEN 1 ELSE 0 END)
                        AS BIGINT) AS k
            FROM events GROUP BY 1
        )
        SELECT event_type, k, n,
               CAST(floor(({lo}) * 1e6 + 0.5) AS BIGINT) AS lo6,
               CAST(floor(({hi}) * 1e6 + 0.5) AS BIGINT) AS hi6
        FROM agg ORDER BY event_type
    """


_ROC_POINTS = 20  # evenly spaced thresholds across the score range


def q_roc_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC curve points for the same signal/label pair as q_auc_exact
    (n_chars separating English docs): TPR/FPR at 21 evenly spaced
    thresholds — the curve the scalar AUC collapses; reading it shows
    WHERE the filter threshold should sit.

    Determinism: thresholds are the pure-integer grid
    t_i = min + i·(max−min) div 20; tp/fp counts are int64 over the
    bounded score histogram; rates are hits·10⁶ div greatest(total, 1)
    (a single-class corpus has n_neg = 0 — the zero-denominator class,
    guarded identically on both engines). No floats.

    Scale: rides the same bounded value-histogram as the AUC witness
    (one map-side-combinable groupBy, corpus-independent row count);
    the 21-threshold grid crosses the histogram broadcast-side."""
    hist = _en_length_hist(spark, sf_dir)
    rng = hist.agg(
        F.min("s").alias("s_min"),
        F.max("s").alias("s_max"),
        F.sum("np").cast("bigint").alias("n_pos"),
        F.sum("nn").cast("bigint").alias("n_neg"),
    )
    thresholds = rng.select(
        "n_pos",
        "n_neg",
        F.explode(F.sequence(F.lit(0), F.lit(_ROC_POINTS))).alias("i"),
        "s_min",
        "s_max",
    ).select(
        "i",
        "n_pos",
        "n_neg",
        F.expr(f"s_min + i * (s_max - s_min) div {_ROC_POINTS}").alias("thr"),
    )
    return (
        thresholds.join(F.broadcast(hist), F.col("s") >= F.col("thr"))
        .groupBy("i", "thr", "n_pos", "n_neg")
        .agg(
            F.sum("np").cast("bigint").alias("tp"),
            F.sum("nn").cast("bigint").alias("fp"),
        )
        .select(
            F.col("i").cast("bigint").alias("i"),
            "thr",
            "tp",
            "fp",
            F.expr("tp * 1000000 div greatest(n_pos, 1)").cast("bigint").alias("tpr6"),
            F.expr("fp * 1000000 div greatest(n_neg, 1)").cast("bigint").alias("fpr6"),
        )
        .orderBy("i")
    )


def q_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test (Mann & Whitney 1947) per language:
    does the lexicographically-first source's doc-length distribution
    differ from the rest of the corpus? — the nonparametric two-sample
    check a curation pipeline runs before trusting a per-source filter
    threshold. Emits 2·U (integer even under ties) and the rank-biserial
    effect size r = 2U/(n1·n2) − 1 in truncated micro-units.

    Determinism: ranks use the tie-DOUBLING identity (r = 2·rank +
    ties − 1 = twice the average rank, exact int64 — the Spearman
    convention); 2·U1 = Σ₁r_doubled − n1·(n1+1) stays integer, and the
    effect size is the pure-integer `u2·10⁶ div greatest(n1·n2, 1) − 10⁶`
    (a lang whose docs all share one source has n2 = 0 — the ADVICE-r11
    zero-denominator class, guarded identically on both engines; int÷int
    truncation is identical cross-engine). No floats anywhere.

    Scale shape (100 TB): one corpus scan → per-lang rank windows (the
    distributed sort-per-stratum every rank statistic pays), then a
    |langs|-row aggregate; the min-source frame is broadcast."""
    docs = load(spark, sf_dir, "documents").select(
        "lang", "source", F.col("n_chars").cast("bigint").alias("x")
    )
    min_src = docs.groupBy(F.col("lang").alias("m_lang")).agg(
        F.min("source").alias("src1")
    )
    d = docs.join(F.broadcast(min_src), F.col("lang") == F.col("m_lang")).select(
        "lang", "x", (F.col("source") == F.col("src1")).cast("bigint").alias("g1")
    )
    w = Window.partitionBy("lang").orderBy("x")
    t = Window.partitionBy("lang", "x")
    ranked = d.select(
        "lang",
        "g1",
        (2 * F.rank().over(w) + F.count("*").over(t) - 1).cast("bigint").alias("r2x"),
    )
    return (
        ranked.groupBy("lang")
        .agg(
            F.sum("g1").cast("bigint").alias("n1"),
            (F.count("*") - F.sum("g1")).cast("bigint").alias("n2"),
            F.sum(F.when(F.col("g1") == 1, F.col("r2x")).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("rsum2x"),
        )
        .select(
            "lang",
            "n1",
            "n2",
            (F.col("rsum2x") - F.col("n1") * (F.col("n1") + 1)).alias("u2"),
        )
        .withColumn(
            "rb6",
            F.expr("u2 * 1000000 div greatest(n1 * n2, 1) - 1000000").cast("bigint"),
        )
        .orderBy("lang")
    )


_KENDALL_SAMPLE = 200  # per-lang deterministic md5 sample cap


def q_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall τ-b rank correlation (Kendall 1938) per language between
    doc length and type-token ratio — the concordant/discordant-pair
    twin of q_spearman_quality_corr, with the tie correction. Pairs are
    O(n²), so the witness runs on a deterministic md5-ranked sample of
    ≤200 docs per language (the bounded-sample pattern of
    similarity.py) — the 100 TB cost is the sample, not the corpus.

    Determinism: concordant / discordant / tie counts are exact int64
    over the same sampled pairs on both engines (md5 ranking is
    engine-identical); τ-b = (C−D)/√((n0−tx)(n0−ty)) takes ONE sqrt of
    an exact-int64 product (the Neyman convention) and is emitted as
    floor(τ·10⁶ + 0.5) micro-units — an integer column, so the ±0.0
    trap can't exist. The pair product carries greatest(..., 1.0) with
    the product computed in DOUBLE on both engines (ADVICE r12): a group
    tied on either variable everywhere would otherwise hit 0/0 → NaN →
    a divergent BIGINT cast, and the int64 spelling of the guard itself
    overflows ~n⁴/4 past ~80k rows/group if the sample cap is lifted.
    The DOUBLE product is exact only while (n0−tx)·(n0−ty) < 2⁵³
    (≈ groups under ~13k rows); past that it is the same IEEE-754
    rounded multiply on both engines — deterministic cross-engine, with
    relative error ≤ 2⁻⁵³ folded under the sqrt (ADVICE r13)."""
    docs = _token_signals(load(spark, sf_dir, "documents"), "doc_id")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    samp = docs.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= _KENDALL_SAMPLE
    )
    a = samp.select(
        "lang", F.col("doc_id").alias("ida"), F.col("s1").alias("xa"),
        F.col("s2").alias("ya"),
    )
    b = samp.select(
        F.col("lang").alias("lang_b"), F.col("doc_id").alias("idb"),
        F.col("s1").alias("xb"), F.col("s2").alias("yb"),
    )
    pairs = a.join(b, (F.col("lang") == F.col("lang_b")) & (F.col("ida") < F.col("idb")))
    con = (
        ((F.col("xa") < F.col("xb")) & (F.col("ya") < F.col("yb")))
        | ((F.col("xa") > F.col("xb")) & (F.col("ya") > F.col("yb")))
    ).cast("bigint")
    dis = (
        ((F.col("xa") < F.col("xb")) & (F.col("ya") > F.col("yb")))
        | ((F.col("xa") > F.col("xb")) & (F.col("ya") < F.col("yb")))
    ).cast("bigint")
    agg = pairs.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n0"),
        F.sum(con).cast("bigint").alias("conc"),
        F.sum(dis).cast("bigint").alias("disc"),
        F.sum((F.col("xa") == F.col("xb")).cast("bigint")).cast("bigint").alias("tx"),
        F.sum((F.col("ya") == F.col("yb")).cast("bigint")).cast("bigint").alias("ty"),
    )
    return agg.select(
        "lang",
        "n0",
        "conc",
        "disc",
        F.expr(
            "CAST(floor(CAST(conc - disc AS DOUBLE)"
            " / sqrt(greatest(CAST(n0 - tx AS DOUBLE)"
            "                 * CAST(n0 - ty AS DOUBLE), 1.0))"
            " * 1e6 + 0.5) AS BIGINT)"
        ).alias("tau6"),
    ).orderBy("lang")


def q_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V effect size (Cramér 1946) of the lang × source
    association — the [0,1]-normalized companion to
    q_lang_source_chisq's raw χ², which is what a corpus-balance
    dashboard actually thresholds on (χ² grows with N; V doesn't).
    V = √(χ² / (N·min(R−1, C−1))) over the zero-filled grid.

    Determinism: χ² is snapped at 6dp exactly as in the χ² witness, so
    both engines divide identical doubles by an exact integer and take
    ONE sqrt of the identical quotient — bit-identical — then v6 snaps
    to integer micro-units (no ±0.0: V ≥ 0). least(r−1, c−1) carries
    greatest(..., 1) on both engines: a single-category dimension would
    otherwise hit 0/0 → NaN → a divergent BIGINT cast (χ² is 0 there,
    so the guarded result is the sensible V = 0).

    Scale: same shape as the χ² witness — one (lang,source) count agg,
    dimension-sized grid, broadcast marginals."""
    return (
        _lang_source_chi2(spark, sf_dir)
        .select(
            "chi2",
            "n",
            F.least(F.col("r") - 1, F.col("c") - 1).cast("bigint").alias("min_dim"),
            F.expr(
                "CAST(floor(sqrt(chi2 / (CAST(n AS DOUBLE)"
                " * CAST(greatest(least(r - 1, c - 1), 1) AS DOUBLE)))"
                " * 1e6 + 0.5) AS BIGINT)"
            ).alias("v6"),
        )
    )


_KAPPA_CHAR_CUTS = (200, 400)  # rater A: n_chars tertile cut points
_KAPPA_TOK_CUTS = (40, 75)  # rater B: whitespace-token tertile cut points


def q_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COHEN'S KAPPA inter-rater agreement (Cohen 1960) between two
    heuristic document-quality raters — the metric every labeling /
    rater-QA pipeline reports before trusting annotations: rater A
    buckets documents by character count, rater B by whitespace token
    count (3 ordinal categories each, fixed literal cut points), and
    kappa corrects their observed agreement for chance agreement from
    the marginals.

    Integer-exact core: with N items, D = N·Σ_c n_cc (agreement
    numerator scale) and E = Σ_c row_c·col_c (chance numerator),
    kappa = (N·D' − E)/greatest(N² − E, 1) where D' = Σ_c n_cc — every
    term is int64; only the final single division runs in doubles (IEEE
    division is deterministic — it is float SUM ORDER that differs
    across engines), snapped to the 1e-6 grid. The guard covers the
    single-category degenerate grid (E = N² with numerator 0 — the
    ADVICE-r11 class; unguarded, the default-ANSI Spark session raises
    DIVIDE_BY_ZERO while DuckDB returns NULL).

    Scale: one corpus pass → ≤9-cell contingency; marginal joins are
    over ≤3-row frames."""
    docs = load(spark, sf_dir, "documents").select(
        F.when(F.col("n_chars") < _KAPPA_CHAR_CUTS[0], 0)
        .when(F.col("n_chars") < _KAPPA_CHAR_CUTS[1], 1)
        .otherwise(2)
        .alias("ra"),
        F.when(F.size(keys.tokens()) < _KAPPA_TOK_CUTS[0], 0)
        .when(F.size(keys.tokens()) < _KAPPA_TOK_CUTS[1], 1)
        .otherwise(2)
        .alias("rb"),
    )
    cells = docs.groupBy("ra", "rb").agg(F.count("*").cast("bigint").alias("c"))
    rows = cells.groupBy("ra").agg(F.sum("c").cast("bigint").alias("row_n"))
    cols = cells.groupBy("rb").agg(F.sum("c").cast("bigint").alias("col_n"))
    pe = (
        rows.join(cols, rows["ra"] == cols["rb"])
        .agg(F.sum(F.col("row_n") * F.col("col_n")).cast("bigint").alias("pe_num"))
    )
    tot = cells.agg(
        F.sum("c").cast("bigint").alias("n_items"),
        F.sum(F.when(F.col("ra") == F.col("rb"), F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("observed_agree"),
    )
    return (
        tot.crossJoin(F.broadcast(pe))
        .select(
            "n_items",
            "observed_agree",
            "pe_num",
            units(
                (F.col("n_items") * F.col("observed_agree") - F.col("pe_num")).cast(
                    "double"
                )
                / F.greatest(
                    (F.col("n_items") * F.col("n_items") - F.col("pe_num")),
                    F.lit(1),
                ).cast("double")
            ).alias("kappa6"),
        )
    )


def _events_v6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events (event_id, event_type) with the value snapped to int64
    micro-units ``v6``."""
    return load(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        units(F.col("value")).alias("v6"),
    )


def _lower_median(df: DataFrame, col: str) -> DataFrame:
    """Per event_type, the row at the LOWER median of ``col`` — rank
    (n+1) div 2 of the (col, event_id)-ordered partitioned window, so no
    engine ever averages two middle values in floats — as (event_type,
    col, rn, n). A partitioned sort-window: no global sort."""
    w = Window.partitionBy("event_type").orderBy(col, "event_id")
    return df.select(
        "event_type",
        col,
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("event_type")).alias("n"),
    ).where(F.col("rn") == F.expr("(n + 1) div 2"))


def _abs_dev(ev: DataFrame, med: DataFrame) -> DataFrame:
    """Each ``_events_v6`` row with its type's ``med6`` (broadcast) and
    absolute deviation ``d6`` = |v6 − med6|."""
    return ev.join(F.broadcast(med.select("event_type", "med6")), "event_type").select(
        "event_id", "event_type", "v6", "med6", F.abs(F.col("v6") - F.col("med6")).alias("d6")
    )


_MAD_K = 3  # flag |x - median| > K * MAD


def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection via MEDIAN ABSOLUTE DEVIATION per
    event type — the robust sibling of q_outlier_iqr (MAD has a 50%
    breakdown point; IQR fences break down at 25%). Flags rows with
    |x − median| > 3·MAD.

    Determinism: values snap to int64 micro-units up front; both
    medians are the LOWER median — rank (n+1) div 2 of a
    (value, event_id)-ordered partitioned window — so no engine ever
    averages two middle values in floats. Everything downstream is
    integer compares.

    Scale: two partitioned sort-windows over the corpus (no global
    sort, no single-partition window) + broadcast joins of the 5-row
    median frames."""
    ev = _events_v6(spark, sf_dir)
    med = _lower_median(ev, "v6").select("event_type", F.col("v6").alias("med6"))
    dev = _abs_dev(ev, med)
    mad = _lower_median(dev, "d6").select("event_type", F.col("d6").alias("mad6"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.max("med6").alias("median6"),
            F.max("mad6").alias("mad6"),
            F.sum((F.col("d6") > F.lit(_MAD_K) * F.col("mad6")).cast("bigint"))
            .cast("bigint")
            .alias("n_outliers"),
        )
        .select(
            "event_type",
            "n",
            "median6",
            "mad6",
            "n_outliers",
            F.expr("n_outliers * 1000000 div n").cast("bigint").alias("outlier_share6"),
        )
        .orderBy("event_type")
    )


def q_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KRUSKAL-WALLIS H test (1952) — does the event-value distribution
    differ across the 5 event types? The >2-group extension of
    q_mann_whitney_u, rank-based and distribution-free, with the tie
    correction (values are bucketed to the integer grid, so ties are
    massive and the correction matters).

    Window-free rank construction: values land on the bounded integer
    bucket grid (domain-bounded, not corpus-bounded), doubled average
    ranks come from the bucket histogram via the cross-multiplied form
    r2 = 2·cnt_less + cnt_eq + 1 (a bucket self-join — no global-order
    window anywhere, per the house guard), and per-group rank sums are
    integer. The per-group R²/n terms snap to integers before the
    5-term total (float-sum order immunity), and H with tie correction
    is one fixed-order double expression, snapped to 1e-6.

    Scale: one corpus pass → (bucket × group) counts; everything after
    lives on the value-domain grid."""
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value")).cast("bigint").alias("b"),
    )
    bg = ev.groupBy("b", "event_type").agg(
        F.count("*").cast("bigint").alias("c")
    )
    hist = bg.groupBy("b").agg(F.sum("c").cast("bigint").alias("cnt"))
    hist = store.materialize(hist, "stats.kruskal_hist", eager=True)
    h2 = hist.select(F.col("b").alias("b2"), F.col("cnt").alias("cnt2"))
    less = (
        hist.join(F.broadcast(h2), F.col("b2") < F.col("b"), "left")
        .groupBy("b", "cnt")
        .agg(F.coalesce(F.sum("cnt2"), F.lit(0)).cast("bigint").alias("cnt_less"))
    )
    ranks = less.select(
        "b",
        (2 * F.col("cnt_less") + F.col("cnt") + 1).cast("bigint").alias("r2"),
    )
    groups = (
        bg.join(F.broadcast(ranks), "b")
        .groupBy("event_type")
        .agg(
            F.sum("c").cast("bigint").alias("n_i"),
            F.sum(F.col("c") * F.col("r2")).cast("bigint").alias("r2_sum"),
        )
    )
    terms = groups.select(
        "event_type",
        "n_i",
        "r2_sum",
        units(
            F.col("r2_sum").cast("double")
            * F.col("r2_sum").cast("double")
            / F.col("n_i").cast("double"),
            1,
        ).alias("t_i"),
    )
    terms = store.materialize(terms, "stats.kruskal_terms", eager=True)
    tot = ev.agg(F.count("*").cast("bigint").alias("n"))
    ties = hist.agg(
        F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt"))
        .cast("bigint")
        .alias("tie_num")
    )
    h = (
        terms.agg(F.sum("t_i").cast("bigint").alias("sum_t"))
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(ties))
        .select(
            units(
                (
                    F.lit(3.0)
                    * F.col("sum_t").cast("double")
                    / (F.col("n") * (F.col("n") + 1)).cast("double")
                    - 3 * (F.col("n") + 1).cast("double")
                )
                / (
                    F.lit(1.0)
                    - F.col("tie_num").cast("double")
                    / (
                        F.col("n") * F.col("n") * F.col("n") - F.col("n")
                    ).cast("double")
                )
            ).alias("h_adj6")
        )
    )
    return (
        terms.select("event_type", "n_i", "r2_sum")
        .crossJoin(F.broadcast(h))
        .orderBy("event_type")
    )


def q_lorenz_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LORENZ CURVE of customer revenue concentration per market
    segment — the cumulative-share curve behind every Gini/inequality
    readout ("the top decile of customers carries X% of revenue"):
    customers sort by revenue within their segment, and each decile
    boundary reports the cumulative revenue share.

    Integer core: revenues in cents, cumulative sums over a
    segment-PARTITIONED window (customers per segment scale, but the
    partition key keeps the sort distributed — never a global-order
    window), decile rows picked by rank = ceil(n·k/10), shares as
    (cum·1e6) div total. Scale: one agg + one partitioned window."""
    o = load(spark, sf_dir, "orders").select(
        "o_custkey",
        units(F.col("o_totalprice"), 100).alias(
            "cents"
        ),
    )
    c = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    rev = (
        o.groupBy("o_custkey")
        .agg(F.sum("cents").cast("bigint").alias("rev"))
        .join(F.broadcast(c), "o_custkey")
    )
    w = Window.partitionBy("c_mktsegment").orderBy("rev", "o_custkey")
    cntw = Window.partitionBy("c_mktsegment")
    ranked = rev.select(
        "c_mktsegment",
        "rev",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(cntw).alias("n"),
        F.sum("rev").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
        F.sum("rev").over(cntw).alias("total"),
    )
    # decile boundary rows: rn == ceil(n*k/10) for k = 1..10
    picks = (
        ranked.crossJoin(
            F.broadcast(
                ranked.sparkSession.range(1, 11).select(
                    F.col("id").cast("bigint").alias("decile")
                )
            )
        )
        .where(F.col("rn") == F.expr("(n * decile + 9) div 10"))
        .select(
            "c_mktsegment",
            "decile",
            F.col("rn").cast("bigint").alias("rank_at"),
            F.expr("cum * 1000000 div total").cast("bigint").alias("cum_share6"),
        )
    )
    return picks.orderBy("c_mktsegment", "decile")


_Z975_6 = 1_959_964  # two-sided 5% critical value on the 1e-6 grid


def q_two_proportion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-PROPORTION pooled z-TEST for the A/B readout every
    experiment dashboard ships: purchase rate in the deterministic
    event_id % 3 == 0 arm vs the rest (an A/A-shaped split, so the
    expected verdict is "not significant" — and the hash pins that
    honest answer). z = (p̂₁ − p̂₂) / √(p̂(1−p̂)(1/n₁+1/n₂)) with the
    pooled p̂.

    Determinism: the rate difference is the exact int64 cross-product
    x₁n₂ − x₂n₁; the denominator is ONE sqrt of the exact rational
    X(N−X)·n₁n₂/N (mult → div → sqrt, fixed IEEE order), one final
    division, snapped to 1e-6. The significance flag compares against
    the Python-inlined literal 1.959964 (no engine evaluates the
    normal quantile). Each variance factor carries greatest(..., 1) on
    both engines: an all-success / all-failure split zeroes the pooled
    variance while the numerator is also 0, so the guarded z is 0, not
    a divergent NaN cast. One corpus pass → one row."""
    ev = load(spark, sf_dir, "events").select(
        (F.col("event_id") % 3 == 0).alias("arm_a"),
        (F.col("event_type") == "purchase").cast("bigint").alias("y"),
    )
    agg = ev.agg(
        F.sum(F.when(F.col("arm_a"), 1).otherwise(0)).cast("bigint").alias("n1"),
        F.sum(F.when(F.col("arm_a"), F.col("y")).otherwise(0))
        .cast("bigint")
        .alias("x1"),
        F.sum(F.when(~F.col("arm_a"), 1).otherwise(0)).cast("bigint").alias("n2"),
        F.sum(F.when(~F.col("arm_a"), F.col("y")).otherwise(0))
        .cast("bigint")
        .alias("x2"),
    )
    z = (
        (F.col("x1") * F.col("n2") - F.col("x2") * F.col("n1")).cast("double")
        / F.sqrt(
            F.greatest(
                (F.col("x1") + F.col("x2"))
                * (F.col("n1") + F.col("n2") - F.col("x1") - F.col("x2")),
                F.lit(1),
            ).cast("double")
            * F.greatest(F.col("n1") * F.col("n2"), F.lit(1)).cast("double")
            / F.greatest(F.col("n1") + F.col("n2"), F.lit(1)).cast("double")
        )
    )
    return agg.select(
        "n1",
        "x1",
        "n2",
        "x2",
        units(z).alias("z6"),
    ).withColumn("significant", F.abs(F.col("z6")) > _Z975_6)


_HUBER_T = 4  # IRLS iterations (fixed, unrolled in the oracle)
_HUBER_K_PM = 1345  # k = 1.345·MAD, in per-mille


def q_huber_location(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HUBER M-ESTIMATOR of location per event type (Huber 1964) via
    IRLS: start at the median, clip influence at k = 1.345·MAD, and
    iterate μ ← Σw·x / Σw with w = min(1, k/|x−μ|) for 4 fixed
    rounds — the robust mean that downweights (not drops) outliers,
    completing the median/MAD/HL robust-location family.

    Determinism: everything integer — weights live on a 1e-3 grid as
    w3 = (k6·1000) div |r| (clipped at 1000), so Σw3·x6 stays inside
    int64 at any SF in the fixture range and the update is one integer
    division. A zero MAD degenerates safely (w3 = 1000 exactly at the
    median, 0 elsewhere → μ fixes at the median). Scale: the per-type
    median/MAD windows are the corpus passes; the 4-round loop re-joins
    the CACHED residual base against a 5-row μ frame per round."""
    ev = _events_v6(spark, sf_dir)
    # eager checkpoint: med feeds THREE consumers (dev, base, the output
    # row) — unmaterialized, the corpus-wide median window re-ran once
    # per consumer inside the base-build job (§2.4)
    med = store.materialize(
        _lower_median(ev, "v6")
        .select("event_type", F.col("v6").alias("med6"), "n"),
        "stats.huber_median", eager=True,
    )
    mad = store.materialize(
        _lower_median(_abs_dev(ev, med), "d6")
        .select(
            "event_type",
            F.col("d6").alias("mad6"),
            F.expr(f"(d6 * {_HUBER_K_PM}) div 1000").cast("bigint").alias("k6"),
        ),
        "stats.huber_mad", eager=True,
    )
    # the IRLS loop only reads (event_type, v6, k6) — med6/mad6/n for the
    # output row come from the tiny checkpointed frames, so the corpus
    # checkpoint is 3 columns, not 6, and no final corpus pass re-derives
    # the per-type constants (it was a 5th full aggregation)
    base = store.materialize(
        ev.join(F.broadcast(mad.select("event_type", "k6")), "event_type")
        .select("event_type", "v6", "k6"),
        "stats.huber_base", eager=True,
    )
    cur = med.select("event_type", F.col("med6").alias("mu6"))
    for _ in range(_HUBER_T):
        j = base.join(F.broadcast(cur), "event_type").withColumn(
            "r", F.abs(F.col("v6") - F.col("mu6"))
        )
        cur = (
            j.withColumn(
                "w3",
                F.when(F.col("r") <= F.col("k6"), F.lit(1000))
                .otherwise(F.expr("(k6 * 1000) div r"))
                .cast("bigint"),
            )
            .groupBy("event_type")
            .agg(
                F.expr("sum(w3 * v6) div sum(w3)").cast("bigint").alias("mu6")
            )
        )
    return (
        med.join(mad, "event_type")
        .join(cur.withColumnRenamed("mu6", "huber6"), "event_type")
        .select(
            "event_type",
            F.col("n").cast("bigint"),
            F.col("med6").alias("median6"),
            "mad6",
            "k6",
            "huber6",
        )
        .orderBy("event_type")
    )


def _huber_oracle() -> str:
    iters = "".join(
        f""", mu{t} AS MATERIALIZED (
            SELECT b.event_type,
                   CAST(sum(CASE WHEN abs(b.v6 - m.mu6) <= b.k6 THEN 1000
                            ELSE (b.k6 * 1000) // abs(b.v6 - m.mu6) END * b.v6)
                        // sum(CASE WHEN abs(b.v6 - m.mu6) <= b.k6 THEN 1000
                               ELSE (b.k6 * 1000) // abs(b.v6 - m.mu6) END)
                        AS BIGINT) AS mu6
            FROM base b JOIN mu{t - 1} m ON b.event_type = m.event_type
            GROUP BY 1
        )"""
        for t in range(1, _HUBER_T + 1)
    )
    return f"""
        WITH ev AS (
            SELECT event_type, event_id,
                   CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS v6
            FROM events
        ), med AS (
            SELECT event_type, v6 AS med6, n FROM (
                SELECT event_type, v6,
                       row_number() OVER (PARTITION BY event_type
                                          ORDER BY v6, event_id) AS rn,
                       count(*) OVER (PARTITION BY event_type) AS n
                FROM ev
            ) WHERE rn = (n + 1) // 2
        ), dev AS (
            SELECT ev.event_type, ev.event_id, ev.v6, med.med6, med.n,
                   abs(ev.v6 - med.med6) AS d6
            FROM ev JOIN med USING (event_type)
        ), mad AS (
            SELECT event_type, d6 AS mad6,
                   CAST((d6 * {_HUBER_K_PM}) // 1000 AS BIGINT) AS k6
            FROM (
                SELECT event_type, d6,
                       row_number() OVER (PARTITION BY event_type
                                          ORDER BY d6, event_id) AS rn,
                       count(*) OVER (PARTITION BY event_type) AS nn
                FROM dev
            ) WHERE rn = (nn + 1) // 2
        ), base AS MATERIALIZED (
            SELECT ev.event_type, ev.v6, med.med6, mad.mad6, mad.k6, med.n
            FROM ev JOIN med USING (event_type) JOIN mad USING (event_type)
        ), mu0 AS (
            SELECT event_type, CAST(max(med6) AS BIGINT) AS mu6
            FROM base GROUP BY 1
        ){iters}
        SELECT b.event_type, CAST(max(b.n) AS BIGINT) AS n,
               CAST(max(b.med6) AS BIGINT) AS median6,
               CAST(max(b.mad6) AS BIGINT) AS mad6,
               CAST(max(b.k6) AS BIGINT) AS k6,
               CAST(max(m.mu6) AS BIGINT) AS huber6
        FROM base b JOIN mu{_HUBER_T} m ON b.event_type = m.event_type
        GROUP BY 1 ORDER BY 1
    """


_HL_SAMPLE = 128  # md5-ranked sample per event type (pairs are O(n²))


def q_hodges_lehmann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HODGES-LEHMANN location estimator per event type — the median
    of all pairwise Walsh averages (x_i + x_j)/2, i ≤ j: the robust
    location estimate behind the Wilcoxon signed-rank test (breakdown
    29%, efficiency 95% vs the mean at the normal — the robust-stats
    upgrade over both mean and median). Pairs are O(n²), so the
    witness runs on a deterministic md5-ranked sample of ≤128 events
    per type (the kendall_tau bounded-sample pattern).

    Determinism: values snap to micro-units first; Walsh values stay
    as integer SUMS (never halved in floats — the output is 2·HL in
    micro-units, exactly representable); the median is the lower
    median by (sum, i, j) row_number rank. Pure integer end to end."""
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        units(F.col("value")).alias("v6"),
    )
    w = Window.partitionBy("event_type").orderBy(
        F.md5(F.col("event_id").cast("string")), "event_id"
    )
    samp = store.materialize(
        ev.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _HL_SAMPLE)
        .select("event_type", "rk", "v6"),
        "stats.hodges_sample", eager=True,
    )
    a = samp.select("event_type", F.col("rk").alias("i"), F.col("v6").alias("va"))
    b = samp.select(
        F.col("event_type").alias("et_b"),
        F.col("rk").alias("j"),
        F.col("v6").alias("vb"),
    )
    walsh = (
        a.join(
            b,
            (F.col("event_type") == F.col("et_b")) & (F.col("i") <= F.col("j")),
        )
        .select("event_type", "i", "j", (F.col("va") + F.col("vb")).alias("s"))
    )
    wr = Window.partitionBy("event_type").orderBy("s", "i", "j")
    cnt = Window.partitionBy("event_type")
    med = (
        walsh.select(
            "event_type",
            "s",
            F.row_number().over(wr).alias("rn"),
            F.count("*").over(cnt).alias("n"),
        )
        .where(F.col("rn") == F.expr("(n + 1) div 2"))
        .select("event_type", F.col("s").alias("hl_x2_6"), F.col("n").alias("n_pairs"))
    )
    n_samp = samp.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_sample")
    )
    return (
        n_samp.join(med, "event_type")
        .select("event_type", "n_sample", F.col("n_pairs").cast("bigint"), "hl_x2_6")
        .orderBy("event_type")
    )


_BT_T = 10  # Bradley-Terry MM iterations (fixed, unrolled in the oracle)


def q_bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BRADLEY-TERRY pairwise-preference strength fit (Bradley & Terry
    1952, via the Zermelo/MM update) — the model behind RLHF reward
    aggregation, chatbot-arena leaderboards, and any
    pairwise-comparison ranking. Comparisons are data-derived so both
    engines reproduce them: within each language, every source pair
    plays one "game", won by the source with the higher snapped mean
    document length (ties = no game). The MM update
    π_i ← W_i / Σ_j n_ij/(π_i+π_j), normalized to Σπ = k·1e6, runs
    T = 10 fixed iterations.

    Determinism engineering (the DoReMi discipline): strengths live on
    the int64 micro-grid; each reciprocal term is an INTEGER division
    (n·1e12) DIV (π_i+π_j) so the Σ_j sum is an integer sum (order
    can't perturb it); the normalizer is integer; strengths clamp to
    ≥1 so a winless source can never divide by zero. A pure-Python
    fixpoint pin lives in tests.

    Scale: ONE corpus pass to the (lang, source) frame; duels are
    bounded by the (lang, source) DOMAIN (≤ langs·C(k,2) rows
    regardless of corpus size), so they collect once (the BPE/k-center
    constant-bounded discipline) and the T-step MM loop runs as pure
    driver arithmetic — O(k²·T) integer work, identical values (Python
    ``//`` equals Spark ``div`` on these non-negative operands; the
    pure-Python fixpoint pin in tests/test_round11_wave9.py is the
    referee). The r21 A/B replaced ~23 localCheckpoint job barriers
    over ≤k²-row frames with one collect."""
    docs = load(spark, sf_dir, "documents")
    per_ls = docs.groupBy("lang", "source").agg(
        F.expr("sum(n_chars) * 1000000 div count(*)")
        .cast("bigint")
        .alias("m6")
    )
    a = per_ls.alias("a")
    b = per_ls.alias("b")
    duels = a.join(
        b,
        (F.col("a.lang") == F.col("b.lang"))
        & (F.col("a.source") < F.col("b.source"))
        & (F.col("a.m6") != F.col("b.m6")),
    ).select(
        F.when(F.col("a.m6") > F.col("b.m6"), F.col("a.source"))
        .otherwise(F.col("b.source"))
        .alias("winner"),
        F.when(F.col("a.m6") > F.col("b.m6"), F.col("b.source"))
        .otherwise(F.col("a.source"))
        .alias("loser"),
    )
    # ≤ langs·C(k,2) rows — domain-bounded, corpus-independent
    duel_rows = duels.collect()
    games: dict = {}
    wins: dict = {}
    for r in duel_rows:
        w, l = r["winner"], r["loser"]
        games[(w, l)] = games.get((w, l), 0) + 1
        games[(l, w)] = games.get((l, w), 0) + 1
        wins[w] = wins.get(w, 0) + 1
    universe = sorted({i for i, _ in games})
    k = len(universe)
    pi = {s: 1_000_000 for s in universe}
    for _ in range(_BT_T):
        s_sum: dict = {}
        for (i, j), n in games.items():
            s_sum[i] = s_sum.get(i, 0) + n * 10**12 // (pi[i] + pi[j])
        raw = {i: wins.get(i, 0) * 10**12 // s_sum[i] for i in universe}
        tot = sum(raw.values())
        pi = {i: max(raw[i] * k * 1_000_000 // tot, 1) for i in universe}
    n_games = {i: 0 for i in universe}
    for (i, _), n in games.items():
        n_games[i] += n
    return spark.createDataFrame(
        [(i, wins.get(i, 0), n_games[i], pi[i]) for i in universe],
        "source string, n_wins bigint, n_games bigint, bt6 bigint",
    ).orderBy("source")


def _bt_oracle() -> str:
    iters = "".join(
        f""", s{t} AS MATERIALIZED (
            SELECT g.i,
                   CAST(sum(g.n * 1000000000000 // (pa.pi + pb.pi)) AS BIGINT)
                       AS s
            FROM games g
            JOIN p{t - 1} pa ON g.i = pa.source
            JOIN p{t - 1} pb ON g.j = pb.source
            GROUP BY 1
        ), r{t} AS MATERIALIZED (
            SELECT w.source,
                   CAST(w.wins * 1000000000000 // s.s AS BIGINT) AS raw
            FROM wins w JOIN s{t} s ON w.source = s.i
        ), p{t} AS MATERIALIZED (
            SELECT r.source,
                   greatest(CAST(r.raw * kk.k * 1000000 // tot.t AS BIGINT),
                            1) AS pi
            FROM r{t} r
            CROSS JOIN (SELECT CAST(sum(raw) AS BIGINT) AS t FROM r{t}) tot
            CROSS JOIN kk
        )"""
        for t in range(1, _BT_T + 1)
    )
    return f"""
        WITH per_ls AS (
            SELECT lang, source,
                   CAST(sum(n_chars) * 1000000 // count(*) AS BIGINT) AS m6
            FROM documents GROUP BY 1, 2
        ), duels AS MATERIALIZED (
            SELECT CASE WHEN a.m6 > b.m6 THEN a.source ELSE b.source END
                       AS winner,
                   CASE WHEN a.m6 > b.m6 THEN b.source ELSE a.source END
                       AS loser
            FROM per_ls a JOIN per_ls b
              ON a.lang = b.lang AND a.source < b.source AND a.m6 <> b.m6
        ), games AS MATERIALIZED (
            SELECT i, j, CAST(count(*) AS BIGINT) AS n FROM (
                SELECT winner AS i, loser AS j FROM duels
                UNION ALL
                SELECT loser AS i, winner AS j FROM duels
            ) GROUP BY 1, 2
        ), wins AS MATERIALIZED (
            SELECT u.source, CAST(COALESCE(w.w, 0) AS BIGINT) AS wins
            FROM (SELECT DISTINCT i AS source FROM games) u
            LEFT JOIN (SELECT winner AS source, CAST(count(*) AS BIGINT) AS w
                       FROM duels GROUP BY 1) w USING (source)
        ), kk AS (
            SELECT CAST(count(*) AS BIGINT) AS k FROM wins
        ), p0 AS (
            SELECT source, CAST(1000000 AS BIGINT) AS pi FROM wins
        ){iters}
        SELECT w.source, w.wins AS n_wins, g.n_games, p.pi AS bt6
        FROM wins w
        JOIN (SELECT i, CAST(sum(n) AS BIGINT) AS n_games FROM games
              GROUP BY 1) g ON w.source = g.i
        JOIN p{_BT_T} p ON w.source = p.source
        ORDER BY w.source
    """


_ISO_BUCKET_W = 16  # score-bucket width over events.value
_ISO_B = 32  # bucket count (values clamp into the last bucket)


def q_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISOTONIC REGRESSION calibration (pool-adjacent-violators fit)
    of purchase rate against the event-value score — the standard
    monotone calibrator behind reliability curves and score→probability
    mapping. Scores land in ≤32 fixed-width buckets; the fitted value
    per bucket is the PAV solution via its MINIMAX characterization
    (Barlow et al. 1972): fit(b) = max_{j≤b} min_{k≥b} mean(y[j..k]).

    Determinism: segment means are (pos·1e6) DIV cnt — pure int64 —
    and min/max COMMUTE with the monotone floor, so the integer minimax
    equals floor(true-PAV·1e6) exactly (pinned against a
    Fraction-arithmetic stack PAV in tests). No floats anywhere.

    Scale: ONE corpus pass to the ≤32-row bucket frame; the O(B³)
    minimax joins run on broadcast bucket frames — constant work at
    any corpus size (the B-bounded sketch-grid discipline of
    quantile_normalize_sketch)."""
    ev = load(spark, sf_dir, "events").select(
        F.least(
            F.expr(f"cast(floor(value / {_ISO_BUCKET_W}) as bigint)"),
            F.lit(_ISO_B - 1).cast("bigint"),
        ).alias("b"),
        (F.col("event_type") == "purchase").cast("bigint").alias("y"),
    )
    buckets = ev.groupBy("b").agg(
        F.count("*").cast("bigint").alias("cnt"),
        F.sum("y").cast("bigint").alias("pos"),
    )
    j = buckets.select(F.col("b").alias("j"))
    k = buckets.select(F.col("b").alias("k"))
    pairs = j.crossJoin(F.broadcast(k)).where(F.col("j") <= F.col("k"))
    seg = (
        pairs.join(
            F.broadcast(buckets),
            (F.col("b") >= F.col("j")) & (F.col("b") <= F.col("k")),
        )
        .groupBy("j", "k")
        .agg(
            F.sum("pos").cast("bigint").alias("p"),
            F.sum("cnt").cast("bigint").alias("c"),
        )
        .select("j", "k", F.expr("p * 1000000 div c").cast("bigint").alias("mean6"))
    )
    fit = (
        F.broadcast(buckets.select("b"))
        .join(seg, (F.col("j") <= F.col("b")) & (F.col("k") >= F.col("b")))
        .groupBy("b", "j")
        .agg(F.min("mean6").alias("inner6"))
        .groupBy("b")
        .agg(F.max("inner6").cast("bigint").alias("iso6"))
    )
    return (
        buckets.join(F.broadcast(fit), "b")
        .select(
            F.col("b").alias("bucket"),
            F.col("cnt").alias("n"),
            F.col("pos").alias("n_pos"),
            F.expr("pos * 1000000 div cnt").cast("bigint").alias("raw6"),
            "iso6",
        )
        .orderBy("bucket")
    )


_BRIER_BINS = 10  # forecast bins; forecast = bin midpoint (exact decomp)


def q_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BRIER SCORE with the Murphy (1973) decomposition — reliability
    − resolution + uncertainty — for the "value predicts purchase"
    forecast: values bin into 10 deciles of the 0..500 range and the
    FORECAST IS THE BIN MIDPOINT, which makes the decomposition exact
    (zero within-bin forecast variance), an identity the pytest pin
    checks in exact rational arithmetic.

    Determinism: per-bin gap numerators are exact int64
    (Sf − pos·1e6 over denominator n_k); each component term is the
    fixed IEEE sequence divide→square→multiply, snapped to the 1e-12
    grid; the raw Brier sum is a pure int64 sum of µ² squares. One
    corpus pass; 10-row everything after."""
    ev = load(spark, sf_dir, "events").select(
        F.least(
            F.expr("cast(floor(value / 50) as bigint)"),
            F.lit(_BRIER_BINS - 1).cast("bigint"),
        ).alias("b"),
        (F.col("event_type") == "purchase").cast("bigint").alias("y"),
    ).withColumn("f6", (F.col("b") * 100_000 + 50_000).cast("bigint"))
    per = ev.groupBy("b", "f6").agg(
        F.count("*").cast("bigint").alias("n_k"),
        F.sum("y").cast("bigint").alias("pos_k"),
        F.sum((F.col("f6") - F.col("y") * 1_000_000) * (F.col("f6") - F.col("y") * 1_000_000))
        .cast("bigint")
        .alias("brier_sum12_k"),
    )
    tot = per.agg(
        F.sum("n_k").cast("bigint").alias("n"),
        F.sum("pos_k").cast("bigint").alias("pos"),
        F.sum("brier_sum12_k").cast("bigint").alias("brier_sum12"),
    )
    d = per.crossJoin(F.broadcast(tot))
    rel_term = (
        (F.col("f6") * F.col("n_k") - F.col("pos_k") * 1_000_000).cast("double")
        / F.col("n_k").cast("double")
    )
    res_term = (
        (F.col("pos_k") * F.col("n") - F.col("pos") * F.col("n_k")).cast("double")
        / (F.col("n_k") * F.col("n")).cast("double")
        * F.lit(1_000_000.0)
    )
    comps = d.select(
        "b",
        "n_k",
        "pos_k",
        units(rel_term * rel_term * F.col("n_k").cast("double"), 1).alias("rel12_k"),
        units(res_term * res_term * F.col("n_k").cast("double"), 1).alias("res12_k"),
    )
    totals = (
        comps.agg(
            F.sum("rel12_k").cast("bigint").alias("rel_sum12"),
            F.sum("res12_k").cast("bigint").alias("res_sum12"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            F.expr("brier_sum12 div n").cast("bigint").alias("brier12"),
            F.expr("rel_sum12 div n").cast("bigint").alias("reliability12"),
            F.expr("res_sum12 div n").cast("bigint").alias("resolution12"),
            units(
                F.col("pos").cast("double")
                * (F.col("n") - F.col("pos")).cast("double")
                / (F.col("n").cast("double") * F.col("n").cast("double")),
                1e12,
            ).alias("uncertainty12"),
        )
    )
    return (
        comps.crossJoin(F.broadcast(totals))
        .select(
            "b", "n_k", "pos_k", "rel12_k", "res12_k",
            "brier12", "reliability12", "resolution12", "uncertainty12",
        )
        .orderBy("b")
    )


ORACLES: dict[str, str] = {
    "kruskal_wallis": """
        WITH ev AS (
            SELECT event_type, CAST(floor(value) AS BIGINT) AS b FROM events
        ), bg AS (
            SELECT b, event_type, CAST(count(*) AS BIGINT) AS c
            FROM ev GROUP BY 1, 2
        ), hist AS MATERIALIZED (
            SELECT b, CAST(sum(c) AS BIGINT) AS cnt FROM bg GROUP BY 1
        ), less AS (
            SELECT h.b, h.cnt,
                   CAST(COALESCE(sum(h2.cnt), 0) AS BIGINT) AS cnt_less
            FROM hist h LEFT JOIN hist h2 ON h2.b < h.b
            GROUP BY 1, 2
        ), ranks AS (
            SELECT b, CAST(2 * cnt_less + cnt + 1 AS BIGINT) AS r2 FROM less
        ), groups AS (
            SELECT bg.event_type, CAST(sum(bg.c) AS BIGINT) AS n_i,
                   CAST(sum(bg.c * r.r2) AS BIGINT) AS r2_sum
            FROM bg JOIN ranks r ON bg.b = r.b
            GROUP BY 1
        ), terms AS MATERIALIZED (
            SELECT event_type, n_i, r2_sum,
                   CAST(floor(CAST(r2_sum AS DOUBLE) * CAST(r2_sum AS DOUBLE)
                              / CAST(n_i AS DOUBLE) + 0.5) AS BIGINT) AS t_i
            FROM groups
        ), tot AS (
            SELECT CAST(count(*) AS BIGINT) AS n FROM ev
        ), ties AS (
            SELECT CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS tie_num
            FROM hist
        ), h AS (
            SELECT CAST(floor(
                (3.0 * CAST(sum_t AS DOUBLE)
                     / CAST(n * (n + 1) AS DOUBLE)
                 - 3 * CAST(n + 1 AS DOUBLE))
                / (1.0 - CAST(tie_num AS DOUBLE)
                         / CAST(n * n * n - n AS DOUBLE))
                * 1e6 + 0.5) AS BIGINT) AS h_adj6
            FROM (SELECT CAST(sum(t_i) AS BIGINT) AS sum_t FROM terms)
            CROSS JOIN tot CROSS JOIN ties
        )
        SELECT event_type, n_i, r2_sum, h_adj6
        FROM terms CROSS JOIN h
        ORDER BY event_type
    """,
    "lorenz_curve": """
        WITH rev AS (
            SELECT o.o_custkey, c.c_mktsegment,
                   CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
                        AS BIGINT) AS rev
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            GROUP BY 1, 2
        ), ranked AS (
            SELECT c_mktsegment, rev,
                   row_number() OVER (PARTITION BY c_mktsegment
                                      ORDER BY rev, o_custkey) AS rn,
                   count(*) OVER (PARTITION BY c_mktsegment) AS n,
                   CAST(sum(rev) OVER (PARTITION BY c_mktsegment
                        ORDER BY rev, o_custkey
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS cum,
                   CAST(sum(rev) OVER (PARTITION BY c_mktsegment) AS BIGINT)
                       AS total
            FROM rev
        )
        SELECT r.c_mktsegment, d.decile,
               CAST(r.rn AS BIGINT) AS rank_at,
               CAST(r.cum * 1000000 // r.total AS BIGINT) AS cum_share6
        FROM ranked r
        CROSS JOIN (SELECT CAST(unnest(generate_series(1, 10)) AS BIGINT)
                        AS decile) d
        WHERE r.rn = (r.n * d.decile + 9) // 10
        ORDER BY r.c_mktsegment, d.decile
    """,
    "two_proportion_ztest": f"""
        WITH ev AS (
            SELECT event_id % 3 = 0 AS arm_a,
                   CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
            FROM events
        ), agg AS (
            SELECT CAST(sum(CASE WHEN arm_a THEN 1 ELSE 0 END) AS BIGINT)
                       AS n1,
                   CAST(sum(CASE WHEN arm_a THEN y ELSE 0 END) AS BIGINT)
                       AS x1,
                   CAST(sum(CASE WHEN arm_a THEN 0 ELSE 1 END) AS BIGINT)
                       AS n2,
                   CAST(sum(CASE WHEN arm_a THEN 0 ELSE y END) AS BIGINT)
                       AS x2
            FROM ev
        )
        SELECT n1, x1, n2, x2,
               CAST(floor(CAST(x1 * n2 - x2 * n1 AS DOUBLE)
                          / sqrt(CAST(greatest((x1 + x2)
                                               * (n1 + n2 - x1 - x2), 1)
                                      AS DOUBLE)
                                 * CAST(greatest(n1 * n2, 1) AS DOUBLE)
                                 / CAST(greatest(n1 + n2, 1) AS DOUBLE))
                          * 1e6 + 0.5) AS BIGINT) AS z6,
               abs(CAST(floor(CAST(x1 * n2 - x2 * n1 AS DOUBLE)
                          / sqrt(CAST(greatest((x1 + x2)
                                               * (n1 + n2 - x1 - x2), 1)
                                      AS DOUBLE)
                                 * CAST(greatest(n1 * n2, 1) AS DOUBLE)
                                 / CAST(greatest(n1 + n2, 1) AS DOUBLE))
                          * 1e6 + 0.5) AS BIGINT)) > {_Z975_6}
                   AS significant
        FROM agg
    """,
    "huber_location": _huber_oracle(),
    "brier_decomposition": f"""
        WITH ev AS (
            SELECT least(CAST(floor(value / 50) AS BIGINT),
                         {_BRIER_BINS - 1}) AS b,
                   CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
            FROM events
        ), ev2 AS (
            SELECT b, y, b * 100000 + 50000 AS f6 FROM ev
        ), per AS (
            SELECT b, f6, CAST(count(*) AS BIGINT) AS n_k,
                   CAST(sum(y) AS BIGINT) AS pos_k,
                   CAST(sum((f6 - y * 1000000) * (f6 - y * 1000000)) AS BIGINT)
                       AS brier_sum12_k
            FROM ev2 GROUP BY 1, 2
        ), tot AS (
            SELECT CAST(sum(n_k) AS BIGINT) AS n,
                   CAST(sum(pos_k) AS BIGINT) AS pos,
                   CAST(sum(brier_sum12_k) AS BIGINT) AS brier_sum12
            FROM per
        ), comps AS (
            SELECT b, n_k, pos_k,
                   CAST(floor((CAST(f6 * n_k - pos_k * 1000000 AS DOUBLE)
                               / CAST(n_k AS DOUBLE))
                              * (CAST(f6 * n_k - pos_k * 1000000 AS DOUBLE)
                                 / CAST(n_k AS DOUBLE))
                              * CAST(n_k AS DOUBLE) + 0.5) AS BIGINT)
                       AS rel12_k,
                   CAST(floor((CAST(pos_k * n - pos * n_k AS DOUBLE)
                               / CAST(n_k * n AS DOUBLE) * 1000000.0)
                              * (CAST(pos_k * n - pos * n_k AS DOUBLE)
                                 / CAST(n_k * n AS DOUBLE) * 1000000.0)
                              * CAST(n_k AS DOUBLE) + 0.5) AS BIGINT)
                       AS res12_k
            FROM per CROSS JOIN tot
        ), sums AS (
            SELECT CAST(sum(rel12_k) AS BIGINT) AS rel_sum12,
                   CAST(sum(res12_k) AS BIGINT) AS res_sum12
            FROM comps
        )
        SELECT c.b, c.n_k, c.pos_k, c.rel12_k, c.res12_k,
               CAST(t.brier_sum12 // t.n AS BIGINT) AS brier12,
               CAST(s.rel_sum12 // t.n AS BIGINT) AS reliability12,
               CAST(s.res_sum12 // t.n AS BIGINT) AS resolution12,
               CAST(floor(CAST(t.pos AS DOUBLE) * CAST(t.n - t.pos AS DOUBLE)
                          / (CAST(t.n AS DOUBLE) * CAST(t.n AS DOUBLE))
                          * 1e12 + 0.5) AS BIGINT) AS uncertainty12
        FROM comps c CROSS JOIN tot t CROSS JOIN sums s
        ORDER BY c.b
    """,
    "hodges_lehmann": f"""
        WITH ev AS (
            SELECT event_type, event_id,
                   CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS v6
            FROM events
        ), samp AS (
            SELECT event_type, rk, v6 FROM (
                SELECT event_type, v6,
                       row_number() OVER (PARTITION BY event_type
                           ORDER BY md5(CAST(event_id AS VARCHAR)), event_id)
                           AS rk
                FROM ev
            ) WHERE rk <= {_HL_SAMPLE}
        ), walsh AS (
            SELECT a.event_type, a.rk AS i, b.rk AS j,
                   a.v6 + b.v6 AS s
            FROM samp a JOIN samp b
              ON a.event_type = b.event_type AND a.rk <= b.rk
        ), med AS (
            SELECT event_type, s AS hl_x2_6, n AS n_pairs FROM (
                SELECT event_type, s,
                       row_number() OVER (PARTITION BY event_type
                                          ORDER BY s, i, j) AS rn,
                       count(*) OVER (PARTITION BY event_type) AS n
                FROM walsh
            ) WHERE rn = (n + 1) // 2
        )
        SELECT s.event_type, CAST(s.n_sample AS BIGINT) AS n_sample,
               CAST(m.n_pairs AS BIGINT) AS n_pairs, m.hl_x2_6
        FROM (SELECT event_type, count(*) AS n_sample FROM samp GROUP BY 1) s
        JOIN med m ON s.event_type = m.event_type
        ORDER BY s.event_type
    """,
    "bradley_terry": _bt_oracle(),
    "isotonic_calibration": f"""
        WITH ev AS (
            SELECT least(CAST(floor(value / {_ISO_BUCKET_W}) AS BIGINT),
                         {_ISO_B - 1}) AS b,
                   CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
            FROM events
        ), buckets AS (
            SELECT b, CAST(count(*) AS BIGINT) AS cnt,
                   CAST(sum(y) AS BIGINT) AS pos
            FROM ev GROUP BY 1
        ), seg AS (
            SELECT j.b AS j, k.b AS k,
                   CAST(sum(m.pos) * 1000000 // sum(m.cnt) AS BIGINT) AS mean6
            FROM buckets j
            JOIN buckets k ON j.b <= k.b
            JOIN buckets m ON m.b >= j.b AND m.b <= k.b
            GROUP BY 1, 2
        ), fit AS (
            SELECT b, CAST(max(inner6) AS BIGINT) AS iso6 FROM (
                SELECT bb.b, seg.j, min(seg.mean6) AS inner6
                FROM buckets bb
                JOIN seg ON seg.j <= bb.b AND seg.k >= bb.b
                GROUP BY 1, 2
            ) GROUP BY 1
        )
        SELECT buckets.b AS bucket, cnt AS n, pos AS n_pos,
               CAST(pos * 1000000 // cnt AS BIGINT) AS raw6,
               fit.iso6
        FROM buckets JOIN fit ON buckets.b = fit.b
        ORDER BY bucket
    """,
    "cohens_kappa": f"""
        WITH rated AS (
            SELECT CASE WHEN n_chars < {_KAPPA_CHAR_CUTS[0]} THEN 0
                        WHEN n_chars < {_KAPPA_CHAR_CUTS[1]} THEN 1
                        ELSE 2 END AS ra,
                   CASE WHEN len(string_split(text, ' ')) < {_KAPPA_TOK_CUTS[0]} THEN 0
                        WHEN len(string_split(text, ' ')) < {_KAPPA_TOK_CUTS[1]} THEN 1
                        ELSE 2 END AS rb
            FROM documents
        ), cells AS (
            SELECT ra, rb, CAST(count(*) AS BIGINT) AS c
            FROM rated GROUP BY 1, 2
        ), marg AS (
            SELECT r.ra AS cat, r.row_n, co.col_n FROM
                (SELECT ra, CAST(sum(c) AS BIGINT) AS row_n FROM cells GROUP BY 1) r
                JOIN
                (SELECT rb, CAST(sum(c) AS BIGINT) AS col_n FROM cells GROUP BY 1) co
                ON r.ra = co.rb
        ), pe AS (
            SELECT CAST(sum(row_n * col_n) AS BIGINT) AS pe_num FROM marg
        ), tot AS (
            SELECT CAST(sum(c) AS BIGINT) AS n_items,
                   CAST(sum(CASE WHEN ra = rb THEN c ELSE 0 END) AS BIGINT)
                       AS observed_agree
            FROM cells
        )
        SELECT n_items, observed_agree, pe_num,
               CAST(floor(CAST(n_items * observed_agree - pe_num AS DOUBLE)
                          / CAST(greatest(n_items * n_items - pe_num, 1)
                                 AS DOUBLE)
                          * 1e6 + 0.5) AS BIGINT) AS kappa6
        FROM tot CROSS JOIN pe
    """,
    "mad_outliers": f"""
        WITH ev AS (
            SELECT event_id, event_type,
                   CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS v6
            FROM events
        ), med AS (
            SELECT event_type, v6 AS med6 FROM (
                SELECT event_type, v6,
                       row_number() OVER (PARTITION BY event_type
                                          ORDER BY v6, event_id) AS rn,
                       count(*) OVER (PARTITION BY event_type) AS n
                FROM ev
            ) WHERE rn = (n + 1) // 2
        ), dev AS (
            SELECT ev.event_id, ev.event_type, ev.v6, med.med6,
                   abs(ev.v6 - med.med6) AS d6
            FROM ev JOIN med USING (event_type)
        ), mad AS (
            SELECT event_type, d6 AS mad6 FROM (
                SELECT event_type, d6,
                       row_number() OVER (PARTITION BY event_type
                                          ORDER BY d6, event_id) AS rn,
                       count(*) OVER (PARTITION BY event_type) AS n
                FROM dev
            ) WHERE rn = (n + 1) // 2
        )
        SELECT dev.event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(max(med6) AS BIGINT) AS median6,
               CAST(max(mad6) AS BIGINT) AS mad6,
               CAST(sum(CASE WHEN d6 > {_MAD_K} * mad.mad6 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_outliers,
               CAST(sum(CASE WHEN d6 > {_MAD_K} * mad.mad6 THEN 1 ELSE 0 END)
                    * 1000000 // count(*) AS BIGINT) AS outlier_share6
        FROM dev JOIN mad USING (event_type)
        GROUP BY 1 ORDER BY 1
    """,
    "neyman_allocation": _NEYMAN_ORACLE,
    "spearman_quality_corr": _SPEARMAN_ORACLE,
    "wilson_ci": _wilson_oracle(),
    "agg_geometric_mean": """
        WITH rows_ln AS (
            SELECT o_orderpriority,
                   CAST(floor(ln(o_totalprice) * 1e6 + 0.5) AS BIGINT) AS ln6
            FROM orders
        )
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(ln6) AS BIGINT) AS sum_ln6,
               CAST(floor(exp(CAST(sum(ln6) // count(*) AS DOUBLE) / 1e6)
                    * 100 + 0.5) AS BIGINT) AS geo_mean_cents
        FROM rows_ln
        GROUP BY 1 ORDER BY 1
    """,
    "weighted_median": """
        WITH hist AS (
            SELECT l_returnflag,
                   CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
                   CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
            FROM lineitem GROUP BY 1, 2
        ), cum AS (
            SELECT l_returnflag, cents,
                   CAST(sum(w) OVER (PARTITION BY l_returnflag ORDER BY cents
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS cum,
                   CAST(sum(w) OVER (PARTITION BY l_returnflag) AS BIGINT)
                       AS totw
            FROM hist
        )
        SELECT l_returnflag,
               CAST(min(cents) AS BIGINT) AS wmedian_cents,
               CAST(max(totw) AS BIGINT) AS total_weight
        FROM cum WHERE 2 * cum >= totw
        GROUP BY 1 ORDER BY 1
    """,
    "roc_curve": f"""
        WITH hist AS (
            SELECT CAST(n_chars AS BIGINT) AS s,
                   CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
                       AS np,
                   CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT)
                       AS nn
            FROM documents GROUP BY 1
        ), rng AS (
            SELECT min(s) AS s_min, max(s) AS s_max,
                   CAST(sum(np) AS BIGINT) AS n_pos,
                   CAST(sum(nn) AS BIGINT) AS n_neg
            FROM hist
        ), thr AS (
            SELECT i, n_pos, n_neg,
                   s_min + i * (s_max - s_min) // {_ROC_POINTS} AS thr
            FROM rng, (SELECT unnest(generate_series(0, {_ROC_POINTS})) AS i)
        )
        SELECT CAST(t.i AS BIGINT) AS i, t.thr,
               CAST(sum(h.np) AS BIGINT) AS tp,
               CAST(sum(h.nn) AS BIGINT) AS fp,
               CAST(sum(h.np) * 1000000 // greatest(t.n_pos, 1) AS BIGINT) AS tpr6,
               CAST(sum(h.nn) * 1000000 // greatest(t.n_neg, 1) AS BIGINT) AS fpr6
        FROM thr t JOIN hist h ON h.s >= t.thr
        GROUP BY t.i, t.thr, t.n_pos, t.n_neg
        ORDER BY t.i
    """,
    "mann_whitney_u": """
        WITH d AS (
            SELECT lang, CAST(n_chars AS BIGINT) AS x,
                   CASE WHEN source = min(source) OVER (PARTITION BY lang)
                        THEN 1 ELSE 0 END AS g1
            FROM documents
        ), ranked AS (
            SELECT lang, g1,
                   CAST(2 * rank() OVER (PARTITION BY lang ORDER BY x)
                        + count(*) OVER (PARTITION BY lang, x) - 1
                        AS BIGINT) AS r2x
            FROM d
        ), agg AS (
            SELECT lang,
                   CAST(sum(g1) AS BIGINT) AS n1,
                   CAST(count(*) - sum(g1) AS BIGINT) AS n2,
                   CAST(sum(CASE WHEN g1 = 1 THEN r2x ELSE 0 END) AS BIGINT)
                       AS rsum2x
            FROM ranked GROUP BY 1
        )
        SELECT lang, n1, n2,
               CAST(rsum2x - n1 * (n1 + 1) AS BIGINT) AS u2,
               CAST((rsum2x - n1 * (n1 + 1)) * 1000000 // greatest(n1 * n2, 1)
                    - 1000000 AS BIGINT) AS rb6
        FROM agg ORDER BY lang
    """,
    "kendall_tau": f"""
        WITH d AS (
            SELECT lang, doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS s1,
                   CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
                       * 1000000 // len(string_split(text, ' ')) AS s2
            FROM documents
        ), samp AS (
            SELECT * FROM (
                SELECT lang, doc_id, s1, s2,
                       row_number() OVER (PARTITION BY lang
                           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
                FROM d) WHERE rn <= {_KENDALL_SAMPLE}
        ), pairs AS (
            SELECT a.lang,
                   CASE WHEN (a.s1 < b.s1 AND a.s2 < b.s2)
                          OR (a.s1 > b.s1 AND a.s2 > b.s2) THEN 1 ELSE 0 END AS con,
                   CASE WHEN (a.s1 < b.s1 AND a.s2 > b.s2)
                          OR (a.s1 > b.s1 AND a.s2 < b.s2) THEN 1 ELSE 0 END AS dis,
                   CASE WHEN a.s1 = b.s1 THEN 1 ELSE 0 END AS tx,
                   CASE WHEN a.s2 = b.s2 THEN 1 ELSE 0 END AS ty
            FROM samp a JOIN samp b
              ON a.lang = b.lang AND a.doc_id < b.doc_id
        ), agg AS (
            SELECT lang, CAST(count(*) AS BIGINT) AS n0,
                   CAST(sum(con) AS BIGINT) AS conc,
                   CAST(sum(dis) AS BIGINT) AS disc,
                   CAST(sum(tx) AS BIGINT) AS tx,
                   CAST(sum(ty) AS BIGINT) AS ty
            FROM pairs GROUP BY 1
        )
        SELECT lang, n0, conc, disc,
               CAST(floor(CAST(conc - disc AS DOUBLE)
                    / sqrt(greatest(CAST(n0 - tx AS DOUBLE)
                                    * CAST(n0 - ty AS DOUBLE), 1.0))
                    * 1e6 + 0.5) AS BIGINT) AS tau6
        FROM agg ORDER BY lang
    """,
    "cramers_v": """
        WITH obs AS (
            SELECT lang, source, count(*) AS o FROM documents GROUP BY 1, 2
        ), row_t AS (SELECT lang, CAST(sum(o) AS BIGINT) AS rt FROM obs GROUP BY 1),
        col_t AS (SELECT source, CAST(sum(o) AS BIGINT) AS ct FROM obs GROUP BY 1),
        n_t AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM obs),
        grid AS (
            SELECT coalesce(o.o, 0) AS o,
                   CAST(r.rt * c.ct AS DOUBLE) / n.n AS e
            FROM row_t r CROSS JOIN col_t c
            LEFT JOIN obs o ON o.lang = r.lang AND o.source = c.source
            CROSS JOIN n_t n
        ), stat AS (
            SELECT floor(sum(pow(o - e, 2) / e) * 1e6 + 0.5) / 1e6 AS chi2,
                   CAST(sum(o) AS BIGINT) AS n
            FROM grid
        ), rc AS (
            SELECT CAST(count(DISTINCT lang) AS BIGINT) AS r,
                   CAST(count(DISTINCT source) AS BIGINT) AS c
            FROM documents
        )
        SELECT chi2, n,
               CAST(least(r - 1, c - 1) AS BIGINT) AS min_dim,
               CAST(floor(sqrt(chi2 / (CAST(n AS DOUBLE)
                    * CAST(greatest(least(r - 1, c - 1), 1) AS DOUBLE)))
                    * 1e6 + 0.5) AS BIGINT) AS v6
        FROM stat CROSS JOIN rc
    """,
    "bootstrap_ci": _bootstrap_oracle_sql(),
    "ks_two_sample": """
        WITH hist AS (
            SELECT CAST(n_chars AS BIGINT) AS s,
                   CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                        AS BIGINT) AS ca,
                   CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END)
                        AS BIGINT) AS cb
            FROM documents GROUP BY 1
        ), cum AS (
            SELECT h.s,
                   CAST(sum(h2.ca) AS BIGINT) AS cum_a,
                   CAST(sum(h2.cb) AS BIGINT) AS cum_b
            FROM hist h LEFT JOIN hist h2 ON h2.s <= h.s
            GROUP BY h.s
        ), tot AS (
            SELECT CAST(sum(ca) AS BIGINT) AS na,
                   CAST(sum(cb) AS BIGINT) AS nb
            FROM hist
        ), gap AS (
            SELECT CAST(max(abs(cum_a * nb - cum_b * na)) AS BIGINT) AS gap_x,
                   CAST(max(na) AS BIGINT) AS na,
                   CAST(max(nb) AS BIGINT) AS nb
            FROM cum CROSS JOIN tot
        )
        SELECT na, nb,
               floor(CAST(gap_x AS DOUBLE) / greatest(CAST(na * nb AS DOUBLE), 1.0)
                     * 1e6 + 0.5) / 1e6 AS ks_stat,
               floor(1.358 * sqrt(CAST(na + nb AS DOUBLE)
                                  / greatest(CAST(na * nb AS DOUBLE), 1.0))
                     * 1e6 + 0.5) / 1e6 AS reject_threshold,
               (floor(CAST(gap_x AS DOUBLE) / greatest(CAST(na * nb AS DOUBLE), 1.0)
                      * 1e6 + 0.5) / 1e6)
               > (floor(1.358 * sqrt(CAST(na + nb AS DOUBLE)
                                     / greatest(CAST(na * nb AS DOUBLE), 1.0))
                        * 1e6 + 0.5) / 1e6) AS reject_h0
        FROM gap
    """,
    "auc_exact": """
        WITH hist AS (
            SELECT CAST(n_chars AS BIGINT) AS s,
                   CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                        AS BIGINT) AS np,
                   CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END)
                        AS BIGINT) AS nn
            FROM documents GROUP BY 1
        ), below AS (
            SELECT h.s, h.np, h.nn,
                   CAST(coalesce(sum(h2.nn), 0) AS BIGINT) AS neg_below
            FROM hist h LEFT JOIN hist h2 ON h2.s < h.s
            GROUP BY h.s, h.np, h.nn
        ), agg AS (
            SELECT CAST(sum(np) AS BIGINT) AS n_pos,
                   CAST(sum(nn) AS BIGINT) AS n_neg,
                   CAST(sum(np * (2 * neg_below + nn)) AS BIGINT) AS won2
            FROM below
        )
        SELECT n_pos, n_neg,
               floor(CAST(won2 AS DOUBLE)
                     / greatest(CAST(2 * n_pos * n_neg AS DOUBLE), 1.0)
                     * 1e6 + 0.5) / 1e6
                   AS auc
        FROM agg
    """,
    "temperature_sweep": """
        WITH dom AS (
            SELECT source,
                   CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tok
            FROM documents GROUP BY source
        ), alphas AS (
            SELECT CAST(a AS BIGINT) / 10.0 AS alpha
            FROM range(1, 11) t(a)
        ), scored AS (
            SELECT source, alpha,
                   CAST(floor(exp(alpha * ln(CAST(n_tok AS DOUBLE))) * 1e6
                              + 0.5) AS BIGINT) AS x6
            FROM dom CROSS JOIN alphas
        ), tot AS (
            SELECT alpha, CAST(sum(x6) AS BIGINT) AS s6
            FROM scored GROUP BY alpha
        ), terms AS (
            SELECT s.alpha,
                   CAST(s.x6 AS DOUBLE) / CAST(t.s6 AS DOUBLE) AS w,
                   CAST(floor(-(CAST(s.x6 AS DOUBLE) / CAST(t.s6 AS DOUBLE)
                                * ln(CAST(s.x6 AS DOUBLE)
                                     / CAST(t.s6 AS DOUBLE)))
                              * 1e9 + 0.5) AS BIGINT) AS h9
            FROM scored s JOIN tot t USING (alpha)
        )
        SELECT alpha,
               CAST(count(*) AS BIGINT) AS n_domains,
               floor(exp(CAST(sum(h9) AS BIGINT) / 1e9) * 1e6 + 0.5) / 1e6
                   AS effective_domains,
               floor(max(w) * 1e6 + 0.5) / 1e6 AS max_weight
        FROM terms GROUP BY alpha
    """,
    "domain_ablation_stats": """
        WITH dom AS (
            SELECT source,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(len(string_split(text, ' '))) AS BIGINT)
                       AS n_tokens,
                   CAST(sum(n_chars) AS BIGINT) AS n_chars
            FROM documents GROUP BY source
        ), tot AS (
            SELECT CAST(sum(n_docs) AS BIGINT) AS t_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS t_tokens,
                   CAST(sum(n_chars) AS BIGINT) AS t_chars
            FROM dom
        )
        SELECT source,
               CAST(t_docs - n_docs AS BIGINT) AS ablated_docs,
               CAST(t_tokens - n_tokens AS BIGINT) AS ablated_tokens,
               CAST(t_chars - n_chars AS BIGINT) AS ablated_chars,
               floor(CAST(t_tokens - n_tokens AS DOUBLE)
                     / CAST(t_tokens AS DOUBLE) * 1e6 + 0.5) / 1e6
                   AS remaining_share
        FROM dom CROSS JOIN tot
    """,
    "span_corruption_plan": f"""
        WITH base AS (
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
            FROM documents
        ), eligible AS (
            SELECT doc_id, n_tokens,
                   CAST(n_tokens // {_SPANC_BLOCK} AS BIGINT) AS n_spans
            FROM base WHERE n_tokens >= {_SPANC_BLOCK}
        ), blocks AS (
            SELECT doc_id, n_tokens, n_spans,
                   CAST(unnest(range(n_spans)) AS BIGINT) AS b
            FROM eligible
        ), starts AS (
            SELECT doc_id, n_tokens, n_spans,
                   b * {_SPANC_BLOCK}
                   + ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'
                                        || CAST(b AS VARCHAR)), 1, 8))::BIGINT
                     % {_SPANC_BLOCK - _SPANC_LEN + 1} AS s
            FROM blocks
        )
        SELECT doc_id, n_tokens, n_spans,
               CAST(n_tokens - n_spans * {_SPANC_LEN} + n_spans AS BIGINT)
                   AS input_len,
               CAST(n_spans * {_SPANC_LEN} + n_spans + 1 AS BIGINT)
                   AS target_len,
               CAST(sum(s) AS BIGINT) AS span_start_checksum
        FROM starts
        GROUP BY doc_id, n_tokens, n_spans
    """,
    "domain_reweight_doremi": _doremi_oracle_sql(),
    "epoch_shard_order": f"""
        WITH keyed AS (
            SELECT d.doc_id, CAST(e.epoch AS INT) AS epoch,
                   md5(CAST(d.doc_id AS VARCHAR) || ':'
                       || CAST(e.epoch AS VARCHAR)) AS md5hex
            FROM documents d CROSS JOIN range({_EPOCH_N}) e(epoch)
        ), ranked AS (
            SELECT doc_id, epoch,
                   ('0x' || substr(md5hex, 1, 2))::BIGINT % {_EPOCH_SHARDS}
                       AS shard,
                   row_number() OVER (
                       PARTITION BY epoch,
                                    ('0x' || substr(md5hex, 1, 2))::BIGINT
                                        % {_EPOCH_SHARDS}
                       ORDER BY md5hex, doc_id
                   ) AS ordinal
            FROM keyed
        )
        SELECT epoch, shard,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(min(CASE WHEN ordinal = 1 THEN doc_id END) AS BIGINT)
                   AS first_doc,
               CAST(sum(doc_id * ordinal) AS BIGINT) AS order_checksum
        FROM ranked
        GROUP BY epoch, shard
    """,
    "mixture_unimax_waterfill": f"""
        WITH strata AS (
            SELECT CASE WHEN CAST(substr(source, 4) AS INT) < 10 THEN 'a'
                        WHEN CAST(substr(source, 4) AS INT) < 15 THEN 'b'
                        WHEN CAST(substr(source, 4) AS INT) < 18 THEN 'c'
                        ELSE 'd' END AS stratum,
                   CAST(sum(len(list_filter(string_split(text, ' '),
                                            x -> x <> ''))) AS BIGINT)
                       AS n_tokens
            FROM documents GROUP BY 1
        ), caps AS (
            SELECT stratum, n_tokens,
                   CAST(n_tokens * {_UNIMAX_EMAX} AS BIGINT) AS cap_tokens
            FROM strata
        ), b AS (
            SELECT CAST(sum(n_tokens) AS BIGINT) AS budget FROM caps
        ), minsums AS (
            SELECT x.stratum, x.n_tokens, x.cap_tokens,
                   CAST(sum(least(j.cap_tokens, x.cap_tokens)) AS BIGINT)
                       AS minsum
            FROM caps x CROSS JOIN caps j
            GROUP BY 1, 2, 3
        ), flagged AS (
            SELECT m.*, b.budget, (m.minsum <= b.budget) AS capped
            FROM minsums m CROSS JOIN b
        ), pools AS (
            SELECT CAST(sum(CASE WHEN capped THEN cap_tokens ELSE 0 END)
                        AS BIGINT) AS s_cap,
                   CAST(sum(CASE WHEN capped THEN 0 ELSE 1 END) AS BIGINT)
                       AS k_un
            FROM flagged
        )
        SELECT stratum, n_tokens, cap_tokens, capped,
               floor((CASE WHEN capped THEN CAST(cap_tokens AS DOUBLE)
                           ELSE (budget - s_cap) / k_un END) * 1e6 + 0.5)
                   / 1e6 AS alloc_tokens,
               floor((CASE WHEN capped THEN CAST(cap_tokens AS DOUBLE)
                           ELSE (budget - s_cap) / k_un END)
                     / greatest(n_tokens, 1)
                     * 1e6 + 0.5) / 1e6 AS epochs
        FROM flagged CROSS JOIN pools
    """,
    "weighted_sample_aes": f"""
        SELECT doc_id, lang, n_chars,
               round(power(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                           / 4294967296.0,
                           1.0 / n_chars), 9) AS sample_key
        FROM documents
        WHERE n_chars > 0
        ORDER BY sample_key DESC, doc_id
        LIMIT {_WEIGHTED_K}
    """,
    "outlier_iqr": """
        WITH f AS (
            SELECT event_type,
                   quantile_cont(value, 0.25) AS q1,
                   quantile_cont(value, 0.75) AS q3
            FROM events GROUP BY 1
        ), fx AS (
            SELECT event_type, q1, q3,
                   round(q1 - 1.5 * (q3 - q1), 4) AS lo,
                   round(q3 + 1.5 * (q3 - q1), 4) AS hi
            FROM f
        )
        SELECT e.event_type, count(*) AS n,
               round(max(fx.q1), 4) AS q1,
               round(max(fx.q3), 4) AS q3,
               CAST(sum(CASE WHEN e.value < fx.lo THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
               CAST(sum(CASE WHEN e.value > fx.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_high
        FROM events e JOIN fx USING (event_type)
        GROUP BY e.event_type
    """,
    "rfm_segmentation": """
        WITH pc AS (
            SELECT o_custkey,
                   epoch_ms(max(o_orderdate)) // 1000 AS recency,
                   CAST(count(*) AS DOUBLE) AS frequency,
                   round(sum(o_totalprice), 2) AS monetary
            FROM orders GROUP BY 1
        ), f AS (
            SELECT round(quantile_cont(recency, 0.25), 4) AS r25,
                   round(quantile_cont(recency, 0.50), 4) AS r50,
                   round(quantile_cont(recency, 0.75), 4) AS r75,
                   round(quantile_cont(frequency, 0.25), 4) AS f25,
                   round(quantile_cont(frequency, 0.50), 4) AS f50,
                   round(quantile_cont(frequency, 0.75), 4) AS f75,
                   round(quantile_cont(monetary, 0.25), 4) AS m25,
                   round(quantile_cont(monetary, 0.50), 4) AS m50,
                   round(quantile_cont(monetary, 0.75), 4) AS m75
            FROM pc
        ), cut AS (
            SELECT monetary,
                   CASE WHEN recency >= r75 THEN 1 WHEN recency >= r50 THEN 2
                        WHEN recency >= r25 THEN 3 ELSE 4 END AS r_q,
                   CASE WHEN frequency >= f75 THEN 1 WHEN frequency >= f50 THEN 2
                        WHEN frequency >= f25 THEN 3 ELSE 4 END AS f_q,
                   CASE WHEN monetary >= m75 THEN 1 WHEN monetary >= m50 THEN 2
                        WHEN monetary >= m25 THEN 3 ELSE 4 END AS m_q
            FROM pc CROSS JOIN f
        )
        SELECT r_q, f_q, m_q,
               count(*) AS n_customers,
               round(sum(monetary), 2) AS segment_revenue
        FROM cut
        GROUP BY r_q, f_q, m_q
    """,
    "agg_regression": """
        WITH e AS (
            SELECT event_type, value AS y,
                   CAST((epoch_ms(ts) // 1000) % 86400 AS DOUBLE) AS x
            FROM events
        )
        SELECT event_type,
               regr_count(y, x) AS n_pts,
               floor(regr_slope(y, x) * 1e6 + 0.5) / 1e6 AS slope,
               floor(regr_intercept(y, x) * 1e6 + 0.5) / 1e6 AS intercept,
               floor(regr_r2(y, x) * 1e6 + 0.5) / 1e6 AS r2,
               floor(regr_avgx(y, x) * 1e6 + 0.5) / 1e6 AS avg_x,
               floor(regr_avgy(y, x) * 1e6 + 0.5) / 1e6 AS avg_y
        FROM e
        GROUP BY event_type
    """,
    "reservoir_sample_grouped": f"""
        SELECT doc_id, lang, n_chars, pick
        FROM (
            SELECT doc_id, lang, n_chars,
                   CAST(row_number() OVER (
                       PARTITION BY lang
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                   ) AS BIGINT) AS pick
            FROM documents
        )
        WHERE pick <= {_RESERVOIR_K}
    """,
    "bitmap_distinct": """
        SELECT event_type, count(DISTINCT user_id) AS n_users
        FROM events
        GROUP BY event_type
    """,
    "agg_arg_extremes": """
        WITH by_value AS (
            SELECT event_type, user_id,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY value DESC, event_id DESC) AS rv
            FROM events
        ), by_time AS (
            SELECT event_type, user_id,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY ts ASC, event_id ASC) AS rt
            FROM events
        ), base AS (
            SELECT event_type, round(max(value), 4) AS max_value,
                   count(*) AS n
            FROM events GROUP BY event_type
        )
        SELECT b.event_type,
               v.user_id AS top_value_user,
               t.user_id AS first_user,
               b.max_value, b.n
        FROM base b
        JOIN by_value v ON b.event_type = v.event_type AND v.rv = 1
        JOIN by_time  t ON b.event_type = t.event_type AND t.rt = 1
    """,
    "train_shard_order": """
        SELECT doc_id, shard,
               CAST(row_number() OVER (PARTITION BY shard ORDER BY md5hex, doc_id)
                    AS BIGINT) AS ordinal
        FROM (
            SELECT doc_id,
                   ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))::BIGINT % 32 AS shard,
                   md5(CAST(doc_id AS VARCHAR)) AS md5hex
            FROM documents
        ) t
    """,
    "winsorize_by_group": f"""
        WITH ranked AS (
            SELECT event_type, value,
                   row_number() OVER (PARTITION BY event_type ORDER BY value)
                       AS rn,
                   count(*) OVER (PARTITION BY event_type) AS n
            FROM events
        ), cuts AS (
            SELECT event_type, min(value) AS p_lo, max(value) AS p_hi
            FROM ranked
            WHERE rn = ceil({_WINSOR_LO} * n) OR rn = ceil({_WINSOR_HI} * n)
            GROUP BY event_type
        )
        SELECT e.event_type,
               CAST(count(*) AS BIGINT) AS n,
               min(c.p_lo) AS p01,
               min(c.p_hi) AS p99,
               floor(avg(e.value) * 1e6 + 0.5) / 1e6 AS mean_raw,
               floor(avg(least(greatest(e.value, c.p_lo), c.p_hi)) * 1e6 + 0.5)
                   / 1e6 AS mean_winsorized
        FROM events e JOIN cuts c USING (event_type)
        GROUP BY e.event_type
    """,
    "lang_source_chisq": """
        WITH obs AS (
            SELECT lang, source, CAST(count(*) AS BIGINT) AS o
            FROM documents GROUP BY 1, 2
        ), rt AS (
            SELECT lang, CAST(sum(o) AS BIGINT) AS rt FROM obs GROUP BY lang
        ), ct AS (
            SELECT source, CAST(sum(o) AS BIGINT) AS ct FROM obs GROUP BY source
        ), nt AS (
            SELECT CAST(sum(o) AS BIGINT) AS n FROM obs
        ), grid AS (
            SELECT r.lang, c.source, coalesce(o.o, 0) AS o,
                   r.rt * c.ct / CAST(n.n AS DOUBLE) AS e
            FROM rt r CROSS JOIN ct c
            LEFT JOIN obs o ON o.lang = r.lang AND o.source = c.source
            CROSS JOIN nt n
        )
        SELECT floor(sum(pow(o - e, 2) / e) * 1e6 + 0.5) / 1e6 AS chi2,
               CAST(count(*) AS BIGINT) AS n_cells,
               CAST(sum(o) AS BIGINT) AS n,
               CAST((SELECT count(*) FROM rt) - 1 AS BIGINT)
                   * ((SELECT count(*) FROM ct) - 1) AS dof
        FROM grid
    """,
    "mixture_temperature": f"""
        WITH counts AS (
            SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                   exp({_MIX_ALPHA} * ln(CAST(count(*) AS DOUBLE))) AS w
            FROM documents GROUP BY source
        ), norm AS (
            SELECT sum(w) AS w_sum, CAST(sum(n_docs) AS BIGINT) AS n_total
            FROM counts
        )
        SELECT source, n_docs,
               floor(n_docs / CAST(n_total AS DOUBLE) * 1e6 + 0.5) / 1e6
                   AS raw_share,
               floor(w / w_sum * 1e6 + 0.5) / 1e6 AS temp_share,
               floor((w / w_sum) / (n_docs / CAST(n_total AS DOUBLE)) * 1e6
                     + 0.5) / 1e6 AS boost,
               CAST(floor(w / w_sum * {_MIX_BUDGET} + 0.5) AS BIGINT)
                   AS epoch_quota
        FROM counts, norm
    """,
    "mixture_weighted_sample": """
        SELECT source,
               (CAST(substr(source, 4) AS INT) % 4 + 1) / 4.0 AS keep_rate,
               count(*) AS n_kept
        FROM documents
        WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 1024
              < ((CAST(substr(source, 4) AS INT) % 4 + 1) / 4.0) * 1024
        GROUP BY source
    """,
    "stratified_sample": """
        WITH counts AS (
            SELECT lang, count(*) AS n_lang FROM documents GROUP BY lang
        ), th AS (
            SELECT lang,
                   CAST(floor(((SELECT min(n_lang) FROM counts) * 256) / n_lang) AS BIGINT) AS keep_lt
            FROM counts
        ), kept AS (
            SELECT d.lang, count(*) AS n_kept
            FROM documents d JOIN th USING (lang)
            WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 2))::BIGINT % 256 < th.keep_lt
            GROUP BY d.lang
        )
        SELECT lang, n_kept, keep_lt
        FROM kept JOIN th USING (lang)
    """,
    "sample_hash": """
        SELECT doc_id, lang,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))::BIGINT % 16 AS BIGINT) AS bucket
        FROM documents
        WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))::BIGINT % 16 < 4
    """,
    "train_test_split": """
        WITH t AS (
            SELECT lang, n_chars,
                   CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))::BIGINT % 16 < 12
                        THEN 'train' ELSE 'test' END AS split
            FROM documents
        )
        SELECT lang, split, count(*) AS n_docs, round(avg(n_chars), 4) AS avg_chars
        FROM t
        GROUP BY lang, split
    """,
    "stats_percentiles": """
        SELECT o_orderstatus,
               round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
               round(quantile_cont(o_totalprice, 0.50), 4) AS p50,
               round(quantile_cont(o_totalprice, 0.75), 4) AS p75,
               round(quantile_cont(o_totalprice, 0.95), 4) AS p95
        FROM orders
        GROUP BY o_orderstatus
    """,
    "stats_corr": """
        SELECT l_returnflag,
               round(corr(l_quantity, l_extendedprice), 6) + 0.0 AS corr_qty_price,
               round(covar_samp(l_quantity, l_discount), 6) + 0.0 AS covar_qty_disc,
               round(stddev_samp(l_quantity), 6) AS std_qty,
               round(var_samp(l_discount), 6) AS var_disc
        FROM lineitem
        GROUP BY l_returnflag
    """,
    "pivot_event_types": """
        SELECT user_id,
               count(*) FILTER (event_type = 'click') AS click,
               count(*) FILTER (event_type = 'view') AS view,
               count(*) FILTER (event_type = 'purchase') AS purchase,
               count(*) FILTER (event_type = 'signup') AS signup,
               count(*) FILTER (event_type = 'error') AS error
        FROM events
        GROUP BY user_id
    """,
}

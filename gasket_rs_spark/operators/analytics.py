"""Event-sequence analytics over the events table: ordered funnel
conversion and retention cohorts — the product-analytics pair every
event warehouse runs, expressed as windows + hash aggregations (no
self-joins, no per-user driver logic).

Scale notes: both operators are one shuffle on user_id (window or
groupBy) followed by a tiny aggregation; cohort/stage cardinality is
bounded (weeks × offsets, 4 funnel stages) so the final aggregate is a
broadcast-sized result at any corpus size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gasket_rs_spark import store
from gasket_rs_spark.grid import snap, units
from gasket_rs_spark.tables import events_with_sec, load


def _funnel_per_user(ev: DataFrame) -> DataFrame:
    """Per user: first signup, first click at-or-after it, first purchase
    at-or-after that click — three chained per-user windows (one shuffle;
    each stage's threshold is the previous window column)."""
    w = Window.partitionBy("user_id")
    staged = (
        ev.withColumn(
            "t_signup",
            F.min(F.when(F.col("event_type") == "signup", F.col("ts_sec"))).over(w),
        )
        .withColumn(
            "t_click",
            F.min(
                F.when(
                    (F.col("event_type") == "click")
                    & (F.col("ts_sec") >= F.col("t_signup")),
                    F.col("ts_sec"),
                )
            ).over(w),
        )
        .withColumn(
            "t_purchase",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts_sec") >= F.col("t_click")),
                    F.col("ts_sec"),
                )
            ).over(w),
        )
    )
    return staged.groupBy("user_id").agg(
        F.min("t_signup").alias("t_signup"),
        F.min("t_click").alias("t_click"),
        F.min("t_purchase").alias("t_purchase"),
    )


def _day_range(df: DataFrame) -> DataFrame:
    """One ``day`` row per day in [min(day), max(day)] of ``df`` — the
    calendar-bounded spine (exploded from a 1-row aggregate)."""
    return df.agg(F.min("day").alias("d0"), F.max("day").alias("d1")).select(
        F.explode(F.sequence("d0", "d1")).alias("day")
    )


def _daily_counts(ev: DataFrame, by_type: bool = False, **counts: Column) -> DataFrame:
    """Day-bucketed event counts zero-filled over [min day, max day]: one
    row per ``day`` (per ``event_type, day`` with ``by_type``, over the
    types present), so a day without events — or without events of one
    type — is a 0 count, never a missing row. ``ev`` carries ``ts_sec``
    (``events_with_sec``); day = floor(ts_sec / 86400). ``counts`` names
    the bigint count aggregates (default ``c`` = count(*)).

    Scale: one corpus pass to the per-day counts; the spine and the
    zero-filled grid are calendar-bounded."""
    keys = ["event_type", "day"] if by_type else ["day"]
    counts = counts or {"c": F.count("*")}
    per_day = (
        ev.withColumn("day", F.floor(F.col("ts_sec") / F.lit(86400)).cast("bigint"))
        .groupBy(*keys)
        .agg(*[c.cast("bigint").alias(n) for n, c in counts.items()])
    )
    spine = _day_range(per_day)
    if by_type:
        spine = per_day.select("event_type").distinct().crossJoin(F.broadcast(spine))
    return spine.join(per_day, keys, "left").select(
        *keys, *[F.coalesce(n, F.lit(0)).cast("bigint").alias(n) for n in counts]
    )


def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered signup → click → purchase funnel (per-user stages from
    ``_funnel_per_user``). Emits the global stage counts: users entering,
    completing stage 1/2/3.
    """
    per_user = _funnel_per_user(events_with_sec(spark, sf_dir))
    return per_user.agg(
        F.count("*").alias("n_users"),
        F.count("t_signup").alias("n_signed_up"),
        F.count("t_click").alias("n_clicked_after"),
        F.count("t_purchase").alias("n_purchased_after"),
    )


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts: users grouped by first-activity week,
    counted per week-offset of later activity — first-touch via one
    per-user window, then a distinct over the bounded (cohort, offset,
    user) triples and a hash count."""
    ev = events_with_sec(spark, sf_dir)
    w = Window.partitionBy("user_id")
    # floor matches the oracle's integer `//` for both signs; the old
    # double-divide + cast("bigint") truncated toward zero instead.
    week = F.floor(F.col("ts_sec") / F.lit(604800)).cast("bigint")
    cohorted = ev.withColumn("week", week).withColumn(
        "cohort_week", F.min("week").over(w)
    )
    return (
        cohorted.select(
            "user_id", "cohort_week", (F.col("week") - F.col("cohort_week")).alias("week_offset")
        )
        .distinct()
        .groupBy("cohort_week", "week_offset")
        .agg(F.count("*").alias("n_users"))
    )


def q_timeseries_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense time-series resample with zero-filled gaps: daily click
    counts per user over the observed span, every (user, day) cell
    present even when no events landed — the gap-fill every monitoring /
    feature-engineering pipeline needs before rolling computations.

    Shape: the day spine is ``sequence(min_day, max_day)`` exploded from
    a 1-row aggregate (bounded by the calendar span, NOT by data volume)
    and cross-joined broadcast against the distinct-user dim; observed
    counts left-join onto the grid. At 100 TB the only SF-scaled shuffles
    are the distinct and the count aggregation — the spine stays tiny.
    Users capped to id < 20 to keep the witness result bounded."""
    ev = load(spark, sf_dir, "events").where(F.col("user_id") < 20)
    clicks = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id", F.date_trunc("DAY", "ts").alias("day"))
        .agg(F.count("*").alias("n_clicks"))
    )
    span = ev.agg(
        F.date_trunc("DAY", F.min("ts")).alias("d0"),
        F.date_trunc("DAY", F.max("ts")).alias("d1"),
    )
    days = span.select(
        F.explode(F.sequence("d0", "d1", F.expr("interval 1 day"))).alias("day")
    )
    users = ev.select("user_id").distinct()
    grid = users.crossJoin(F.broadcast(days))
    return grid.join(clicks, ["user_id", "day"], "left").select(
        "user_id", "day", F.coalesce("n_clicks", F.lit(0)).alias("n_clicks")
    )


def q_timeseries_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward fill (last observation carried forward): every event row
    carries the user's most recent purchase value at-or-before it —
    the sparse→dense state propagation every feature pipeline needs
    before joining signals sampled at different rates.

    `last(..., ignorenulls=True)` over a running per-user frame — one
    window shuffle on user_id; rows before the first observation stay
    NULL (no fabricated state). Ties on the same second break on
    event_id (unique), so fills are deterministic cross-engine.
    """
    ev = events_with_sec(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_sec", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    obs = F.when(F.col("event_type") == "purchase", F.round("value", 4))
    return ev.select(
        "event_id",
        "user_id",
        "ts_sec",
        "event_type",
        F.last(obs, ignorenulls=True).over(w).alias("last_purchase_value"),
    )


_Z_WIN = 10  # rolling frame: the 10 preceding observations
_Z_THRESH = 3.0


def q_rolling_zscore_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection: each event's value is scored
    against the mean/stddev of its user's 10 PRECEDING events (frame
    excludes the current row — scoring against your own value hides
    spikes), |z| > 3 flags an anomaly; the witness aggregates per event
    type: points scored, anomalies, and the max |z| — the standard
    streaming-metrics outlier monitor in batch form. Windows are
    user-partitioned (scale-safe); z is floor-snapped at 6dp BEFORE the
    threshold compare so a point within one ulp of 3.0 cannot flip
    between engines; rows without a full preceding frame (fewer than 2
    observations or zero variance) are excluded from scoring."""
    ev = events_with_sec(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_sec", "event_id")
        .rowsBetween(-_Z_WIN, -1)
    )
    scored = (
        ev.withColumn("mu", F.avg("value").over(w))
        .withColumn("sd", F.stddev_samp(F.col("value")).over(w))
        .where(F.col("sd").isNotNull() & (F.col("sd") > 0))
        .withColumn(
            "z",
            snap(F.abs((F.col("value") - F.col("mu")) / F.col("sd"))),
        )
    )
    return scored.groupBy("event_type").agg(
        F.count("*").alias("n_scored"),
        F.sum((F.col("z") > _Z_THRESH).cast("int")).alias("n_anomalies"),
        F.max("z").alias("max_z"),
    )


_COOC_TOPK = 20


def q_supplier_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item co-occurrence similarity (the collaborative-filtering
    building block): supplier pairs that serve the same orders, scored
    by cosine over order sets — co(a,b) / sqrt(n(a)·n(b)) — top-20 by
    support. The pair self-join is keyed on the ORDER (bounded basket:
    an order has a handful of lines), so pair volume is linear in
    orders, never suppliers² — the standard market-basket shape. The
    per-supplier count frame is SF-scaled (10k×SF rows), so its joins
    carry NO broadcast hint — AQE broadcasts while small and sort-merges
    at the 100× target, same policy as every other SF-scaled join
    (VERDICT r8 #5; pinned in tests/test_plans.py). Snap
    at 6dp; (co DESC, s1, s2) makes the top-k deterministic."""
    d = store.materialize(
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey")
        .distinct(),
        # d feeds THREE consumers (both pair sides + the per-supplier
        # counts) — unmaterialized, the scan+distinct shuffle ran per
        # consumer (§2.4). Lazy: one materialization per action (r21
        # interleaved A/B min 2.407 → 1.954 s at sf0.1, every pair
        # favors, identical rows).
        "analytics.cooccurrence", eager=False,
    )
    a = d.select(F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("s1"))
    b = d.select(F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("s2"))
    pairs = (
        a.join(b, "ok")
        .where(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(F.count("*").alias("co"))
    )
    n = d.groupBy("l_suppkey").agg(F.count("*").alias("n_orders"))
    scored = (
        pairs.join(
            n.select(F.col("l_suppkey").alias("s1"), F.col("n_orders").alias("n1")),
            "s1",
        )
        .join(
            n.select(F.col("l_suppkey").alias("s2"), F.col("n_orders").alias("n2")),
            "s2",
        )
        .select(
            "s1",
            "s2",
            "co",
            F.round(F.col("co") / F.sqrt(F.col("n1") * F.col("n2")), 6).alias("cosine"),
        )
    )
    return scored.orderBy(F.col("co").desc(), "s1", "s2").limit(_COOC_TOPK)


_SESSION_GAP_SEC = 1800


def _sessionized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events with ``session``: the 30-minute-gap island id within each
    user, a running count of gap breaks in (ts_sec, event_id) order."""
    w_user = Window.partitionBy("user_id").orderBy("ts_sec", "event_id")
    gap_break = F.when(
        (F.col("ts_sec") - F.lag("ts_sec").over(w_user)) > _SESSION_GAP_SEC, 1
    ).otherwise(0)
    return events_with_sec(spark, sf_dir).withColumn(
        "session",
        F.sum(gap_break).over(w_user.rowsBetween(Window.unboundedPreceding, 0)),
    )


def q_session_path_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type transition matrix within behavioral sessions: sessions
    are 30-min-gap islands per user (same cumulative-sum sessionization
    as the streaming twin), transitions are (type → next type) pairs via
    one lead() inside each session, counted globally — the Markov-chain
    input for funnel modeling / next-action prediction. Two windows and
    one aggregation, all partitioned by user."""
    sess = _sessionized(spark, sf_dir)
    w_sess = Window.partitionBy("user_id", "session").orderBy("ts_sec", "event_id")
    pairs = sess.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w_sess).alias("to_type"),
    ).where(F.col("to_type").isNotNull())
    return pairs.groupBy("from_type", "to_type").agg(
        F.count("*").alias("n_transitions")
    )


def q_distribution_drift_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week event-type distribution drift: the L1 distance
    between consecutive weekly type-share vectors — the detector every
    monitoring pipeline runs against ingest mix shifts. Shares are
    zero-filled over the (week × type) grid (a missing type IS drift),
    L1 snapped on the 1e-6 grid. The grid is bounded (weeks × 5 types),
    so every join here is broadcast-sized at any corpus scale."""
    ev = events_with_sec(spark, sf_dir).withColumn(
        "week", F.floor(F.col("ts_sec") / F.lit(604800)).cast("bigint")
    )
    counts = ev.groupBy("week", "event_type").agg(F.count("*").alias("c"))
    totals = ev.groupBy("week").agg(F.count("*").alias("t"))
    types = ev.select("event_type").distinct()
    weeks = ev.select("week").distinct()
    grid = weeks.crossJoin(types)
    shares = (
        grid.join(counts, ["week", "event_type"], "left")
        .join(totals, "week")
        .select(
            "week",
            "event_type",
            (F.coalesce("c", F.lit(0)) / F.col("t")).alias("p"),
        )
    )
    nxt = shares.select(
        (F.col("week") - 1).alias("week"),
        F.col("event_type"),
        F.col("p").alias("p_next"),
    )
    paired = shares.join(nxt, ["week", "event_type"])
    return paired.groupBy("week").agg(
        snap(F.sum(F.abs(F.col("p_next") - F.col("p")))).alias("l1_drift"),
        F.count("*").alias("n_types"),
    )


_FW_WINDOWS = (3600, 86400, 604800)  # 1 h / 1 day / 1 week


def q_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-constrained funnel (ClickHouse ``windowFunnel`` semantics):
    signup → click → purchase must ALL land within W seconds of the
    user's first signup, for W ∈ {1 h, 1 day, 1 week} — the
    time-sensitivity curve the unbounded q_funnel_conversion can't see.

    Greedy completion is optimal here, so no per-W window passes are
    needed: with c* = first click ≥ signup and p* = first purchase ≥ c*,
    a valid chain within [t_s, t_s+W] exists iff p* ≤ t_s+W (any valid
    chain's click c ≥ c* keeps every later purchase available, so
    p* ≤ p — the earliest chain dominates). One user-partitioned
    window chain (shared with the unbounded funnel), then a 3-row
    broadcast of W literals and one aggregate.
    """
    per_user = _funnel_per_user(events_with_sec(spark, sf_dir))
    wins = spark.createDataFrame(
        [(int(x),) for x in _FW_WINDOWS], "window_sec bigint"
    )
    return (
        per_user.where(F.col("t_signup").isNotNull())
        .crossJoin(F.broadcast(wins))
        .groupBy("window_sec")
        .agg(
            F.count("*").cast("bigint").alias("n_signed_up"),
            F.sum(
                F.when(F.col("t_click") <= F.col("t_signup") + F.col("window_sec"), 1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("n_clicked_within"),
            F.sum(
                F.when(
                    F.col("t_purchase") <= F.col("t_signup") + F.col("window_sec"), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_purchased_within"),
        )
        .orderBy("window_sec")
    )


_TRIGRAM_TOPK = 15


def q_session_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 frequent length-3 event-type sequences within behavioral
    sessions — the PrefixSpan-lite sequential-pattern pass one step past
    q_session_path_transitions' Markov pairs (a trigram distribution
    distinguishes browse→click→buy from click→browse→buy; the pair
    matrix cannot). Same 30-min-gap sessionization, two lead()s inside
    one session window, global count, deterministic (n DESC, types)
    top-k."""
    sess = _sessionized(spark, sf_dir)
    w_user = Window.partitionBy("user_id").orderBy("ts_sec", "event_id")
    # Leads masked WITHIN the user window instead of a second
    # (user_id, session)-partitioned window (r21): session ids are
    # monotonic within the user ordering, so lead(session,2)==session
    # iff positions i+1, i+2 sit in the same session — the exact row
    # set the session-partitioned leads produced (verified identical at
    # sf0.1). Saves one full Sort of the event stream (plan: 2 Sorts →
    # 1; the user-window pass already established the order); local
    # wall-clock is a wash at sf0.1, the win is the removed
    # corpus-wide sort at scale (guide §2.4 — window keyed compatibly
    # with the preceding pass needs no second shuffle/sort).
    tri = (
        sess.select(
            F.col("event_type").alias("t1"),
            F.lead("event_type", 1).over(w_user).alias("t2"),
            F.lead("event_type", 2).over(w_user).alias("t3"),
            F.col("session").alias("s0"),
            F.lead("session", 2).over(w_user).alias("s2"),
        )
        .where(F.col("s2") == F.col("s0"))
        .drop("s0", "s2")
    )
    return (
        tri.groupBy("t1", "t2", "t3")
        .agg(F.count("*").cast("bigint").alias("n"))
        .orderBy(F.col("n").desc(), "t1", "t2", "t3")
        .limit(_TRIGRAM_TOPK)
    )


def q_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information I(lang; source) over the documents table in
    bits — the information-theoretic dependence measure next to
    q_lang_source_chisq's frequentist test (chi-square answers "is there
    dependence?"; MI answers "how many bits does one tell you about the
    other?" — the quantity mixture designers actually budget).

    I = Σ_cells (c/N)·log2(cN/(r·s)). Determinism: per-cell
    log2(cN/(r·s)) is one transcendental on a bit-identical exact-int
    ratio double, snapped to micro-units (c·N and r·s stay under 2^53);
    the weighted sum Σ c·pmi6 is exact int64; the final ÷N is one
    integer division. Output: one row (n_cells, n_docs, mi_bits6).

    Scale shape: the contingency table is |langs|×|sources| — bounded —
    so after one corpus groupBy everything is broadcast-sized; marginals
    come from the cell table, never a second corpus scan."""
    docs = load(spark, sf_dir, "documents")
    cells = docs.groupBy("lang", "source").agg(
        F.count("*").cast("bigint").alias("c")
    )
    r = cells.groupBy("lang").agg(F.sum("c").cast("bigint").alias("rc"))
    s = cells.groupBy("source").agg(F.sum("c").cast("bigint").alias("sc"))
    n = cells.agg(F.sum("c").cast("bigint").alias("n"))
    terms = (
        cells.join(F.broadcast(r), "lang")
        .join(F.broadcast(s), "source")
        .crossJoin(F.broadcast(n))
        .select(
            "c",
            "n",
            units(
                F.log2(
                    (F.col("c").cast("double") * F.col("n"))
                    / (F.col("rc").cast("double") * F.col("sc"))
                )
            ).alias("pmi6"),
        )
    )
    return terms.agg(
        F.count("*").cast("bigint").alias("n_cells"),
        F.max("n").alias("n_docs"),
        F.expr("sum(c * pmi6) div max(n)").cast("bigint").alias("mi_bits6"),
    )


_MI_ORACLE = """
    WITH cells AS (
        SELECT lang, source, CAST(count(*) AS BIGINT) AS c
        FROM documents GROUP BY lang, source
    ), r AS (
        SELECT lang, CAST(sum(c) AS BIGINT) AS rc FROM cells GROUP BY lang
    ), s AS (
        SELECT source, CAST(sum(c) AS BIGINT) AS sc FROM cells GROUP BY source
    ), n AS (
        SELECT CAST(sum(c) AS BIGINT) AS n FROM cells
    ), terms AS (
        SELECT cells.c, n.n,
               CAST(floor(log2((CAST(cells.c AS DOUBLE) * n.n)
                               / (CAST(r.rc AS DOUBLE) * s.sc)) * 1e6 + 0.5)
                    AS BIGINT) AS pmi6
        FROM cells
        JOIN r USING (lang)
        JOIN s USING (source)
        CROSS JOIN n
    )
    SELECT CAST(count(*) AS BIGINT) AS n_cells,
           CAST(max(n) AS BIGINT) AS n_docs,
           CAST(sum(c * pmi6) // max(n) AS BIGINT) AS mi_bits6
    FROM terms
"""


def q_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend (Theil 1950; Sen 1968 — the median-of
    -pairwise-slopes estimator, immune to up to ~29% outliers where OLS
    is not) of weekly median event value per event_type: weekly LOWER
    median of value cents, then the LOWER median of all pairwise
    (Δmedian/Δweek) slopes. The robust-regression complement to
    q_rolling_zscore_anomalies (outlier detection) and
    q_distribution_drift_weekly (shape drift).

    Determinism: values in integer cents; lower medians picked by
    row_number at (n+1)/2 with full tie-break orders; pairwise slopes
    are the pure integer ``Δcents·1e6 div Δweeks``. Both median windows
    are partitioned by event_type — bounded frames (weeks, then
    weeks²/2 pairs per type), never a corpus-sized sort.

    Scale shape (100 TB): the corpus-sized work is one groupBy-free
    window per (event_type, week) group for the weekly median — at
    scale that window is replaced by the quantile-sketch grid
    (quantile_normalize_sketch) feeding the identical bounded
    pair/median tail; the tail itself is O(weeks²) per type regardless
    of corpus size."""
    ev = events_with_sec(spark, sf_dir).select(
        "event_type",
        "event_id",
        F.floor(F.col("ts_sec") / F.lit(604800)).cast("bigint").alias("week"),
        units(F.col("value"), 100).alias("cents"),
    )
    w_med = Window.partitionBy("event_type", "week").orderBy("cents", "event_id")
    weekly = store.materialize(
        ev.withColumn("rn", F.row_number().over(w_med))
        .withColumn("cnt", F.count("*").over(Window.partitionBy("event_type", "week")))
        .where(F.expr("rn = (cnt + 1) div 2"))  # lower median
        .select("event_type", "week", F.col("cents").alias("med_cents")),
        "analytics.theil_sen_weekly", eager=True,  # feeds n_weeks + both pair sides
    )
    n_weeks = weekly.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_weeks")
    )
    a = weekly.select("event_type", F.col("week").alias("w1"), F.col("med_cents").alias("m1"))
    b = weekly.select("event_type", F.col("week").alias("w2"), F.col("med_cents").alias("m2"))
    slopes = (
        a.join(b, "event_type")
        .where(F.col("w1") < F.col("w2"))
        .select(
            "event_type",
            "w1",
            "w2",
            F.expr("(m2 - m1) * 1000000 div (w2 - w1)").cast("bigint").alias("slope6"),
        )
    )
    w_s = Window.partitionBy("event_type").orderBy("slope6", "w1", "w2")
    cnt_s = Window.partitionBy("event_type")
    return (
        slopes.withColumn("rn", F.row_number().over(w_s))
        .withColumn("np", F.count("*").over(cnt_s))
        .where(F.expr("rn = (np + 1) div 2"))  # lower median slope
        .join(n_weeks, "event_type")
        .select(
            "event_type",
            "n_weeks",
            F.col("np").cast("bigint").alias("n_pairs"),
            F.col("slope6").alias("ts_slope6"),
        )
        .orderBy("event_type")
    )


_AR_MINSUP_PCT = 1  # rule floor: pair must appear in >= 1% of baskets
_AR_TOPK = 20


def q_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules (Agrawal & Srikant 1994) over
    order baskets at BRAND grain: for brand pairs co-ordered in ≥1% of
    baskets, emit both directed rules a→b with support, confidence and
    lift. Complements q_supplier_cooccurrence (undirected cosine
    co-occurrence) with the directional rule metrics that drive
    recommender/affinity pipelines.

    Determinism: support/confidence/lift are pure integer micro-unit
    divisions of exact int64 counts (`x * 1e6 div y` on both engines —
    never divide-then-cast, the DOUBLE→INT gotcha). Tie-breaks
    (lift6 DESC, antecedent, consequent) pin the top-20.

    Scale shape (100 TB): the pair self-join is keyed on the ORDER
    (bounded basket), linear in orders, never brands²; brand stats are a
    25-row broadcast; the min-support filter prunes before the rule
    explosion. The lineitem⋈part brand lookup is an SF-scaled equi-join
    left to AQE (no broadcast hint — the r8 #5 policy)."""
    baskets = store.materialize(
        load(spark, sf_dir, "lineitem")
        .join(
            load(spark, sf_dir, "part"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .select(F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("brand"))
        .distinct(),
        "analytics.assoc_baskets", eager=True,  # feeds N, per-brand counts, both pair sides
    )
    n_baskets = baskets.agg(F.countDistinct("ok").cast("bigint").alias("n"))
    cnt = baskets.groupBy("brand").agg(F.count("*").cast("bigint").alias("cnt"))
    a = baskets.select("ok", F.col("brand").alias("ba"))
    b = baskets.select("ok", F.col("brand").alias("bb"))
    co = (
        a.join(b, "ok")
        .where(F.col("ba") < F.col("bb"))
        .groupBy("ba", "bb")
        .agg(F.count("*").cast("bigint").alias("co"))
    )
    rules = co.select("ba", "bb", "co").unionByName(
        co.select(
            F.col("bb").alias("ba"), F.col("ba").alias("bb"), "co"
        )
    )
    scored = (
        rules.crossJoin(F.broadcast(n_baskets))
        .where(F.col("co") * 100 >= F.lit(_AR_MINSUP_PCT) * F.col("n"))
        .join(
            F.broadcast(
                cnt.select(F.col("brand").alias("ba"), F.col("cnt").alias("ca"))
            ),
            "ba",
        )
        .join(
            F.broadcast(
                cnt.select(F.col("brand").alias("bb"), F.col("cnt").alias("cb"))
            ),
            "bb",
        )
        .select(
            F.col("ba").alias("antecedent"),
            F.col("bb").alias("consequent"),
            "co",
            F.expr("co * 1000000 div n").cast("bigint").alias("support6"),
            F.expr("co * 1000000 div ca").cast("bigint").alias("conf6"),
            F.expr("co * n * 1000000 div (ca * cb)").cast("bigint").alias("lift6"),
        )
    )
    return scored.orderBy(
        F.col("lift6").desc(), "antecedent", "consequent"
    ).limit(_AR_TOPK)


_ASSOC_ORACLE = f"""
    WITH baskets AS MATERIALIZED (
        SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS brand
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ), nb AS (
        SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n FROM baskets
    ), cnt AS (
        SELECT brand, CAST(count(*) AS BIGINT) AS cnt FROM baskets GROUP BY brand
    ), co AS (
        SELECT a.brand AS ba, b.brand AS bb, CAST(count(*) AS BIGINT) AS co
        FROM baskets a JOIN baskets b ON a.ok = b.ok AND a.brand < b.brand
        GROUP BY 1, 2
    ), rules AS (
        SELECT ba, bb, co FROM co
        UNION ALL
        SELECT bb AS ba, ba AS bb, co FROM co
    ), scored AS (
        SELECT r.ba AS antecedent, r.bb AS consequent, r.co,
               CAST(r.co * 1000000 // nb.n AS BIGINT) AS support6,
               CAST(r.co * 1000000 // ca.cnt AS BIGINT) AS conf6,
               CAST(r.co * nb.n * 1000000 // (ca.cnt * cb.cnt) AS BIGINT) AS lift6
        FROM rules r
        CROSS JOIN nb
        JOIN cnt ca ON ca.brand = r.ba
        JOIN cnt cb ON cb.brand = r.bb
        WHERE r.co * 100 >= {_AR_MINSUP_PCT} * nb.n
    )
    SELECT antecedent, consequent, co, support6, conf6, lift6
    FROM scored
    ORDER BY lift6 DESC, antecedent, consequent
    LIMIT {_AR_TOPK}
"""


_FW_ORACLE = f"""
    WITH e AS (
        SELECT user_id, event_type, epoch_ms(ts) // 1000 AS ts_sec FROM events
    ), staged AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'signup' THEN ts_sec END)
                   OVER (PARTITION BY user_id) AS t_signup,
               ts_sec, event_type
        FROM e
    ), clicked AS (
        SELECT user_id, t_signup,
               min(CASE WHEN event_type = 'click' AND ts_sec >= t_signup
                        THEN ts_sec END) OVER (PARTITION BY user_id) AS t_click,
               ts_sec, event_type
        FROM staged
    ), purch AS (
        SELECT user_id, t_signup, t_click,
               min(CASE WHEN event_type = 'purchase' AND ts_sec >= t_click
                        THEN ts_sec END) OVER (PARTITION BY user_id) AS t_purchase
        FROM clicked
    ), per_user AS (
        SELECT user_id, min(t_signup) AS t_signup, min(t_click) AS t_click,
               min(t_purchase) AS t_purchase
        FROM purch GROUP BY user_id
    ), wins AS (
        SELECT CAST(unnest([{", ".join(str(x) for x in _FW_WINDOWS)}]) AS BIGINT)
               AS window_sec
    )
    SELECT w.window_sec,
           CAST(count(*) AS BIGINT) AS n_signed_up,
           CAST(sum(CASE WHEN u.t_click <= u.t_signup + w.window_sec
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_clicked_within,
           CAST(sum(CASE WHEN u.t_purchase <= u.t_signup + w.window_sec
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_purchased_within
    FROM per_user u CROSS JOIN wins w
    WHERE u.t_signup IS NOT NULL
    GROUP BY w.window_sec
    ORDER BY w.window_sec
"""


_TRIGRAM_ORACLE = f"""
    WITH e AS (
        SELECT user_id, event_id, event_type,
               epoch_ms(ts) // 1000 AS ts_sec
        FROM events
    ), flagged AS (
        SELECT *, CASE WHEN ts_sec - lag(ts_sec) OVER w > {_SESSION_GAP_SEC}
                       THEN 1 ELSE 0 END AS brk
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec, event_id)
    ), sess AS (
        SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id
                                      ORDER BY ts_sec, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS session
        FROM flagged
    ), tri AS (
        SELECT event_type AS t1,
               lead(event_type, 1) OVER w2 AS t2,
               lead(event_type, 2) OVER w2 AS t3
        FROM sess
        WINDOW w2 AS (PARTITION BY user_id, session ORDER BY ts_sec, event_id)
    )
    SELECT t1, t2, t3, CAST(count(*) AS BIGINT) AS n
    FROM tri WHERE t2 IS NOT NULL AND t3 IS NOT NULL
    GROUP BY t1, t2, t3
    ORDER BY n DESC, t1, t2, t3
    LIMIT {_TRIGRAM_TOPK}
"""


_TS_ORACLE = """
    WITH e AS (
        SELECT event_type, event_id,
               (epoch_ms(ts) // 1000) // 604800 AS week,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        FROM events
    ), ranked AS (
        SELECT event_type, week, cents,
               row_number() OVER (PARTITION BY event_type, week
                                  ORDER BY cents, event_id) AS rn,
               count(*) OVER (PARTITION BY event_type, week) AS cnt
        FROM e
    ), weekly AS MATERIALIZED (
        SELECT event_type, week, cents AS med_cents
        FROM ranked WHERE rn = (cnt + 1) // 2
    ), nw AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_weeks
        FROM weekly GROUP BY event_type
    ), slopes AS (
        SELECT a.event_type, a.week AS w1, b.week AS w2,
               CAST((b.med_cents - a.med_cents) * 1000000
                    // (b.week - a.week) AS BIGINT) AS slope6
        FROM weekly a JOIN weekly b
          ON a.event_type = b.event_type AND a.week < b.week
    ), sranked AS (
        SELECT event_type, slope6,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY slope6, w1, w2) AS rn,
               count(*) OVER (PARTITION BY event_type) AS np
        FROM slopes
    )
    SELECT s.event_type, nw.n_weeks, CAST(s.np AS BIGINT) AS n_pairs,
           s.slope6 AS ts_slope6
    FROM sranked s JOIN nw ON nw.event_type = s.event_type
    WHERE s.rn = (s.np + 1) // 2
    ORDER BY s.event_type
"""


_CONF_ALPHA_NUM, _CONF_ALPHA_DEN = 9, 10  # 90% conformal coverage


def q_conformal_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction calibration (Vovk et al. 2005; Lei et
    al. 2018) per event type: nonconformity score = |n·v − Σv| in
    scaled cents (the scale-free integer form of |v − mean|), conformal
    quantile = the ⌈(n+1)·0.9⌉-th smallest score — the finite-sample
    correction that distinguishes conformal from a plain p90 — plus the
    realized coverage of the resulting interval as the audit column.

    Determinism: scores are exact int64 (cents ×n, no division by n
    anywhere); the quantile index is integer ceil arithmetic
    ``(9·(n+1) + 9) div 10``; the k-th order statistic is a windowed
    row_number — duplicates make the tie order irrelevant to the
    selected VALUE; coverage is pure integer division.

    Scale shape (100 TB): one scan → per-type count (broadcast back),
    one per-type distributed sort for the order statistic (rank
    statistics' inherent cost; types sort in parallel), one broadcast
    join of the 5-row quantile table for the coverage pass."""
    ev = events_with_sec(spark, sf_dir).select(
        "event_type",
        "event_id",
        units(F.col("value"), 100).alias("cents"),
    )
    stats = ev.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("s"),
    )
    scored = ev.join(F.broadcast(stats), "event_type").select(
        "event_type",
        "event_id",
        "n",
        F.abs(F.col("n") * F.col("cents") - F.col("s")).cast("bigint").alias("score"),
    )
    w = Window.partitionBy("event_type").orderBy("score", "event_id")
    k_expr = f"({_CONF_ALPHA_NUM} * (n + 1) + {_CONF_ALPHA_DEN - 1}) div {_CONF_ALPHA_DEN}"
    q = (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.expr(f"rn = {k_expr}"))
        .select(
            "event_type",
            "n",
            F.expr(k_expr).cast("bigint").alias("k"),
            F.col("score").alias("q_score"),
        )
    )
    cov = (
        scored.join(F.broadcast(q.select("event_type", "q_score")), "event_type")
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("score") <= F.col("q_score"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_le")
        )
    )
    return q.join(cov, "event_type").select(
        "event_type",
        "n",
        "k",
        "q_score",
        "n_le",
        F.expr("n_le * 1000000 div n").cast("bigint").alias("cov6"),
    ).orderBy("event_type")


_CONFORMAL_ORACLE = f"""
    WITH ev AS (
        SELECT event_type, event_id,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        FROM events
    ), stats AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(cents) AS BIGINT) AS s
        FROM ev GROUP BY 1
    ), scored AS (
        SELECT e.event_type, e.event_id, st.n,
               CAST(abs(st.n * e.cents - st.s) AS BIGINT) AS score
        FROM ev e JOIN stats st USING (event_type)
    ), q AS (
        SELECT event_type, n,
               CAST(({_CONF_ALPHA_NUM} * (n + 1) + {_CONF_ALPHA_DEN - 1})
                    // {_CONF_ALPHA_DEN} AS BIGINT) AS k,
               score AS q_score
        FROM (
            SELECT *, row_number() OVER (PARTITION BY event_type
                                         ORDER BY score, event_id) AS rn
            FROM scored
        )
        WHERE rn = ({_CONF_ALPHA_NUM} * (n + 1) + {_CONF_ALPHA_DEN - 1})
                   // {_CONF_ALPHA_DEN}
    ), cov AS (
        SELECT s.event_type,
               CAST(sum(CASE WHEN s.score <= q.q_score THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_le
        FROM scored s JOIN q USING (event_type)
        GROUP BY 1
    )
    SELECT q.event_type, q.n, q.k, q.q_score, cov.n_le,
           CAST(cov.n_le * 1000000 // q.n AS BIGINT) AS cov6
    FROM q JOIN cov USING (event_type)
    ORDER BY q.event_type
"""


_EWMA_L = 8  # truncated lookback (weeks)


def _ewma_weights() -> list[int]:
    """Geometric EWMA weights for α=1/4 as EXACT integers: scaling
    α(1-α)^j by 4^L gives W_j = 3^j · 4^(L-1-j) — the weights and every
    downstream sum stay in int64, so neither engine ever multiplies a
    float power. Truncation to L lags renormalizes by the sum of the
    lags actually present (series heads use fewer)."""
    return [3**j * 4 ** (_EWMA_L - 1 - j) for j in range(_EWMA_L)]


def q_ewma_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average (α=1/4, 8-week truncated
    lookback — Roberts 1959, the EWMA control chart) of weekly event
    counts per event type, zero-filled over the observed week×type
    grid, with the residual the anomaly detector thresholds on.

    Determinism: the geometric weights are exact int64 (see
    _ewma_weights); num/den are integer CASE-guarded lag sums; ewma6 is
    the pure integer ``num * 1e6 div den``. No floats anywhere — unlike
    the usual recursive float formulation, cross-engine summation order
    cannot exist as a concept here.

    Scale shape (100 TB): one scan → (week, type) hash agg with
    map-side combine; the grid and the 8-lag windows live on the
    bounded weeks×types frame (≈hundreds of rows at any corpus size)."""
    weights = _ewma_weights()
    ev = events_with_sec(spark, sf_dir).withColumn(
        "week", F.floor(F.col("ts_sec") / F.lit(604800)).cast("bigint")
    )
    counts = ev.groupBy("week", "event_type").agg(
        F.count("*").cast("bigint").alias("c")
    )
    grid = (
        ev.select("week")
        .distinct()
        .crossJoin(ev.select("event_type").distinct())
        .join(counts, ["week", "event_type"], "left")
        .select("week", "event_type", F.coalesce("c", F.lit(0)).cast("bigint").alias("c"))
    )
    w = Window.partitionBy("event_type").orderBy("week")
    num = F.lit(weights[0]) * F.col("c")
    den = F.lit(weights[0]).cast("bigint")
    for j in range(1, _EWMA_L):
        lagged = F.lag("c", j).over(w)
        num = num + F.when(lagged.isNotNull(), F.lit(weights[j]) * lagged).otherwise(
            F.lit(0)
        )
        den = den + F.when(lagged.isNotNull(), F.lit(weights[j])).otherwise(F.lit(0))
    return (
        grid.select(
            "event_type",
            "week",
            "c",
            num.cast("bigint").alias("num"),
            den.cast("bigint").alias("den"),
        )
        .select(
            "event_type",
            "week",
            "c",
            F.expr("num * 1000000 div den").cast("bigint").alias("ewma6"),
        )
        .withColumn("resid6", (F.col("c") * 1_000_000 - F.col("ewma6")).cast("bigint"))
        .orderBy("event_type", "week")
    )


def _ewma_oracle() -> str:
    weights = _ewma_weights()
    num_terms = [f"{weights[0]} * c"]
    den_terms = [str(weights[0])]
    for j in range(1, _EWMA_L):
        lag = f"lag(c, {j}) OVER (PARTITION BY event_type ORDER BY week)"
        num_terms.append(
            f"CASE WHEN {lag} IS NOT NULL THEN {weights[j]} * {lag} ELSE 0 END"
        )
        den_terms.append(f"CASE WHEN {lag} IS NOT NULL THEN {weights[j]} ELSE 0 END")
    num = " + ".join(num_terms)
    den = " + ".join(den_terms)
    return f"""
        WITH e AS (
            SELECT event_type,
                   (epoch_ms(ts) // 1000) // 604800 AS week
            FROM events
        ), counts AS (
            SELECT week, event_type, CAST(count(*) AS BIGINT) AS c
            FROM e GROUP BY 1, 2
        ), grid AS (
            SELECT g.week, g.event_type,
                   CAST(coalesce(c.c, 0) AS BIGINT) AS c
            FROM (SELECT w.week, ty.event_type
                  FROM (SELECT DISTINCT week FROM e) w
                  CROSS JOIN (SELECT DISTINCT event_type FROM e) ty) g
            LEFT JOIN counts c ON c.week = g.week AND c.event_type = g.event_type
        ), terms AS (
            SELECT event_type, week, c,
                   CAST({num} AS BIGINT) AS num,
                   CAST({den} AS BIGINT) AS den
            FROM grid
        )
        SELECT event_type, week, c,
               CAST(num * 1000000 // den AS BIGINT) AS ewma6,
               CAST(c * 1000000 - num * 1000000 // den AS BIGINT) AS resid6
        FROM terms
        ORDER BY event_type, week
    """


_HOLT_OFF_L = 1 << 30
_HOLT_OFF_B = 1 << 31
_HOLT_SHIFT = 1 << 32
_HOLT_H = 7  # forecast horizon (days)


def _holt_fold_sql(xs: str) -> str:
    """The shared Holt(α=β=¼) integer fold body: state (level, trend)
    in milli-units packed into ONE int64 — (OFF_L+l)·2³² + (OFF_B+b) —
    because DuckDB's list_reduce accumulator must have the element
    type. The first combine call sees the raw x₀ (< 2³², unambiguous)
    and initializes l=x₁·1000, b=(x₁−x₀)·1000; every later step is the
    classical recurrence with truncating integer division:
    l' = (x·1000 + 3(l+b)) div 4, b' = ((l'−l) + 3b) div 4."""
    s, ol, ob = _HOLT_SHIFT, _HOLT_OFF_L, _HOLT_OFF_B
    return (
        f"(acc, x) -> CASE WHEN acc < {s} THEN"
        f" ({ol} + x * 1000) * {s} + ({ob} + (x - acc) * 1000)"
        f" ELSE"
        f" ({ol} + (x * 1000 + 3 * ((acc div {s} - {ol}) + (acc % {s} - {ob})))"
        f" div 4) * {s}"
        f" + ({ob} + (((x * 1000 + 3 * ((acc div {s} - {ol}) + (acc % {s} - {ob})))"
        f" div 4 - (acc div {s} - {ol})) + 3 * (acc % {s} - {ob})) div 4)"
        f" END"
    )


def q_holt_linear_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing (Holt 1957, α=β=¼) of the
    zero-filled daily event counts per type, with the 7-day-ahead
    linear forecast — the trend-aware capacity-planning estimate EWMA
    (level-only) can't give.

    The recurrence is inherently sequential, so it runs as ONE
    higher-order fold over the bounded per-type daily array (sorted
    via sort_array(collect_list(struct)) — collect_list alone has no
    order guarantee), with the (level, trend) state packed into a
    single int64 (see _holt_fold_sql). All arithmetic is int64 with
    truncating division — identical on both engines; DuckDB folds the
    same packed lambda through list_reduce over list(c ORDER BY day).

    Scale: the corpus pays one (type, day) count agg; each fold runs
    over a calendar-bounded array (≤ tens of thousands of elements for
    decades) — per-type state is one int64, types fold in parallel."""
    grid = _daily_counts(events_with_sec(spark, sf_dir), by_type=True)
    arrs = grid.groupBy("event_type").agg(
        F.expr(
            "transform(sort_array(collect_list(struct(day, c))), s -> s.c)"
        ).alias("xs")
    )
    folded = arrs.select(
        "event_type",
        F.size("xs").cast("bigint").alias("n_days"),
        F.expr(
            "aggregate(slice(xs, 2, size(xs) - 1),"
            " element_at(xs, 1),"
            f" {_holt_fold_sql('xs')})"
        ).alias("acc"),
    )
    return folded.select(
        "event_type",
        "n_days",
        F.expr(f"acc div {_HOLT_SHIFT} - {_HOLT_OFF_L}").alias("level_milli"),
        F.expr(f"acc % {_HOLT_SHIFT} - {_HOLT_OFF_B}").alias("trend_milli"),
        F.expr(
            f"(acc div {_HOLT_SHIFT} - {_HOLT_OFF_L})"
            f" + {_HOLT_H} * (acc % {_HOLT_SHIFT} - {_HOLT_OFF_B})"
        ).alias("forecast7_milli"),
    ).orderBy("event_type")


def _holt_oracle() -> str:
    fold = _holt_fold_sql("xs").replace(" div ", " // ")
    return f"""
        WITH e AS (
            SELECT event_type, CAST(floor((epoch_ms(ts) // 1000) / 86400) AS BIGINT) AS day
            FROM events
        ), counts AS (
            SELECT event_type, day, CAST(count(*) AS BIGINT) AS c
            FROM e GROUP BY 1, 2
        ), rng AS (SELECT min(day) AS d0, max(day) AS d1 FROM counts),
        grid AS (
            SELECT t.event_type, gs.day, CAST(coalesce(c.c, 0) AS BIGINT) AS c
            FROM (SELECT DISTINCT event_type FROM counts) t
            CROSS JOIN (SELECT unnest(generate_series(d0, d1)) AS day
                        FROM rng) gs
            LEFT JOIN counts c ON c.event_type = t.event_type
                              AND c.day = gs.day
        ), arrs AS (
            SELECT event_type, list(c ORDER BY day) AS xs
            FROM grid GROUP BY 1
        ), folded AS (
            SELECT event_type,
                   CAST(len(xs) AS BIGINT) AS n_days,
                   list_reduce(xs, {fold}) AS acc
            FROM arrs
        )
        SELECT event_type, n_days,
               acc // {_HOLT_SHIFT} - {_HOLT_OFF_L} AS level_milli,
               acc % {_HOLT_SHIFT} - {_HOLT_OFF_B} AS trend_milli,
               (acc // {_HOLT_SHIFT} - {_HOLT_OFF_L})
                   + {_HOLT_H} * (acc % {_HOLT_SHIFT} - {_HOLT_OFF_B})
                   AS forecast7_milli
        FROM folded ORDER BY event_type
    """


def q_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Börzsönyi et al. 2001): the Pareto frontier of
    parts under (price minimized, size maximized) — "no other part is
    both cheaper and at least as large" — the multi-criteria shortlist
    operator a global sort can't express and a naive formulation makes
    quadratic.

    Distributive trick: with size ∈ [1, 50] the dominance tests reduce
    to the bounded per-size price-minima table — keep (p, s) iff
    p = min_price(size = s) AND p < min_price(size > s) — so the corpus
    pays one groupBy(size) agg; the ≤50-row minima frame computes its
    suffix minima via a bounded self-join and broadcasts back. Prices
    compare in exact cents (the 2dp grid), no floats.

    Scale: this is the textbook distributed-skyline shape (local minima
    per partition combine map-side; the frontier itself is bounded by
    the dominance dimension's cardinality)."""
    parts = load(spark, sf_dir, "part").select(
        "p_partkey",
        "p_size",
        units(F.col("p_retailprice"), 100).alias("cents"),
    )
    per_size = parts.groupBy(F.col("p_size").alias("ms")).agg(
        F.min("cents").alias("min_eq")
    )
    suffix = (
        per_size.alias("a")
        .join(
            per_size.alias("b").select(
                F.col("ms").alias("bs"), F.col("min_eq").alias("bmin")
            ),
            F.col("bs") > F.col("ms"),
            "left",
        )
        .groupBy("ms", "min_eq")
        .agg(F.min("bmin").alias("min_gt"))
    )
    return (
        parts.join(F.broadcast(suffix), F.col("p_size") == F.col("ms"))
        .where(
            (F.col("cents") == F.col("min_eq"))
            & (F.col("min_gt").isNull() | (F.col("cents") < F.col("min_gt")))
        )
        .select("p_partkey", "p_size", "cents")
        .orderBy("p_size", "p_partkey")
    )


_MARKOV_ITERS = 20
_MARKOV_START = 200_000  # 1e6 div 5 — uniform start mass in micro-units


def q_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the user-journey Markov chain: the
    event-type transition matrix (consecutive events per user) powered
    for 20 iterations from the uniform start — "where does a user
    session end up spending its time?", the chain analysis behind
    Markov attribution and journey simulation.

    Determinism: the chain state is INTEGER micro-unit mass; each step
    is π'_j = Σ_i (π_i·c_ij) div r_i — int64 multiply then truncating
    div, identical on both engines, so unlike float power iteration
    there is no summation-order surface at all. Truncation leaks ≤1
    micro-unit per (i,j) term per step by design (documented, not
    redistributed). The oracle unrolls the same 20 steps as
    MATERIALIZED CTEs (the BPE/DoReMi pattern).

    Scale: ONE corpus pass builds transitions (per-user lead window —
    the sessionization shuffle); the transition matrix is bounded by
    the event-type DOMAIN (≤5² = 25 cells regardless of corpus size),
    so the 20 power steps run as a driver loop over one constant-
    bounded collect (the BPE/k-center discipline) — each step is the
    same int64 ``(v·c) div r`` per cell with a per-dst integer sum,
    identical to the former per-step Spark jobs (Python ``//`` equals
    Spark ``div`` on the non-negative operands here; v·c stays inside
    int64 at fixture scales exactly as it had to under Spark). The r21
    A/B replaced 21 localCheckpoint job barriers over ≤5-row frames
    with pure driver arithmetic."""
    ev = events_with_sec(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_sec", "event_id")
    trans = (
        ev.select("user_id", "event_id", "ts_sec", F.col("event_type").alias("src"))
        .withColumn("dst", F.lead("src").over(w))
        .where(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    m = trans.join(
        trans.groupBy(F.col("src").alias("r_src")).agg(
            F.sum("c").cast("bigint").alias("r")
        ),
        F.col("src") == F.col("r_src"),
    ).select("src", "dst", "c", "r")
    # ≤ |event_type|² = 25 rows — domain-bounded, corpus-independent
    cells = m.collect()
    pi = {row["src"]: _MARKOV_START for row in cells}
    for _ in range(_MARKOV_ITERS):
        nxt: dict = {}
        for row in cells:
            v = pi.get(row["src"])
            if v is not None:
                nxt[row["dst"]] = nxt.get(row["dst"], 0) + (v * row["c"]) // row["r"]
        pi = nxt
    return spark.createDataFrame(
        sorted(pi.items()), "state string, pi_micro bigint"
    ).orderBy("state")


def _markov_oracle() -> str:
    ctes = ["""
        WITH e AS (
            SELECT user_id, event_id, event_type,
                   epoch_ms(ts) // 1000 AS ts_sec
            FROM events
        ), seq AS (
            SELECT event_type AS src,
                   lead(event_type) OVER (PARTITION BY user_id
                       ORDER BY ts_sec, event_id) AS dst
            FROM e
        ), trans AS (
            SELECT src, dst, CAST(count(*) AS BIGINT) AS c
            FROM seq WHERE dst IS NOT NULL GROUP BY 1, 2
        ), m AS MATERIALIZED (
            SELECT t.src, t.dst, t.c, r.r
            FROM trans t
            JOIN (SELECT src, CAST(sum(c) AS BIGINT) AS r
                  FROM trans GROUP BY 1) r ON r.src = t.src
        ), pi0 AS MATERIALIZED (
            SELECT DISTINCT src AS state,
                   """ + f"{_MARKOV_START}::BIGINT AS v FROM m)"]
    for i in range(_MARKOV_ITERS):
        ctes.append(
            f"""pi{i + 1} AS MATERIALIZED (
            SELECT m.dst AS state,
                   CAST(sum((p.v * m.c) // m.r) AS BIGINT) AS v
            FROM pi{i} p JOIN m ON m.src = p.state
            GROUP BY m.dst)"""
        )
    return (
        ",\n".join(ctes)
        + f"\nSELECT state, v AS pi_micro FROM pi{_MARKOV_ITERS} ORDER BY state"
    )


def q_attribution_multi_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch marketing attribution over the event stream: every
    purchase credits the click/view/signup touches of the same user in
    the preceding 2 hours under THREE policies at once — last-touch,
    first-touch, and linear (equal split) — the standard trio an
    attribution dashboard compares before anyone argues about Shapley.

    Per channel: conversions won under last/first-touch and the linear
    credit mass. Determinism: touch ordering is (ts_sec, event_id) —
    unique tiebreak; linear credit is floor(10⁶/k) micro-units per
    touch (k = touches in the purchase's window) — identical integer
    truncation on both engines, documented as deliberately not summing
    to exactly 10⁶ per conversion (the remainder is dropped, not
    redistributed).

    Scale: one interval join purchases⋈touches on user_id bounded by
    the 2 h window (the streaming interval-join state bound), one
    window pair partitioned by purchase (per-purchase state is the
    touch count, bounded by the window span), then a |channels|-row
    aggregate."""
    ev = events_with_sec(spark, sf_dir)
    touches = ev.where(
        F.col("event_type").isin("click", "view", "signup")
    ).select(
        F.col("user_id").alias("tu"),
        F.col("event_id").alias("touch_id"),
        F.col("event_type").alias("channel"),
        F.col("ts_sec").alias("t_sec"),
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts_sec").alias("p_sec"),
    )
    pairs = purchases.join(
        touches,
        (F.col("tu") == F.col("pu"))
        & (F.col("t_sec") <= F.col("p_sec"))
        & (F.col("t_sec") > F.col("p_sec") - 7200),
    )
    w_last = Window.partitionBy("purchase_id").orderBy(
        F.col("t_sec").desc(), F.col("touch_id").desc()
    )
    w_first = Window.partitionBy("purchase_id").orderBy("t_sec", "touch_id")
    k = Window.partitionBy("purchase_id")
    credited = pairs.select(
        "channel",
        (F.row_number().over(w_last) == 1).cast("bigint").alias("is_last"),
        (F.row_number().over(w_first) == 1).cast("bigint").alias("is_first"),
        F.expr(f"1000000 div count(*) OVER (PARTITION BY purchase_id)").alias(
            "lin_micro"
        ),
    )
    return (
        credited.groupBy("channel")
        .agg(
            F.sum("is_last").cast("bigint").alias("n_last_touch"),
            F.sum("is_first").cast("bigint").alias("n_first_touch"),
            F.count("*").cast("bigint").alias("n_touches"),
            F.sum("lin_micro").cast("bigint").alias("linear_micro"),
        )
        .orderBy("channel")
    )


def q_acf_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation function (Box & Jenkins 1970) of the
    zero-filled daily event-count series at lags 1..7 — the seasonality
    probe run before trusting any weekly-aggregation window choice.

    Determinism: with n days, total S and counts c_t all int64, the
    centered series y_t = n·c_t − S is exact (n² scaling avoids the
    rational mean), so num_k = Σ y_t·y_{t+k} and den = Σ y_t² are exact
    int64 and acf6 = num_k·10⁶ div den is pure integer (int÷int
    truncation is engine-identical, including negatives).

    Scale shape (100 TB): one scan → per-day count agg (map-side
    combine); the zero-filled grid is calendar-bounded (≤tens of
    thousands of rows for decades), localCheckpointed once and reused
    by the totals, the lag join (a 7×-exploded bounded self-join) and
    the denominator — no second corpus scan."""
    # bounded; feeds tot + both join sides
    grid = _daily_counts(events_with_sec(spark, sf_dir))
    grid = store.materialize(grid, "analytics.acf_grid", eager=True)
    tot = grid.agg(
        F.count("*").cast("bigint").alias("n"), F.sum("c").cast("bigint").alias("s")
    )
    y = grid.crossJoin(F.broadcast(tot)).select(
        "day", (F.col("n") * F.col("c") - F.col("s")).alias("y")
    )
    den = y.agg(F.sum(F.col("y") * F.col("y")).cast("bigint").alias("den_ss"))
    lags = tot.select(
        F.explode(F.array(*[F.lit(k) for k in range(1, 8)])).alias("lag")
    )
    a = y.select(F.col("day").alias("da"), F.col("y").alias("ya"))
    b = y.select(F.col("day").alias("db"), F.col("y").alias("yb"))
    return (
        lags.crossJoin(a)
        .join(b, F.col("db") == F.col("da") + F.col("lag"))
        .groupBy("lag")
        .agg(F.sum(F.col("ya") * F.col("yb")).cast("bigint").alias("num"))
        .crossJoin(F.broadcast(den))
        .select(
            F.col("lag").cast("bigint").alias("lag"),
            "num",
            "den_ss",
            # Third guard audit (r14): a CONSTANT daily-count series has
            # y = 0 everywhere -> den_ss = 0 (num = 0 too); unguarded,
            # Spark's ANSI `div 0` raises and DuckDB's `// 0` NULLs.
            # greatest(, 1) pins the degenerate ACF at 0 on both engines
            # (den_ss is a sum of squares, >= 0 — no sign to flip).
            F.expr("num * 1000000 div greatest(den_ss, 1)")
            .cast("bigint")
            .alias("acf6"),
        )
        .orderBy("lag")
    )


def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline CUSUM changepoint locator (Page 1954 / Pettitt-style):
    per event type, the day where the cumulative sum of mean-centered
    daily counts attains its maximum absolute deviation — the standard
    "when did the rate shift?" estimator a pipeline-health monitor runs
    over ingest volumes.

    Determinism: centered values n·c_t − S are exact int64 per type
    (same n²-scaling as the ACF witness), the running cumsum is an
    order-fixed window (day is unique within type), and the argmax is
    realized as row_number ordered by (|cum| DESC, day ASC) — the
    md5-argmax convention, value-deterministic under ties.

    Scale: per-(type, day) count agg, calendar-bounded grid, one
    partitioned window per type — no global sort, no driver loop."""
    grid = _daily_counts(events_with_sec(spark, sf_dir), by_type=True)
    tot = grid.groupBy(F.col("event_type").alias("t_type")).agg(
        F.count("*").cast("bigint").alias("n"), F.sum("c").cast("bigint").alias("s")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    cum = (
        grid.join(F.broadcast(tot), F.col("event_type") == F.col("t_type"))
        .select(
            "event_type", "day", "n",
            F.sum(F.col("n") * F.col("c") - F.col("s")).over(w).alias("cum"),
        )
    )
    pick = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("cum")).desc(), F.col("day")
    )
    return (
        cum.withColumn("rn", F.row_number().over(pick))
        .where(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("day").alias("cp_day"),
            F.abs(F.col("cum")).cast("bigint").alias("max_abs_cum"),
            F.col("n").alias("n_days"),
        )
        .orderBy("event_type")
    )


_PSI_B = 10  # fixed value-distribution buckets
_PSI_W = 50  # bucket width over events.value


def _binned_shares(spark: SparkSession, sf_dir: str, flag: Column) -> DataFrame:
    """Two event populations — ``flag`` true (``n1``) and false (``n0``) —
    over the fixed _PSI_B-bucket grid of events.value, zero-filled (a
    missing bucket is signal), with add-one (Laplace) smoothed shares:
    per bucket the share difference ``diff6``, the log share ratio
    ``ln6`` = ln(p1/p0), their product ``contrib12`` (1e-12 units) and
    its total ``sum12`` — PSI and IV are both Σ (p1 − p0)·ln(p1/p0).

    Determinism: the ln argument is a ratio of exact int64 products,
    one ln per bucket snapped to 1e-6; the share difference is two
    IEEE divisions + one subtract, snapped to 1e-6; the contributions
    are int64 products and the total is an integer sum."""
    ev = load(spark, sf_dir, "events").select(
        flag.alias("f"),
        F.least(
            F.expr(f"cast(floor(value / {_PSI_W}) as bigint)"),
            F.lit(_PSI_B - 1).cast("bigint"),
        ).alias("b"),
    )
    grid = spark.range(1).select(
        F.explode(
            F.sequence(F.lit(0).cast("bigint"), F.lit(_PSI_B - 1).cast("bigint"))
        ).alias("b")
    )
    counts = ev.groupBy("b").agg(
        F.sum(F.col("f").cast("bigint")).cast("bigint").alias("n1"),
        F.sum((~F.col("f")).cast("bigint")).cast("bigint").alias("n0"),
    )
    tot = ev.agg(
        F.sum(F.col("f").cast("bigint")).cast("bigint").alias("t1"),
        F.sum((~F.col("f")).cast("bigint")).cast("bigint").alias("t0"),
    )
    per = (
        grid.join(counts, "b", "left")
        .select(
            "b",
            F.coalesce("n1", F.lit(0)).cast("bigint").alias("n1"),
            F.coalesce("n0", F.lit(0)).cast("bigint").alias("n0"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "b",
            "n1",
            "n0",
            units(
                (F.col("n1") + 1).cast("double")
                / (F.col("t1") + _PSI_B).cast("double")
                - (F.col("n0") + 1).cast("double")
                / (F.col("t0") + _PSI_B).cast("double")
            ).alias("diff6"),
            units(
                F.log(
                    ((F.col("n1") + 1) * (F.col("t0") + _PSI_B)).cast("double")
                    / ((F.col("n0") + 1) * (F.col("t1") + _PSI_B)).cast("double")
                )
            ).alias("ln6"),
        )
        .withColumn("contrib12", (F.col("diff6") * F.col("ln6")).cast("bigint"))
    )
    total = per.agg(F.sum("contrib12").cast("bigint").alias("sum12"))
    return per.crossJoin(F.broadcast(total))


def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POPULATION STABILITY INDEX between a reference and a current
    event population (the credit-scoring / model-monitoring standard;
    PSI < 0.1 stable, > 0.25 shifted): values land in 10 fixed-width
    buckets, populations split deterministically on event_id, and
    PSI = Σ_b (p_b − q_b)·ln(p_b/q_b) with add-one (Laplace) smoothing
    so empty buckets stay finite. Complements
    q_distribution_drift_weekly (L1 on shares) with the
    log-ratio-weighted industry metric.

    Determinism: see _binned_shares. Scale: one corpus pass → fixed
    10-row grid (zero-filled — a missing bucket IS drift)."""
    return _binned_shares(spark, sf_dir, F.col("event_id") % 3 == 0).select(
        "b",
        F.col("n1").alias("ref_n"),
        F.col("n0").alias("cur_n"),
        "diff6",
        "ln6",
        "contrib12",
        F.col("sum12").alias("psi12"),
    ).orderBy("b")


_APRIORI_ITEMS = 12  # part-class item space (l_partkey % 12)
_APRIORI_MINSUP_DIV = 50  # minsup = n_baskets div 50 (2% support)
_APRIORI_TOPK = 15


def q_apriori_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APRIORI frequent-itemset mining to size 3 (Agrawal & Srikant
    1994) over order baskets of part classes — the candidate-pruning
    discipline that makes distributed market-basket mining feasible:
    L1 prunes infrequent items FROM THE BASKETS before any pair is
    counted, L2 pairs generate size-3 candidates only by joining pairs
    that share their first item, and every candidate's third sub-pair
    must also be frequent (the downward-closure prune) BEFORE the
    support count. Top-15 triples by support.

    Pure integer supports with deterministic (support desc, a, b, c)
    ranking; minsup is the data-derived 2% of baskets. Scale: every
    self-join runs on L1-pruned baskets keyed by order id, and the
    candidate space is bounded by L2² — the entire point of Apriori at
    100 TB (extends q_assoc_rules' pair confidence to size-3 sets)."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", (F.col("l_partkey") % _APRIORI_ITEMS).cast("bigint").alias("item")
    )
    bi = store.materialize(li.distinct(), "analytics.apriori_items", eager=True)
    nb = bi.select("l_orderkey").distinct().count()
    minsup = max(nb // _APRIORI_MINSUP_DIV, 2)
    f1 = (
        bi.groupBy("item")
        .agg(F.count("*").cast("bigint").alias("s"))
        .where(F.col("s") >= minsup)
        .select("item")
    )
    bi1 = bi.join(F.broadcast(f1), "item", "left_semi")
    bi1 = store.materialize(bi1, "analytics.apriori_frequent_items", eager=True)
    a = bi1.select("l_orderkey", F.col("item").alias("ia"))
    b = bi1.select("l_orderkey", F.col("item").alias("ib"))
    # lazy checkpoint: the basket-pair join feeds THREE consumers (the L2
    # count and both sides of the candidate self-join) — without it the
    # per-basket pair explosion ran once per consumer (§2.4)
    bp = store.materialize(
        a.join(b, "l_orderkey")
        .where(F.col("ia") < F.col("ib")),
        "analytics.apriori_pairs", eager=False,
    )
    l2 = store.materialize(
        bp.groupBy("ia", "ib")
        .agg(F.count("*").cast("bigint").alias("s"))
        .where(F.col("s") >= minsup)
        .select("ia", "ib"),
        "analytics.apriori_l2", eager=True,
    )
    bpf = bp.join(F.broadcast(l2), ["ia", "ib"], "left_semi")
    cand = (
        bpf.select("l_orderkey", "ia", "ib")
        .join(
            # join ON the shared first item (Apriori's prefix-join), not a
            # post-filter over the per-basket pair×pair product — the
            # equi-join key prunes before the build/probe, not after
            bpf.select("l_orderkey", "ia", F.col("ib").alias("ic")),
            ["l_orderkey", "ia"],
        )
        .where(F.col("ic") > F.col("ib"))
        .select("l_orderkey", "ia", "ib", "ic")
        .join(
            F.broadcast(
                l2.select(F.col("ia").alias("ib"), F.col("ib").alias("ic"))
            ),
            ["ib", "ic"],
            "left_semi",
        )
    )
    return (
        cand.groupBy("ia", "ib", "ic")
        .agg(F.count("*").cast("bigint").alias("support"))
        .where(F.col("support") >= minsup)
        .select(
            "ia",
            "ib",
            "ic",
            "support",
            F.expr(f"support * 1000000 div {nb}").cast("bigint").alias("share6"),
        )
        .orderBy(F.col("support").desc(), "ia", "ib", "ic")
        .limit(_APRIORI_TOPK)
    )


_SPAN_SEC_CONC = 300  # each event opens a 5-minute activity span


def q_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PEAK CONCURRENCY per event type — the max number of
    simultaneously-open 5-minute activity spans, via the classic
    +1/−1 boundary sweep: each span contributes a +1 point at its
    start and a −1 at its (half-open) end, the running sum over
    time-ordered points is the live concurrency, and the witness
    reports its maximum and the earliest time it is reached — the
    capacity-planning number behind every "peak concurrent sessions"
    dashboard.

    Determinism: ends sort before starts at the same instant
    (half-open semantics — delta ascending), event_id breaks remaining
    ties; the prefix-sum MULTISET is invariant to equal-key reordering
    so the max is stable; argmax realizes as max(struct(cum, −t)).
    One partitioned window per type — the sessionizer's shuffle."""
    ev = events_with_sec(spark, sf_dir).select(
        "event_type", "event_id", F.col("ts_sec").cast("bigint").alias("t0")
    )
    pts = ev.select(
        "event_type", "event_id", F.col("t0").alias("t"), F.lit(1).alias("delta")
    ).unionAll(
        ev.select(
            "event_type",
            "event_id",
            (F.col("t0") + _SPAN_SEC_CONC).alias("t"),
            F.lit(-1).alias("delta"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("t", "delta", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = pts.withColumn("live", F.sum("delta").over(w).cast("bigint"))
    return (
        cum.groupBy("event_type")
        .agg(
            F.max(
                F.struct(
                    F.col("live").alias("live"), (-F.col("t")).alias("negt")
                )
            ).alias("s"),
            F.count("*").cast("bigint").alias("n_points"),
        )
        .select(
            "event_type",
            F.expr("n_points div 2").cast("bigint").alias("n_spans"),
            F.col("s.live").cast("bigint").alias("peak_live"),
            (-F.col("s.negt")).cast("bigint").alias("peak_at_sec"),
        )
        .orderBy("event_type")
    )


def q_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MANN-KENDALL trend test on the daily event-count series — the
    rank-based monotone-trend detector (Mann 1945, Kendall 1975) that
    pairs with q_theil_sen_trend's slope estimate: S = Σ_{i<j}
    sgn(x_j − x_i) counts concordant-minus-discordant day pairs, the
    tie-corrected variance is Var(S) = [n(n−1)(2n+5) − Σ t(t−1)(2t+5)]
    / 18, and z applies the ±1 continuity correction.

    Determinism: S and both variance numerators are pure int64 over
    the bounded day grid (the Pettitt pair machinery); z is one
    divide-by-sqrt of exact ints, snapped, with greatest(..., 1) on the
    variance (an all-tied series zeroes it, and S is 0 there too — the
    guarded z is 0, never a divergent NaN cast). The trend verdict compares
    |z| against the Python-inlined 1.959964 literal."""
    grid = _daily_counts(events_with_sec(spark, sf_dir))
    grid = store.materialize(grid, "analytics.mann_kendall_grid", eager=True)
    a = grid.select(F.col("day").alias("di"), F.col("c").alias("ci"))
    b = grid.select(F.col("day").alias("dj"), F.col("c").alias("cj"))
    s_stat = (
        a.join(F.broadcast(b), F.col("dj") > F.col("di"))
        .agg(
            F.sum(
                F.signum((F.col("cj") - F.col("ci")).cast("double")).cast(
                    "bigint"
                )
            )
            .cast("bigint")
            .alias("s")
        )
    )
    n_f = grid.agg(F.count("*").cast("bigint").alias("n"))
    ties = (
        grid.groupBy("c")
        .agg(F.count("*").cast("bigint").alias("t"))
        .agg(
            F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5))
            .cast("bigint")
            .alias("tie_num")
        )
    )
    z6_expr = units(
        (
            F.col("s").cast("double")
            - F.signum(F.col("s").cast("double"))
        )
        / F.sqrt(
            F.greatest(
                F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
                - F.col("tie_num"),
                F.lit(1),
            ).cast("double")
            / F.lit(18.0)
        )
    )
    return (
        s_stat.crossJoin(F.broadcast(n_f))
        .crossJoin(F.broadcast(ties))
        .select("n", "s", "tie_num", z6_expr.alias("z6"))
        .withColumn("trend", F.abs(F.col("z6")) > 1_959_964)
    )


_POLISH_T = 2  # full row+column sweeps


def q_median_polish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TUKEY MEDIAN POLISH of the day-of-week × week count matrix
    (Tukey 1977) — the robust two-way decomposition
    count ≈ row effect (weekday profile) + column effect (weekly
    level) + residual, fit by alternately sweeping out row and column
    LOWER medians for 2 fixed sweeps. The residuals are the
    outlier-resistant anomaly signal a seasonal mean model (see
    q_seasonal_strength) smears.

    Determinism: counts are integers and a lower median of integers is
    an integer, so EVERY intermediate (effects, residuals) stays
    int64 — no snapping anywhere; medians extract via
    sort_array(collect_list)[ (n+1) div 2 ] over the bounded
    7-or-weeks-sized groups (the bootstrap_ci bounded-rank pattern).
    Variant note: effects are not re-centered through an overall term
    (the classic presentation's optional step), identically on both
    engines. Scale: one corpus pass → the calendar-bounded matrix."""
    cells = store.materialize(
        _daily_counts(events_with_sec(spark, sf_dir))
        .select(
            (F.col("day") % 7).cast("bigint").alias("dow"),
            F.expr("day div 7").cast("bigint").alias("week"),
            "c",
        )
        .withColumn("resid", F.col("c"))
        .withColumn("roweff", F.lit(0).cast("bigint"))
        .withColumn("coleff", F.lit(0).cast("bigint")),
        "analytics.polish_cells", eager=True,
    )

    def med_of(df: DataFrame, key: str, out: str) -> DataFrame:
        return df.groupBy(key).agg(
            F.element_at(
                F.sort_array(F.collect_list("resid")),
                F.expr("cast((count(*) + 1) div 2 as int)"),
            )
            .cast("bigint")
            .alias(out)
        )

    cur = cells
    for _ in range(_POLISH_T):
        rm = med_of(cur, "dow", "m_r")
        cur = store.materialize(
            cur.join(F.broadcast(rm), "dow")
            .withColumn("resid", F.col("resid") - F.col("m_r"))
            .withColumn("roweff", F.col("roweff") + F.col("m_r"))
            .drop("m_r"),
            "analytics.polish_rows", eager=True,
        )
        cm = med_of(cur, "week", "m_c")
        cur = store.materialize(
            cur.join(F.broadcast(cm), "week")
            .withColumn("resid", F.col("resid") - F.col("m_c"))
            .withColumn("coleff", F.col("coleff") + F.col("m_c"))
            .drop("m_c"),
            "analytics.polish_cols", eager=True,
        )
    return cur.select("dow", "week", "c", "roweff", "coleff", "resid").orderBy(
        "dow", "week"
    )


def _median_polish_oracle() -> str:
    stages = []
    prev = "s0"
    for t in range(1, _POLISH_T + 1):
        stages.append(
            f""", rm{t} AS MATERIALIZED (
            SELECT dow,
                   CAST(list_sort(list(resid))[(count(*) + 1) // 2]
                        AS BIGINT) AS m_r
            FROM {prev} GROUP BY 1
        ), sr{t} AS MATERIALIZED (
            SELECT s.dow, s.week, s.c,
                   s.resid - r.m_r AS resid,
                   s.roweff + r.m_r AS roweff,
                   s.coleff
            FROM {prev} s JOIN rm{t} r ON s.dow = r.dow
        ), cm{t} AS MATERIALIZED (
            SELECT week,
                   CAST(list_sort(list(resid))[(count(*) + 1) // 2]
                        AS BIGINT) AS m_c
            FROM sr{t} GROUP BY 1
        ), sc{t} AS MATERIALIZED (
            SELECT s.dow, s.week, s.c,
                   s.resid - cm.m_c AS resid,
                   s.roweff,
                   s.coleff + cm.m_c AS coleff
            FROM sr{t} s JOIN cm{t} cm ON s.week = cm.week
        )"""
        )
        prev = f"sc{t}"
    return f"""
        WITH e AS (
            SELECT CAST(floor((epoch_ms(ts) // 1000) / 86400) AS BIGINT) AS day
            FROM events
        ), counts AS (
            SELECT day, CAST(count(*) AS BIGINT) AS c FROM e GROUP BY 1
        ), s0 AS MATERIALIZED (
            SELECT CAST(g.day % 7 AS BIGINT) AS dow,
                   CAST(g.day // 7 AS BIGINT) AS week,
                   COALESCE(c.c, 0) AS c,
                   COALESCE(c.c, 0) AS resid,
                   CAST(0 AS BIGINT) AS roweff,
                   CAST(0 AS BIGINT) AS coleff
            FROM (SELECT unnest(generate_series((SELECT min(day) FROM e),
                                                (SELECT max(day) FROM e)))
                      AS day) g
            LEFT JOIN counts c ON g.day = c.day
        ){"".join(stages)}
        SELECT dow, week, c,
               CAST(roweff AS BIGINT) AS roweff,
               CAST(coleff AS BIGINT) AS coleff,
               CAST(resid AS BIGINT) AS resid
        FROM {prev} ORDER BY dow, week
    """


def q_pettitt_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PETTITT change-point test (Pettitt 1979) on the daily event-count
    series — the rank-based (distribution-free) sibling of
    q_cusum_changepoint: U_t = Σ_{i≤t} Σ_{j>t} sgn(x_j − x_i), and the
    change point is argmax |U_t|. Robust to outliers where CUSUM's
    mean-shift statistic is not.

    Pure integer: sgn contributions are ±1/0 counted over the bounded
    day×day pair grid (the series is calendar-bounded, so the O(n²)
    pair join is metadata-sized at any corpus SF); the argmax breaks
    ties by day. One corpus pass to daily counts, everything after on
    the day grid."""
    grid = _daily_counts(events_with_sec(spark, sf_dir))
    grid = store.materialize(grid, "analytics.pettitt_grid", eager=True)
    a = grid.select(F.col("day").alias("di"), F.col("c").alias("ci"))
    b = grid.select(F.col("day").alias("dj"), F.col("c").alias("cj"))
    pairs = a.join(F.broadcast(b), F.col("dj") > F.col("di")).select(
        "di",
        "dj",
        F.signum((F.col("cj") - F.col("ci")).cast("double"))
        .cast("bigint")
        .alias("sgn"),
    )
    # U_t = Σ over pairs with i ≤ t < j: pair (i,j) contributes to every
    # t in [i, j) — count via the bounded theta-join against the grid
    u = (
        grid.select(F.col("day").alias("t"))
        .join(
            F.broadcast(pairs),
            (F.col("di") <= F.col("t")) & (F.col("dj") > F.col("t")),
        )
        .groupBy("t")
        .agg(F.sum("sgn").cast("bigint").alias("u_t"))
    )
    best = (
        u.agg(
            F.max(
                F.struct(
                    F.abs(F.col("u_t")).alias("absu"),
                    (-F.col("t")).alias("negt"),
                    F.col("t").alias("t"),
                    F.col("u_t").alias("u_t"),
                )
            ).alias("s")
        )
        .select(
            F.col("s.t").alias("change_day"),
            F.col("s.u_t").alias("u_at_change"),
            F.col("s.absu").alias("abs_u"),
        )
    )
    n = grid.agg(F.count("*").cast("bigint").alias("n_days"))
    return best.crossJoin(F.broadcast(n)).select(
        "n_days", "change_day", "u_at_change", "abs_u"
    )


def q_dispersion_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index of dispersion (variance-to-mean ratio / Fano factor) of
    the daily count series per event type — the overdispersion gate
    before trusting a Poisson assumption anywhere (VMR ≈ 1 Poisson,
    > 1 bursty/clumped, < 1 regular). Pure integer: with n days, total
    S and Σc², the population VMR is (n·Σc² − S²)/(n·S), emitted as
    one int64 ratio on the 1e-6 grid — no float ever. Zero-filled day
    grid (a missing day is a zero count, and zeros are dispersion
    signal). One corpus pass; 5×-days-row everything after."""
    grid = _daily_counts(events_with_sec(spark, sf_dir), by_type=True)
    return (
        grid.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_days"),
            F.sum("c").cast("bigint").alias("total"),
            F.sum(F.col("c") * F.col("c")).cast("bigint").alias("ss"),
        )
        .select(
            "event_type",
            "n_days",
            "total",
            F.expr("(n_days * ss - total * total) * 1000000 div (n_days * total)")
            .cast("bigint")
            .alias("vmr6"),
        )
        .withColumn("overdispersed", F.col("vmr6") > 1_000_000)
        .orderBy("event_type")
    )


def q_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week SEASONALITY STRENGTH of the daily event-count
    series (Hyndman's F_s = max(0, 1 − Var(remainder)/Var(detrended)),
    here with the seasonal-means model): how much of the daily
    variance the weekly profile explains — the test run before
    choosing weekly windows or week-over-week comparisons anywhere
    else in this module.

    Determinism: per-dow residual sums of squares are exact int64 via
    the cross-multiplied form Σ(c·n_d − S_d)², snapped to 1e-6 of the
    variance scale PER DOW (one IEEE division each) so the 7-term
    total is an INTEGER sum (never a float sum of 7 doubles — order
    varies across engines); same for the global SS; one final division
    makes strength6. Output: the 7 dow rows (n, mean) with the
    corpus-level strength on every row."""
    grid = store.materialize(
        _daily_counts(events_with_sec(spark, sf_dir))
        .select((F.col("day") % 7).cast("bigint").alias("dow"), "c"),
        "analytics.seasonal_grid", eager=True,
    )
    per_dow = grid.groupBy("dow").agg(
        F.count("*").cast("bigint").alias("n_d"),
        F.sum("c").cast("bigint").alias("s_d"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("ss_d"),
    )
    # Σ_t∈d (c·n_d − S_d)² = n_d²Σc² − 2n_dS_d·S_d + n_d·S_d² = n_d(n_dΣc² − S_d²)
    resid = per_dow.select(
        "dow",
        "n_d",
        "s_d",
        units(
            (F.col("n_d") * F.col("ss_d") - F.col("s_d") * F.col("s_d")).cast(
                "double"
            )
            / F.col("n_d").cast("double")
        ).alias("ssr12_d"),
    )
    tot = grid.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("ss"),
    ).select(
        "n",
        "s",
        units(
            (F.col("n") * F.col("ss") - F.col("s") * F.col("s")).cast("double")
            / F.col("n").cast("double")
        ).alias("sst12"),
    )
    # Third guard audit (r14): sst12 = 0 on a CONSTANT series (every
    # day's count equal — e.g. exactly one event per day) is legal, and
    # Spark's ANSI session raises DIVIDE_BY_ZERO on the double division
    # (DuckDB would return NULL). A constant series has no measurable
    # seasonality: strength = 0 by the Hyndman convention, spelled as an
    # explicit zero-case CASE on both engines (greatest(sst12, 1) would
    # instead read 1 − 0/1 = full strength — the wrong direction).
    strength = (
        resid.agg(F.sum("ssr12_d").cast("bigint").alias("ssr12"))
        .crossJoin(F.broadcast(tot))
        .select(
            F.when(F.col("sst12") == 0, F.lit(0).cast("bigint"))
            .otherwise(
                F.greatest(
                    units(
                        F.lit(1.0)
                        - F.col("ssr12").cast("double")
                        / F.col("sst12").cast("double")
                    ),
                    F.lit(0).cast("bigint"),
                )
            )
            .alias("strength6")
        )
    )
    return (
        resid.crossJoin(F.broadcast(strength))
        .select(
            "dow",
            "n_d",
            F.expr("s_d * 1000000 div n_d").cast("bigint").alias("dow_mean6"),
            "strength6",
        )
        .orderBy("dow")
    )


_DEBOUNCE_SEC = 60  # suppress repeats of (user, type) within this gap


def q_event_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event DEBOUNCE / throttle audit: suppress an event when the
    SAME (user, event_type) fired within the last 60 s — the
    double-click / retry-storm cleaner every ingest pipeline runs
    before counting engagement. Kept = gap to the previous raw event
    of the same key is NULL or > 60 s (the lag-window formulation;
    documented choice vs the stateful keep-anchored variant, which
    lives in streaming dedup). Reported per event type: raw events,
    kept, suppressed, suppression share.

    Pure integer gaps from one lag window on the (user, type) key —
    at 100 TB this is a single partitioned sort, the same shuffle the
    sessionizer already pays."""
    ev = events_with_sec(spark, sf_dir)
    w = Window.partitionBy("user_id", "event_type").orderBy("ts_sec", "event_id")
    flagged = ev.select(
        "event_type",
        (
            F.lag("ts_sec").over(w).isNull()
            | (F.col("ts_sec") - F.lag("ts_sec").over(w) > _DEBOUNCE_SEC)
        ).alias("kept"),
    )
    return (
        flagged.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_raw"),
            F.sum(F.col("kept").cast("bigint")).cast("bigint").alias("n_kept"),
        )
        .select(
            "event_type",
            "n_raw",
            "n_kept",
            (F.col("n_raw") - F.col("n_kept")).cast("bigint").alias("n_suppressed"),
            F.expr("(n_raw - n_kept) * 1000000 div n_raw")
            .cast("bigint")
            .alias("suppressed6"),
        )
        .orderBy("event_type")
    )


_SLIDE_W = 7  # trailing window width in days


def q_sliding_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day DISTINCT ACTIVE USERS per day (the DAU/WAU
    engagement series) — the sliding COUNT DISTINCT that ordinary
    window frames cannot express (distinct is not subtractable, so no
    incremental frame works): each day's window re-counts the exact
    distinct user set over the last 7 days.

    Exact formulation: corpus → distinct (user, day) pairs (one
    map-side-combinable distinct), then each pair feeds the ≤7 windows
    it falls into via a bounded theta-join against the calendar grid —
    a constant 7× blowup of the ALREADY-DEDUPLICATED pair set, never
    of raw events. At 100 TB the same plan holds (user-days ≪ events);
    the approximate path swaps in per-day HLL sketches merged across
    the window (q_sketch_hll_distinct's machinery). Also emits 1-day
    distincts, making the WAU/DAU stickiness ratio readable off the
    row."""
    ev = events_with_sec(spark, sf_dir).select(
        F.floor(F.col("ts_sec") / F.lit(86400)).cast("bigint").alias("day"),
        "user_id",
    )
    ud = store.materialize(ev.distinct(), "analytics.user_days", eager=True)
    grid = _day_range(ud)
    win = (
        grid.alias("g")
        .join(
            ud.alias("u"),
            (F.col("u.day") <= F.col("g.day"))
            & (F.col("u.day") > F.col("g.day") - _SLIDE_W),
        )
        .groupBy(F.col("g.day").alias("day"))
        .agg(F.countDistinct("u.user_id").cast("bigint").alias("wau"))
    )
    dau = ud.groupBy("day").agg(
        F.countDistinct("user_id").cast("bigint").alias("dau")
    )
    return (
        win.join(dau, "day", "left")
        .select(
            "day",
            F.coalesce("dau", F.lit(0)).cast("bigint").alias("dau"),
            "wau",
            F.expr("coalesce(dau, 0) * 1000000 div wau")
            .cast("bigint")
            .alias("stickiness6"),
        )
        .orderBy("day")
    )


_XCORR_MAX_LAG = 7  # lead/lag window in days, both directions
_XCORR_A = "signup"  # leading series candidate
_XCORR_B = "purchase"  # lagging series candidate


def q_lead_lag_xcorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAD-LAG cross-correlation between the daily signup and purchase
    count series at lags −7..+7 — the "does signups lead purchases, and
    by how many days?" probe behind every marketing-attribution lag
    choice. Positive-lag peaks mean series A leads B.

    Determinism (the acf_daily discipline): both series zero-fill over
    the SAME day grid; centering uses the n²-scaled integer form
    y_t = n·c_t − S (no rational means), so every cross-product sum
    num(L) = Σ y^a_t · y^b_{t+L} is exact int64. No normalization —
    the argmax over lags is what the analyst reads, and it is invariant
    to the (positive) scale factor.

    Scale: one scan → per-day×type counts; the grid is
    calendar-bounded, localCheckpointed, and the 15-lag join is a
    bounded self-join."""
    grid = _daily_counts(
        events_with_sec(spark, sf_dir),
        ca=F.sum((F.col("event_type") == _XCORR_A).cast("bigint")),
        cb=F.sum((F.col("event_type") == _XCORR_B).cast("bigint")),
    )
    grid = store.materialize(grid, "analytics.xcorr_grid", eager=True)
    tot = grid.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("ca").cast("bigint").alias("sa"),
        F.sum("cb").cast("bigint").alias("sb"),
    )
    y = grid.crossJoin(F.broadcast(tot)).select(
        "day",
        (F.col("n") * F.col("ca") - F.col("sa")).alias("ya"),
        (F.col("n") * F.col("cb") - F.col("sb")).alias("yb"),
    )
    lags = tot.select(
        F.explode(
            F.array(*[F.lit(k) for k in range(-_XCORR_MAX_LAG, _XCORR_MAX_LAG + 1)])
        ).alias("lag")
    )
    a = y.select(F.col("day").alias("da"), "ya")
    b = y.select(F.col("day").alias("db"), "yb")
    return (
        lags.crossJoin(a)
        .join(b, F.col("db") == F.col("da") + F.col("lag"))
        .groupBy("lag")
        .agg(
            F.count("*").cast("bigint").alias("n_overlap"),
            F.sum(F.col("ya") * F.col("yb")).cast("bigint").alias("xcov_num"),
        )
        .orderBy("lag")
    )


_CHURN_TOPK = 10  # weekly leaderboard size


def q_topk_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week TOP-K LEADERBOARD CHURN: the top-10 users by
    event count each week, compared to the previous week's top-10 —
    how many entered, dropped, stayed, and the Jaccard stability of
    the set. The trending/"new this week" detector every engagement
    dashboard ships.

    Determinism: the leaderboard is a per-week row_number over
    (count DESC, user_id) — a total order; set comparisons are integer
    counts. Scale: one corpus pass → (week, user) counts (map-side
    combinable), one partitioned rank window, then the week-pair join
    runs on K-row frames."""
    ev = events_with_sec(spark, sf_dir).withColumn(
        "week", F.floor(F.col("ts_sec") / F.lit(604800)).cast("bigint")
    )
    wu = ev.groupBy("week", "user_id").agg(F.count("*").cast("bigint").alias("c"))
    w = Window.partitionBy("week").orderBy(F.col("c").desc(), "user_id")
    top = store.materialize(
        wu.select("week", "user_id", F.row_number().over(w).alias("rk"))
        .where(F.col("rk") <= _CHURN_TOPK),
        "analytics.churn_top", eager=True,
    )
    prev = top.select(
        (F.col("week") + 1).alias("week"), F.col("user_id").alias("prev_user")
    )
    stay = (
        top.join(prev, (top["week"] == prev["week"]) & (top["user_id"] == prev["prev_user"]))
        .groupBy(top["week"].alias("week"))
        .agg(F.count("*").cast("bigint").alias("n_stayed"))
    )
    sizes = top.groupBy("week").agg(F.count("*").cast("bigint").alias("k_now"))
    prev_sizes = sizes.select(
        (F.col("week") + 1).alias("week"), F.col("k_now").alias("k_prev")
    )
    return (
        sizes.join(prev_sizes, "week")
        .join(stay, "week", "left")
        .select(
            "week",
            "k_now",
            "k_prev",
            F.coalesce("n_stayed", F.lit(0)).cast("bigint").alias("n_stayed"),
            (F.col("k_now") - F.coalesce("n_stayed", F.lit(0)))
            .cast("bigint")
            .alias("n_new"),
            (F.col("k_prev") - F.coalesce("n_stayed", F.lit(0)))
            .cast("bigint")
            .alias("n_dropped"),
            F.expr(
                "coalesce(n_stayed, 0) * 1000000 div "
                "(k_now + k_prev - coalesce(n_stayed, 0))"
            )
            .cast("bigint")
            .alias("jaccard6"),
        )
        .orderBy("week")
    )


_UCB_QUALITY_CHARS = 300  # a "successful" doc (reward 1) is >= this long


def q_ucb1_bandit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UCB1 bandit index snapshot (Auer et al. 2002) over sources-as-
    arms: each document is a pull, reward 1 if it clears the length
    gate, and the index mean + sqrt(2·ln N / n_i) ranks which source an
    acquisition loop should sample next — exploitation (mean) plus
    exploration (rarely-pulled bonus). The allocation logic behind
    adaptive corpus acquisition.

    Determinism: mean6 is integer; the bonus chains ln → sqrt but each
    is a SINGLE transcendental on an exact-integer-derived argument,
    snapped between (the verify-skill single-op rule): ln(N) snaps to
    ln6 first, then sqrt evaluates on the exact rational 2·ln6/(n·1e6).
    Scale: one corpus pass, k-row everything after."""
    docs = load(spark, sf_dir, "documents").select(
        "source", (F.col("n_chars") >= _UCB_QUALITY_CHARS).cast("bigint").alias("r")
    )
    arms = docs.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("r").cast("bigint").alias("successes"),
    )
    tot = arms.agg(F.sum("n").cast("bigint").alias("big_n"))
    per = arms.crossJoin(F.broadcast(tot)).withColumn(
        "ln6n",
        units(F.log(F.col("big_n").cast("double"))),
    )
    return per.select(
        "source",
        "n",
        "successes",
        F.expr("successes * 1000000 div n").cast("bigint").alias("mean6"),
        units(
            F.sqrt(
                (2 * F.col("ln6n")).cast("double")
                / (F.col("n") * 1_000_000).cast("double")
            )
        ).alias("bonus6"),
    ).withColumn(
        "ucb6", (F.col("mean6") + F.col("bonus6")).cast("bigint")
    ).orderBy("source")


_LAT_PCTS = (50, 95, 99)  # nearest-rank (ceil) percentiles reported


def q_interarrival_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival latency percentiles per event type — the p50/p95/
    p99 gap report an SLO dashboard runs over an event stream: gaps
    come from one lag window per type, percentiles are EXACT
    nearest-rank (ceil(n·p/100)-th order statistic) selected by
    row_number with a (gap, event_id) total order — value-deterministic
    even with duplicate gaps (the conformal_quantile discipline), no
    interpolation, no floats anywhere.

    Scale: two partitioned sort-windows (lag, then rank) on the same
    event_type key — AQE reuses the exchange; the rank filter is a
    semi-join against a 3-row literal percentile list."""
    ev = events_with_sec(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("ts_sec", "event_id")
    gaps = (
        ev.select(
            "event_type",
            "event_id",
            (F.col("ts_sec") - F.lag("ts_sec").over(w)).alias("gap"),
        )
        .where(F.col("gap").isNotNull())
    )
    wr = Window.partitionBy("event_type").orderBy("gap", "event_id")
    cnt = Window.partitionBy("event_type")
    ranked = gaps.select(
        "event_type",
        "gap",
        F.row_number().over(wr).alias("rn"),
        F.count("*").over(cnt).alias("n"),
    )
    picks = [
        F.max(
            F.when(
                F.col("rn") == F.expr(f"(n * {p} + 99) div 100"), F.col("gap")
            )
        )
        .cast("bigint")
        .alias(f"p{p}_sec")
        for p in _LAT_PCTS
    ]
    return (
        ranked.groupBy("event_type")
        .agg(F.max("n").cast("bigint").alias("n_gaps"), *picks)
        .orderBy("event_type")
    )


def q_woe_iv_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHT-OF-EVIDENCE / INFORMATION VALUE of the event-value
    feature against the purchase target — PSI's credit-scoring sibling
    for PREDICTIVE power instead of drift: per bucket,
    WoE = ln(P(bucket|good)/P(bucket|bad)) and
    IV = Σ (p_good − p_bad)·WoE, with add-one smoothing (IV < 0.02
    useless, > 0.3 strong — the standard feature-screening gate).
    Good = purchase events, bad = everything else; same fixed 10-bucket
    grid as q_psi_drift.

    Determinism: identical to the PSI spelling (_binned_shares)."""
    return _binned_shares(spark, sf_dir, F.col("event_type") == "purchase").select(
        "b",
        F.col("n1").alias("good_n"),
        F.col("n0").alias("bad_n"),
        "diff6",
        F.col("ln6").alias("woe6"),
        F.col("contrib12").alias("iv_contrib12"),
        F.col("sum12").alias("iv12"),
    ).orderBy("b")


_KM_BUCKET_SEC = 4 * 3600  # survival-time bucket width (4 hours)
_KM_MAX_BUCKET = 47  # durations clamp into the last bucket


def q_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KAPLAN-MEIER survival curve for signup → purchase conversion
    (the product-limit estimator behind churn/retention survival
    plots): per user, the duration from first signup to first
    subsequent purchase (event) or to the end of observation
    (censored), bucketed into fixed 4-hour intervals; at each event
    bucket S(t) multiplies by (1 − d/n) over the at-risk set.

    Determinism: each survival factor is ONE ln of an exact int64
    ratio snapped to 1e-6 (the geometric-mean discipline), the
    cumulative product is an INTEGER sum of those logs + one exp,
    snapped; a bucket where d = n pins survival to exactly 0 from
    there on (no ln(0) on either engine). At-risk counts and the
    cumulative log both come from ≤48²-row SELF-JOINS over the bounded
    bucket grid — no global-order window anywhere.

    Scale: one corpus pass to per-user durations (two per-user aggs),
    then everything runs on the fixed 48-bucket frame."""
    ev = events_with_sec(spark, sf_dir)
    su = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts_sec").alias("t0"))
    )
    pu = (
        ev.where(F.col("event_type") == "purchase")
        .join(su, "user_id")
        .where(F.col("ts_sec") >= F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("ts_sec").alias("t1"))
    )
    tmax = ev.agg(F.max("ts_sec").alias("tmax"))
    users = (
        su.join(pu, "user_id", "left")
        .crossJoin(F.broadcast(tmax))
        .select(
            F.col("t1").isNotNull().alias("converted"),
            F.least(
                F.expr(f"(coalesce(t1, tmax) - t0) div {_KM_BUCKET_SEC}"),
                F.lit(_KM_MAX_BUCKET).cast("bigint"),
            ).alias("bucket"),
        )
    )
    per_b = users.groupBy("bucket").agg(
        F.count("*").cast("bigint").alias("u_n"),
        F.sum(F.col("converted").cast("bigint")).cast("bigint").alias("d"),
    )
    x = per_b.select(F.col("bucket").alias("xb"))
    atrisk = (
        x.join(F.broadcast(per_b), F.col("bucket") >= F.col("xb"))
        .groupBy("xb")
        .agg(F.sum("u_n").cast("bigint").alias("n_at_risk"))
    )
    steps = (
        per_b.where(F.col("d") > 0)
        .join(atrisk, per_b["bucket"] == atrisk["xb"])
        .select(
            "bucket",
            "d",
            "n_at_risk",
            F.when(
                F.col("d") < F.col("n_at_risk"),
                units(
                    F.log(
                        (F.col("n_at_risk") - F.col("d")).cast("double")
                        / F.col("n_at_risk").cast("double")
                    )
                ),
            ).alias("ln6"),
            (F.col("d") == F.col("n_at_risk")).cast("bigint").alias("zero"),
        )
    )
    s2 = steps.select(
        F.col("bucket").alias("b2"),
        F.col("ln6").alias("ln6_2"),
        F.col("zero").alias("zero_2"),
    )
    cum = (
        steps.join(F.broadcast(s2), F.col("b2") <= F.col("bucket"))
        .groupBy("bucket", "d", "n_at_risk")
        .agg(
            F.sum("ln6_2").cast("bigint").alias("cum_ln6"),
            F.max("zero_2").cast("bigint").alias("hit_zero"),
        )
    )
    return cum.select(
        "bucket",
        F.col("n_at_risk"),
        F.col("d").alias("n_events"),
        F.when(F.col("hit_zero") == 1, F.lit(0).cast("bigint"))
        .otherwise(
            units(F.exp(F.col("cum_ln6").cast("double") / 1e6))
        )
        .alias("surv6"),
    ).orderBy("bucket")


ORACLES: dict[str, str] = {
    "apriori_triples": f"""
        WITH bi AS MATERIALIZED (
            SELECT DISTINCT l_orderkey,
                   CAST(l_partkey % {_APRIORI_ITEMS} AS BIGINT) AS item
            FROM lineitem
        ), nb AS (
            SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n FROM bi
        ), ms AS (
            SELECT greatest(n // {_APRIORI_MINSUP_DIV}, 2) AS minsup FROM nb
        ), f1 AS (
            SELECT item FROM bi GROUP BY item
            HAVING count(*) >= (SELECT minsup FROM ms)
        ), bi1 AS MATERIALIZED (
            SELECT bi.l_orderkey, bi.item FROM bi JOIN f1 USING (item)
        ), bp AS MATERIALIZED (
            SELECT a.l_orderkey, a.item AS ia, b.item AS ib
            FROM bi1 a JOIN bi1 b
              ON a.l_orderkey = b.l_orderkey AND a.item < b.item
        ), l2 AS MATERIALIZED (
            SELECT ia, ib FROM bp GROUP BY 1, 2
            HAVING count(*) >= (SELECT minsup FROM ms)
        ), bpf AS MATERIALIZED (
            SELECT bp.* FROM bp JOIN l2 USING (ia, ib)
        ), cand AS (
            SELECT x.l_orderkey, x.ia, x.ib, y.ib AS ic
            FROM bpf x JOIN bpf y
              ON x.l_orderkey = y.l_orderkey AND x.ia = y.ia
                 AND y.ib > x.ib
        ), cand2 AS (
            SELECT c.l_orderkey, c.ia, c.ib, c.ic
            FROM cand c JOIN l2 ON c.ib = l2.ia AND c.ic = l2.ib
        )
        SELECT ia, ib, ic, CAST(count(*) AS BIGINT) AS support,
               CAST(count(*) * 1000000 // (SELECT n FROM nb) AS BIGINT)
                   AS share6
        FROM cand2 GROUP BY 1, 2, 3
        HAVING count(*) >= (SELECT minsup FROM ms)
        ORDER BY support DESC, ia, ib, ic
        LIMIT {_APRIORI_TOPK}
    """,
    "peak_concurrency": f"""
        WITH ev AS (
            SELECT event_type, event_id,
                   CAST(epoch_ms(ts) // 1000 AS BIGINT) AS t0
            FROM events
        ), pts AS (
            SELECT event_type, event_id, t0 AS t, 1 AS delta FROM ev
            UNION ALL
            SELECT event_type, event_id, t0 + {_SPAN_SEC_CONC} AS t, -1
            FROM ev
        ), cum AS (
            SELECT event_type, t,
                   CAST(sum(delta) OVER (PARTITION BY event_type
                        ORDER BY t, delta, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS live
            FROM pts
        ), best AS (
            SELECT event_type, live AS peak_live, t AS peak_at_sec FROM (
                SELECT *, row_number() OVER (PARTITION BY event_type
                              ORDER BY live DESC, t) AS rn
                FROM cum
            ) WHERE rn = 1
        )
        SELECT b.event_type,
               CAST(c.n_points // 2 AS BIGINT) AS n_spans,
               b.peak_live, b.peak_at_sec
        FROM best b
        JOIN (SELECT event_type, CAST(count(*) AS BIGINT) AS n_points
              FROM pts GROUP BY 1) c ON b.event_type = c.event_type
        ORDER BY b.event_type
    """,
    "mann_kendall_trend": """
        WITH e AS (
            SELECT CAST(floor((epoch_ms(ts) // 1000) / 86400) AS BIGINT) AS day
            FROM events
        ), counts AS (
            SELECT day, CAST(count(*) AS BIGINT) AS c FROM e GROUP BY 1
        ), grid AS MATERIALIZED (
            SELECT g.day, COALESCE(c.c, 0) AS c
            FROM (SELECT unnest(generate_series((SELECT min(day) FROM e),
                                                (SELECT max(day) FROM e)))
                      AS day) g
            LEFT JOIN counts c ON g.day = c.day
        ), s_stat AS (
            SELECT CAST(sum(CASE WHEN b.c > a.c THEN 1
                                 WHEN b.c < a.c THEN -1 ELSE 0 END) AS BIGINT)
                       AS s
            FROM grid a JOIN grid b ON b.day > a.day
        ), nn AS (
            SELECT CAST(count(*) AS BIGINT) AS n FROM grid
        ), ties AS (
            SELECT CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_num
            FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM grid GROUP BY c)
        )
        SELECT n, s, tie_num,
               CAST(floor((CAST(s AS DOUBLE)
                           - CASE WHEN s > 0 THEN 1.0
                                  WHEN s < 0 THEN -1.0 ELSE 0.0 END)
                          / sqrt(CAST(greatest(n * (n - 1) * (2 * n + 5)
                                               - tie_num, 1)
                                      AS DOUBLE) / 18.0)
                          * 1e6 + 0.5) AS BIGINT) AS z6,
               abs(CAST(floor((CAST(s AS DOUBLE)
                           - CASE WHEN s > 0 THEN 1.0
                                  WHEN s < 0 THEN -1.0 ELSE 0.0 END)
                          / sqrt(CAST(greatest(n * (n - 1) * (2 * n + 5)
                                               - tie_num, 1)
                                      AS DOUBLE) / 18.0)
                          * 1e6 + 0.5) AS BIGINT)) > 1959964 AS trend
        FROM s_stat CROSS JOIN nn CROSS JOIN ties
    """,
    "median_polish": _median_polish_oracle(),
    "pettitt_changepoint": """
        WITH e AS (
            SELECT CAST(floor((epoch_ms(ts) // 1000) / 86400) AS BIGINT) AS day
            FROM events
        ), counts AS (
            SELECT day, CAST(count(*) AS BIGINT) AS c FROM e GROUP BY 1
        ), grid AS MATERIALIZED (
            SELECT g.day, COALESCE(c.c, 0) AS c
            FROM (SELECT unnest(generate_series((SELECT min(day) FROM e),
                                                (SELECT max(day) FROM e)))
                      AS day) g
            LEFT JOIN counts c ON g.day = c.day
        ), pairs AS MATERIALIZED (
            SELECT a.day AS di, b.day AS dj,
                   CAST(CASE WHEN b.c > a.c THEN 1
                             WHEN b.c < a.c THEN -1 ELSE 0 END AS BIGINT)
                       AS sgn
            FROM grid a JOIN grid b ON b.day > a.day
        ), u AS (
            SELECT g.day AS t, CAST(sum(p.sgn) AS BIGINT) AS u_t
            FROM grid g JOIN pairs p ON p.di <= g.day AND p.dj > g.day
            GROUP BY 1
        ), best AS (
            SELECT t AS change_day, u_t AS u_at_change,
                   CAST(abs(u_t) AS BIGINT) AS abs_u
            FROM u ORDER BY abs(u_t) DESC, t LIMIT 1
        )
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM grid) AS n_days,
               change_day, u_at_change, abs_u
        FROM best
    """,
    "dispersion_index": """
        WITH e AS (
            SELECT event_type,
                   CAST(floor((epoch_ms(ts) // 1000) / 86400) AS BIGINT) AS day
            FROM events
        ), counts AS (
            SELECT event_type, day, CAST(count(*) AS BIGINT) AS c
            FROM e GROUP BY 1, 2
        ), grid AS (
            SELECT t.event_type, g.day, COALESCE(c.c, 0) AS c
            FROM (SELECT DISTINCT event_type FROM e) t
            CROSS JOIN (SELECT unnest(generate_series(
                            (SELECT min(day) FROM e),
                            (SELECT max(day) FROM e))) AS day) g
            LEFT JOIN counts c ON t.event_type = c.event_type AND g.day = c.day
        )
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_days,
               CAST(sum(c) AS BIGINT) AS total,
               CAST((count(*) * sum(c * c) - sum(c) * sum(c)) * 1000000
                    // (count(*) * sum(c)) AS BIGINT) AS vmr6,
               (count(*) * sum(c * c) - sum(c) * sum(c)) * 1000000
                   // (count(*) * sum(c)) > 1000000 AS overdispersed
        FROM grid GROUP BY 1 ORDER BY 1
    """,
    "seasonal_strength": """
        WITH e AS (
            SELECT CAST(floor((epoch_ms(ts) // 1000) / 86400) AS BIGINT) AS day
            FROM events
        ), counts AS (
            SELECT day, CAST(count(*) AS BIGINT) AS c FROM e GROUP BY 1
        ), grid AS (
            SELECT CAST(g.day % 7 AS BIGINT) AS dow, COALESCE(c.c, 0) AS c
            FROM (SELECT unnest(generate_series((SELECT min(day) FROM e),
                                                (SELECT max(day) FROM e)))
                      AS day) g
            LEFT JOIN counts c ON g.day = c.day
        ), per_dow AS (
            SELECT dow, CAST(count(*) AS BIGINT) AS n_d,
                   CAST(sum(c) AS BIGINT) AS s_d,
                   CAST(sum(c * c) AS BIGINT) AS ss_d
            FROM grid GROUP BY 1
        ), resid AS (
            SELECT dow, n_d, s_d,
                   CAST(floor(CAST(n_d * ss_d - s_d * s_d AS DOUBLE)
                              / CAST(n_d AS DOUBLE) * 1e6 + 0.5) AS BIGINT)
                       AS ssr12_d
            FROM per_dow
        ), tot AS (
            SELECT CAST(floor(CAST(count(*) * sum(c * c) - sum(c) * sum(c)
                                   AS DOUBLE)
                              / CAST(count(*) AS DOUBLE) * 1e6 + 0.5)
                        AS BIGINT) AS sst12
            FROM grid
        ), strength AS (
            -- constant series (sst12 = 0): strength 0 by convention;
            -- unguarded, Spark raises DIVIDE_BY_ZERO (r14 guard audit)
            SELECT CASE WHEN sst12 = 0 THEN 0 ELSE greatest(
                CAST(floor((1.0 - CAST(sum(ssr12_d) AS DOUBLE)
                                  / CAST(sst12 AS DOUBLE)) * 1e6 + 0.5)
                     AS BIGINT), 0) END AS strength6
            FROM resid CROSS JOIN tot
            GROUP BY sst12
        )
        SELECT dow, n_d,
               CAST(s_d * 1000000 // n_d AS BIGINT) AS dow_mean6,
               strength6
        FROM resid CROSS JOIN strength
        ORDER BY dow
    """,
    "event_debounce": f"""
        WITH e AS (
            SELECT user_id, event_type, event_id,
                   epoch_ms(ts) // 1000 AS ts_sec
            FROM events
        ), flagged AS (
            SELECT event_type,
                   (lag(ts_sec) OVER (PARTITION BY user_id, event_type
                                      ORDER BY ts_sec, event_id) IS NULL
                    OR ts_sec - lag(ts_sec) OVER (PARTITION BY user_id,
                         event_type ORDER BY ts_sec, event_id)
                       > {_DEBOUNCE_SEC}) AS kept
            FROM e
        )
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_raw,
               CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               CAST(count(*) - sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_suppressed,
               CAST((count(*) - sum(CASE WHEN kept THEN 1 ELSE 0 END))
                    * 1000000 // count(*) AS BIGINT) AS suppressed6
        FROM flagged GROUP BY 1 ORDER BY 1
    """,
    "sliding_distinct_users": f"""
        WITH ev AS (
            SELECT CAST(floor((epoch_ms(ts) // 1000) / 86400) AS BIGINT)
                       AS day,
                   user_id
            FROM events
        ), ud AS (
            SELECT DISTINCT day, user_id FROM ev
        ), grid AS (
            SELECT unnest(generate_series((SELECT min(day) FROM ud),
                                          (SELECT max(day) FROM ud))) AS day
        ), win AS (
            SELECT g.day, CAST(count(DISTINCT u.user_id) AS BIGINT) AS wau
            FROM grid g JOIN ud u
              ON u.day <= g.day AND u.day > g.day - {_SLIDE_W}
            GROUP BY 1
        ), dau AS (
            SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
            FROM ud GROUP BY 1
        )
        SELECT w.day, CAST(COALESCE(d.dau, 0) AS BIGINT) AS dau, w.wau,
               CAST(COALESCE(d.dau, 0) * 1000000 // w.wau AS BIGINT)
                   AS stickiness6
        FROM win w LEFT JOIN dau d ON w.day = d.day
        ORDER BY w.day
    """,
    "lead_lag_xcorr": f"""
        WITH e AS (
            SELECT event_type, epoch_ms(ts) // 1000 AS ts_sec FROM events
        ), counts AS (
            SELECT CAST(floor(ts_sec / 86400) AS BIGINT) AS day,
                   CAST(sum(CASE WHEN event_type = '{_XCORR_A}' THEN 1 ELSE 0
                            END) AS BIGINT) AS ca,
                   CAST(sum(CASE WHEN event_type = '{_XCORR_B}' THEN 1 ELSE 0
                            END) AS BIGINT) AS cb
            FROM e GROUP BY 1
        ), grid AS (
            SELECT g.day, COALESCE(c.ca, 0) AS ca, COALESCE(c.cb, 0) AS cb
            FROM (SELECT unnest(generate_series((SELECT min(day) FROM counts),
                                                (SELECT max(day) FROM counts)))
                      AS day) g
            LEFT JOIN counts c ON g.day = c.day
        ), tot AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(ca) AS BIGINT) AS sa,
                   CAST(sum(cb) AS BIGINT) AS sb
            FROM grid
        ), y AS (
            SELECT day, n * ca - sa AS ya, n * cb - sb AS yb
            FROM grid CROSS JOIN tot
        ), lags AS (
            SELECT unnest(generate_series(-{_XCORR_MAX_LAG},
                                          {_XCORR_MAX_LAG})) AS lag
        )
        SELECT l.lag,
               CAST(count(*) AS BIGINT) AS n_overlap,
               CAST(sum(a.ya * b.yb) AS BIGINT) AS xcov_num
        FROM lags l
        CROSS JOIN y a
        JOIN y b ON b.day = a.day + l.lag
        GROUP BY 1 ORDER BY 1
    """,
    "topk_churn": f"""
        WITH e AS (
            SELECT user_id, epoch_ms(ts) // 1000 AS ts_sec FROM events
        ), wu AS (
            SELECT CAST(floor(ts_sec / 604800) AS BIGINT) AS week, user_id,
                   CAST(count(*) AS BIGINT) AS c
            FROM e GROUP BY 1, 2
        ), top AS (
            SELECT week, user_id FROM (
                SELECT week, user_id,
                       row_number() OVER (PARTITION BY week
                                          ORDER BY c DESC, user_id) AS rk
                FROM wu
            ) WHERE rk <= {_CHURN_TOPK}
        ), sizes AS (
            SELECT week, CAST(count(*) AS BIGINT) AS k_now FROM top GROUP BY 1
        ), stay AS (
            SELECT t.week, CAST(count(*) AS BIGINT) AS n_stayed
            FROM top t JOIN top p
              ON p.week = t.week - 1 AND p.user_id = t.user_id
            GROUP BY 1
        )
        SELECT s.week, s.k_now, p.k_now AS k_prev,
               CAST(COALESCE(st.n_stayed, 0) AS BIGINT) AS n_stayed,
               CAST(s.k_now - COALESCE(st.n_stayed, 0) AS BIGINT) AS n_new,
               CAST(p.k_now - COALESCE(st.n_stayed, 0) AS BIGINT) AS n_dropped,
               CAST(COALESCE(st.n_stayed, 0) * 1000000
                    // (s.k_now + p.k_now - COALESCE(st.n_stayed, 0))
                    AS BIGINT) AS jaccard6
        FROM sizes s
        JOIN sizes p ON p.week = s.week - 1
        LEFT JOIN stay st ON st.week = s.week
        ORDER BY s.week
    """,
    "woe_iv_binning": f"""
        WITH ev AS (
            SELECT event_type = 'purchase' AS is_good,
                   least(CAST(floor(value / {_PSI_W}) AS BIGINT),
                         {_PSI_B - 1}) AS b
            FROM events
        ), grid AS (
            SELECT CAST(unnest(generate_series(0, {_PSI_B - 1})) AS BIGINT) AS b
        ), counts AS (
            SELECT b,
                   CAST(sum(CASE WHEN is_good THEN 1 ELSE 0 END) AS BIGINT)
                       AS good_n,
                   CAST(sum(CASE WHEN is_good THEN 0 ELSE 1 END) AS BIGINT)
                       AS bad_n
            FROM ev GROUP BY 1
        ), tot AS (
            SELECT CAST(sum(CASE WHEN is_good THEN 1 ELSE 0 END) AS BIGINT)
                       AS ng,
                   CAST(sum(CASE WHEN is_good THEN 0 ELSE 1 END) AS BIGINT)
                       AS nb
            FROM ev
        ), per AS (
            SELECT g.b,
                   COALESCE(c.good_n, 0) AS good_n,
                   COALESCE(c.bad_n, 0) AS bad_n,
                   CAST(floor((CAST(COALESCE(c.good_n, 0) + 1 AS DOUBLE)
                               / CAST(ng + {_PSI_B} AS DOUBLE)
                               - CAST(COALESCE(c.bad_n, 0) + 1 AS DOUBLE)
                               / CAST(nb + {_PSI_B} AS DOUBLE)) * 1e6 + 0.5)
                        AS BIGINT) AS diff6,
                   CAST(floor(ln(
                       CAST((COALESCE(c.good_n, 0) + 1) * (nb + {_PSI_B})
                            AS DOUBLE)
                       / CAST((COALESCE(c.bad_n, 0) + 1) * (ng + {_PSI_B})
                              AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS woe6
            FROM grid g LEFT JOIN counts c ON g.b = c.b CROSS JOIN tot
        ), per2 AS (
            SELECT *, CAST(diff6 * woe6 AS BIGINT) AS iv_contrib12 FROM per
        )
        SELECT b, good_n, bad_n, diff6, woe6, iv_contrib12,
               (SELECT CAST(sum(iv_contrib12) AS BIGINT) FROM per2) AS iv12
        FROM per2 ORDER BY b
    """,
    "ucb1_bandit": f"""
        WITH docs AS (
            SELECT source,
                   CASE WHEN n_chars >= {_UCB_QUALITY_CHARS} THEN 1 ELSE 0 END
                       AS r
            FROM documents
        ), arms AS (
            SELECT source, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(r) AS BIGINT) AS successes
            FROM docs GROUP BY 1
        ), tot AS (
            SELECT CAST(sum(n) AS BIGINT) AS big_n FROM arms
        ), per AS (
            SELECT a.*, CAST(floor(ln(CAST(big_n AS DOUBLE)) * 1e6 + 0.5)
                             AS BIGINT) AS ln6n
            FROM arms a CROSS JOIN tot
        )
        SELECT source, n, successes,
               CAST(successes * 1000000 // n AS BIGINT) AS mean6,
               CAST(floor(sqrt(CAST(2 * ln6n AS DOUBLE)
                               / CAST(n * 1000000 AS DOUBLE)) * 1e6 + 0.5)
                    AS BIGINT) AS bonus6,
               CAST(successes * 1000000 // n
                    + floor(sqrt(CAST(2 * ln6n AS DOUBLE)
                                 / CAST(n * 1000000 AS DOUBLE)) * 1e6 + 0.5)
                    AS BIGINT) AS ucb6
        FROM per ORDER BY source
    """,
    "interarrival_percentiles": f"""
        WITH e AS (
            SELECT event_type, event_id, epoch_ms(ts) // 1000 AS ts_sec
            FROM events
        ), gaps AS (
            SELECT event_type, event_id,
                   ts_sec - lag(ts_sec) OVER (PARTITION BY event_type
                                              ORDER BY ts_sec, event_id) AS gap
            FROM e
        ), ranked AS (
            SELECT event_type, gap,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY gap, event_id) AS rn,
                   count(*) OVER (PARTITION BY event_type) AS n
            FROM gaps WHERE gap IS NOT NULL
        )
        SELECT event_type,
               CAST(max(n) AS BIGINT) AS n_gaps,
               {", ".join(
                   f"CAST(max(CASE WHEN rn = (n * {p} + 99) // 100 THEN gap END)"
                   f" AS BIGINT) AS p{p}_sec" for p in _LAT_PCTS
               )}
        FROM ranked GROUP BY 1 ORDER BY 1
    """,
    "psi_drift": f"""
        WITH ev AS (
            SELECT event_id % 3 = 0 AS is_ref,
                   least(CAST(floor(value / {_PSI_W}) AS BIGINT),
                         {_PSI_B - 1}) AS b
            FROM events
        ), grid AS (
            SELECT CAST(unnest(generate_series(0, {_PSI_B - 1})) AS BIGINT) AS b
        ), counts AS (
            SELECT b,
                   CAST(sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT)
                       AS ref_n,
                   CAST(sum(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT)
                       AS cur_n
            FROM ev GROUP BY 1
        ), tot AS (
            SELECT CAST(sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS nr,
                   CAST(sum(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT) AS nc
            FROM ev
        ), per AS (
            SELECT g.b,
                   COALESCE(c.ref_n, 0) AS ref_n,
                   COALESCE(c.cur_n, 0) AS cur_n,
                   CAST(floor((CAST(COALESCE(c.ref_n, 0) + 1 AS DOUBLE)
                               / CAST(nr + {_PSI_B} AS DOUBLE)
                               - CAST(COALESCE(c.cur_n, 0) + 1 AS DOUBLE)
                               / CAST(nc + {_PSI_B} AS DOUBLE)) * 1e6 + 0.5)
                        AS BIGINT) AS diff6,
                   CAST(floor(ln(
                       CAST((COALESCE(c.ref_n, 0) + 1) * (nc + {_PSI_B})
                            AS DOUBLE)
                       / CAST((COALESCE(c.cur_n, 0) + 1) * (nr + {_PSI_B})
                              AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS ln6
            FROM grid g LEFT JOIN counts c ON g.b = c.b CROSS JOIN tot
        ), per2 AS (
            SELECT *, CAST(diff6 * ln6 AS BIGINT) AS contrib12 FROM per
        )
        SELECT b, ref_n, cur_n, diff6, ln6, contrib12,
               (SELECT CAST(sum(contrib12) AS BIGINT) FROM per2) AS psi12
        FROM per2 ORDER BY b
    """,
    "kaplan_meier": f"""
        WITH e AS (
            SELECT user_id, event_type, epoch_ms(ts) // 1000 AS ts_sec
            FROM events
        ), su AS (
            SELECT user_id, min(ts_sec) AS t0 FROM e
            WHERE event_type = 'signup' GROUP BY 1
        ), pu AS (
            SELECT e.user_id, min(e.ts_sec) AS t1
            FROM e JOIN su ON e.user_id = su.user_id
            WHERE e.event_type = 'purchase' AND e.ts_sec >= su.t0
            GROUP BY 1
        ), tm AS (
            SELECT max(ts_sec) AS tmax FROM e
        ), users AS (
            SELECT pu.t1 IS NOT NULL AS converted,
                   least((COALESCE(pu.t1, tm.tmax) - su.t0)
                             // {_KM_BUCKET_SEC},
                         {_KM_MAX_BUCKET}) AS bucket
            FROM su LEFT JOIN pu ON su.user_id = pu.user_id CROSS JOIN tm
        ), per_b AS (
            SELECT bucket, CAST(count(*) AS BIGINT) AS u_n,
                   CAST(sum(CASE WHEN converted THEN 1 ELSE 0 END) AS BIGINT)
                       AS d
            FROM users GROUP BY 1
        ), atrisk AS (
            SELECT x.bucket AS xb, CAST(sum(y.u_n) AS BIGINT) AS n_at_risk
            FROM per_b x JOIN per_b y ON y.bucket >= x.bucket
            GROUP BY 1
        ), steps AS (
            SELECT p.bucket, p.d, a.n_at_risk,
                   CASE WHEN p.d < a.n_at_risk THEN
                       CAST(floor(ln(CAST(a.n_at_risk - p.d AS DOUBLE)
                                     / CAST(a.n_at_risk AS DOUBLE))
                                  * 1e6 + 0.5) AS BIGINT)
                   END AS ln6,
                   CASE WHEN p.d = a.n_at_risk THEN 1 ELSE 0 END AS zero
            FROM per_b p JOIN atrisk a ON p.bucket = a.xb
            WHERE p.d > 0
        ), cum AS (
            SELECT s1.bucket, s1.d, s1.n_at_risk,
                   CAST(sum(s2.ln6) AS BIGINT) AS cum_ln6,
                   CAST(max(s2.zero) AS BIGINT) AS hit_zero
            FROM steps s1 JOIN steps s2 ON s2.bucket <= s1.bucket
            GROUP BY 1, 2, 3
        )
        SELECT bucket, n_at_risk, d AS n_events,
               CASE WHEN hit_zero = 1 THEN CAST(0 AS BIGINT)
                    ELSE CAST(floor(exp(CAST(cum_ln6 AS DOUBLE) / 1e6) * 1e6
                                    + 0.5) AS BIGINT)
               END AS surv6
        FROM cum ORDER BY bucket
    """,
    "ewma_weekly": _ewma_oracle(),
    "markov_stationary": _markov_oracle(),
    "holt_linear_forecast": _holt_oracle(),
    "skyline_pareto": """
        WITH parts AS (
            SELECT p_partkey, p_size,
                   CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS cents
            FROM part
        ), per_size AS (
            SELECT p_size AS ms, CAST(min(cents) AS BIGINT) AS min_eq
            FROM parts GROUP BY 1
        ), suffix AS (
            SELECT a.ms, a.min_eq, CAST(min(b.min_eq) AS BIGINT) AS min_gt
            FROM per_size a LEFT JOIN per_size b ON b.ms > a.ms
            GROUP BY 1, 2
        )
        SELECT p.p_partkey, p.p_size, p.cents
        FROM parts p JOIN suffix s ON p.p_size = s.ms
        WHERE p.cents = s.min_eq
          AND (s.min_gt IS NULL OR p.cents < s.min_gt)
        ORDER BY p.p_size, p.p_partkey
    """,
    "attribution_multi_touch": """
        WITH e AS (
            SELECT user_id, event_id, event_type,
                   epoch_ms(ts) // 1000 AS ts_sec
            FROM events
        ), pairs AS (
            SELECT p.event_id AS purchase_id, t.event_id AS touch_id,
                   t.event_type AS channel, t.ts_sec AS t_sec
            FROM e p JOIN e t
              ON p.event_type = 'purchase'
             AND t.event_type IN ('click', 'view', 'signup')
             AND t.user_id = p.user_id
             AND t.ts_sec <= p.ts_sec
             AND t.ts_sec > p.ts_sec - 7200
        ), credited AS (
            SELECT channel,
                   CASE WHEN row_number() OVER (PARTITION BY purchase_id
                        ORDER BY t_sec DESC, touch_id DESC) = 1
                        THEN 1 ELSE 0 END AS is_last,
                   CASE WHEN row_number() OVER (PARTITION BY purchase_id
                        ORDER BY t_sec, touch_id) = 1
                        THEN 1 ELSE 0 END AS is_first,
                   1000000 // count(*) OVER (PARTITION BY purchase_id)
                       AS lin_micro
            FROM pairs
        )
        SELECT channel,
               CAST(sum(is_last) AS BIGINT) AS n_last_touch,
               CAST(sum(is_first) AS BIGINT) AS n_first_touch,
               CAST(count(*) AS BIGINT) AS n_touches,
               CAST(sum(lin_micro) AS BIGINT) AS linear_micro
        FROM credited
        GROUP BY channel
        ORDER BY channel
    """,
    "acf_daily": """
        WITH counts AS (
            SELECT CAST(floor((epoch_ms(ts) // 1000) / 86400) AS BIGINT) AS day,
                   CAST(count(*) AS BIGINT) AS c
            FROM events GROUP BY 1
        ), rng AS (SELECT min(day) AS d0, max(day) AS d1 FROM counts),
        grid AS (
            SELECT gs.day, CAST(coalesce(c.c, 0) AS BIGINT) AS c
            FROM (SELECT unnest(generate_series(d0, d1)) AS day FROM rng) gs
            LEFT JOIN counts c ON c.day = gs.day
        ), tot AS (
            SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(c) AS BIGINT) AS s
            FROM grid
        ), y AS (
            SELECT day, n * c - s AS y FROM grid, tot
        ), den AS (SELECT CAST(sum(y * y) AS BIGINT) AS den_ss FROM y),
        lags AS (SELECT unnest([1, 2, 3, 4, 5, 6, 7]) AS lag),
        num AS (
            SELECT lag, CAST(sum(a.y * b.y) AS BIGINT) AS num
            FROM lags CROSS JOIN y a JOIN y b ON b.day = a.day + lag
            GROUP BY lag
        )
        SELECT CAST(lag AS BIGINT) AS lag, num, den_ss,
               -- constant series: den_ss = 0 (r14 guard audit)
               CAST(num * 1000000 // greatest(den_ss, 1) AS BIGINT) AS acf6
        FROM num CROSS JOIN den
        ORDER BY lag
    """,
    "cusum_changepoint": """
        WITH counts AS (
            SELECT event_type,
                   CAST(floor((epoch_ms(ts) // 1000) / 86400) AS BIGINT) AS day,
                   CAST(count(*) AS BIGINT) AS c
            FROM events GROUP BY 1, 2
        ), rng AS (SELECT min(day) AS d0, max(day) AS d1 FROM counts),
        grid AS (
            SELECT t.event_type, gs.day, CAST(coalesce(c.c, 0) AS BIGINT) AS c
            FROM (SELECT DISTINCT event_type FROM counts) t
            CROSS JOIN (SELECT unnest(generate_series(d0, d1)) AS day
                        FROM rng) gs
            LEFT JOIN counts c ON c.event_type = t.event_type
                              AND c.day = gs.day
        ), tot AS (
            SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(c) AS BIGINT) AS s
            FROM grid GROUP BY 1
        ), cum AS (
            SELECT g.event_type, g.day, t.n,
                   CAST(sum(t.n * g.c - t.s) OVER (
                       PARTITION BY g.event_type ORDER BY g.day) AS BIGINT)
                       AS cum
            FROM grid g JOIN tot t ON g.event_type = t.event_type
        ), pick AS (
            SELECT event_type, day, n, cum,
                   row_number() OVER (PARTITION BY event_type
                       ORDER BY abs(cum) DESC, day) AS rn
            FROM cum
        )
        SELECT event_type, day AS cp_day,
               CAST(abs(cum) AS BIGINT) AS max_abs_cum,
               n AS n_days
        FROM pick WHERE rn = 1
        ORDER BY event_type
    """,
    "conformal_quantile": _CONFORMAL_ORACLE,
    "assoc_rules": _ASSOC_ORACLE,
    "funnel_windowed": _FW_ORACLE,
    "session_trigrams": _TRIGRAM_ORACLE,
    "theil_sen_trend": _TS_ORACLE,
    "mutual_information": _MI_ORACLE,
    "rolling_zscore_anomalies": f"""
        WITH e AS (
            SELECT event_id, user_id, event_type, value,
                   epoch_ms(ts) // 1000 AS ts_sec
            FROM events
        ), scored AS (
            SELECT event_type,
                   floor(abs((value - avg(value) OVER w) / (stddev_samp(value) OVER w))
                         * 1e6 + 0.5) / 1e6 AS z,
                   stddev_samp(value) OVER w AS sd
            FROM e
            WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec, event_id
                         ROWS BETWEEN {_Z_WIN} PRECEDING AND 1 PRECEDING)
        )
        SELECT event_type,
               count(*) AS n_scored,
               CAST(sum(CASE WHEN z > {_Z_THRESH} THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_anomalies,
               max(z) AS max_z
        FROM scored
        WHERE sd IS NOT NULL AND sd > 0
        GROUP BY event_type
    """,
    "supplier_cooccurrence": f"""
        WITH d AS (
            SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
        ), pairs AS (
            SELECT a.l_suppkey AS s1, b.l_suppkey AS s2, count(*) AS co
            FROM d a JOIN d b
              ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
            GROUP BY 1, 2
        ), n AS (
            SELECT l_suppkey, count(*) AS n_orders FROM d GROUP BY 1
        )
        SELECT p.s1, p.s2, p.co,
               round(p.co / sqrt(n1.n_orders * n2.n_orders), 6) AS cosine
        FROM pairs p
        JOIN n n1 ON n1.l_suppkey = p.s1
        JOIN n n2 ON n2.l_suppkey = p.s2
        ORDER BY p.co DESC, p.s1, p.s2
        LIMIT {_COOC_TOPK}
    """,
    "session_path_transitions": f"""
        WITH e AS (
            SELECT user_id, event_id, event_type,
                   epoch_ms(ts) // 1000 AS ts_sec
            FROM events
        ), flagged AS (
            SELECT *, CASE WHEN ts_sec - lag(ts_sec) OVER w > {_SESSION_GAP_SEC}
                           THEN 1 ELSE 0 END AS brk
            FROM e
            WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec, event_id)
        ), sess AS (
            SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id
                                          ORDER BY ts_sec, event_id
                                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           AS BIGINT) AS session
            FROM flagged
        ), pairs AS (
            SELECT event_type AS from_type,
                   lead(event_type) OVER (PARTITION BY user_id, session
                                          ORDER BY ts_sec, event_id) AS to_type
            FROM sess
        )
        SELECT from_type, to_type, count(*) AS n_transitions
        FROM pairs WHERE to_type IS NOT NULL
        GROUP BY from_type, to_type
    """,
    "distribution_drift_weekly": """
        WITH e AS (
            SELECT event_type, (epoch_ms(ts) // 1000) // 604800 AS week FROM events
        ), counts AS (
            SELECT week, event_type, count(*) AS c FROM e GROUP BY 1, 2
        ), totals AS (
            SELECT week, count(*) AS t FROM e GROUP BY 1
        ), grid AS (
            SELECT w.week, ty.event_type
            FROM (SELECT DISTINCT week FROM e) w
            CROSS JOIN (SELECT DISTINCT event_type FROM e) ty
        ), shares AS (
            SELECT g.week, g.event_type,
                   coalesce(c.c, 0) / t.t AS p
            FROM grid g
            LEFT JOIN counts c ON c.week = g.week AND c.event_type = g.event_type
            JOIN totals t ON t.week = g.week
        )
        SELECT a.week,
               floor(sum(abs(b.p - a.p)) * 1e6 + 0.5) / 1e6 AS l1_drift,
               count(*) AS n_types
        FROM shares a
        JOIN shares b ON b.week = a.week + 1 AND b.event_type = a.event_type
        GROUP BY a.week
    """,
    "timeseries_locf": """
        SELECT event_id, user_id, epoch_ms(ts) // 1000 AS ts_sec, event_type,
               last_value(CASE WHEN event_type = 'purchase' THEN round(value, 4) END
                          IGNORE NULLS)
                   OVER (PARTITION BY user_id
                         ORDER BY epoch_ms(ts) // 1000, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS last_purchase_value
        FROM events
    """,
    "timeseries_gapfill": """
        WITH ev AS (
            SELECT * FROM events WHERE user_id < 20
        ), spine AS (
            SELECT unnest(generate_series(date_trunc('day', (SELECT min(ts) FROM ev)),
                                          date_trunc('day', (SELECT max(ts) FROM ev)),
                                          INTERVAL 1 DAY)) AS day
        ), clicks AS (
            SELECT user_id, date_trunc('day', ts) AS day, count(*) AS c
            FROM ev WHERE event_type = 'click'
            GROUP BY 1, 2
        )
        SELECT u.user_id, CAST(s.day AS TIMESTAMP) AS day,
               coalesce(c.c, 0) AS n_clicks
        FROM (SELECT DISTINCT user_id FROM ev) u
        CROSS JOIN spine s
        LEFT JOIN clicks c ON c.user_id = u.user_id AND c.day = s.day
    """,
    "funnel_conversion": """
        WITH e AS (
            SELECT user_id, event_type, epoch_ms(ts) // 1000 AS ts_sec FROM events
        ), s1 AS (
            SELECT user_id,
                   min(CASE WHEN event_type = 'signup' THEN ts_sec END) AS t_signup
            FROM e GROUP BY user_id
        ), s2 AS (
            SELECT e.user_id, s1.t_signup,
                   min(CASE WHEN e.event_type = 'click'
                            AND e.ts_sec >= s1.t_signup THEN e.ts_sec END) AS t_click
            FROM e JOIN s1 USING (user_id)
            GROUP BY e.user_id, s1.t_signup
        ), s3 AS (
            SELECT e.user_id, s2.t_signup, s2.t_click,
                   min(CASE WHEN e.event_type = 'purchase'
                            AND e.ts_sec >= s2.t_click THEN e.ts_sec END) AS t_purchase
            FROM e JOIN s2 USING (user_id)
            GROUP BY e.user_id, s2.t_signup, s2.t_click
        )
        SELECT count(*) AS n_users,
               count(t_signup) AS n_signed_up,
               count(t_click) AS n_clicked_after,
               count(t_purchase) AS n_purchased_after
        FROM s3
    """,
    "retention_cohorts": """
        WITH e AS (
            SELECT user_id, (epoch_ms(ts) // 1000) // 604800 AS week FROM events
        ), c AS (
            SELECT user_id, min(week) AS cohort_week FROM e GROUP BY user_id
        )
        SELECT cohort_week, week - cohort_week AS week_offset,
               count(DISTINCT e.user_id) AS n_users
        FROM e JOIN c USING (user_id)
        GROUP BY cohort_week, week - cohort_week
    """,
}

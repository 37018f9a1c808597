"""EXECUTED hot-key stress for the stream-stream interval-join family
(VERDICT r16 #3) — the one heavy shuffle family tests/test_skew_stress.py
did not cover.

The r16 stress proved the salted agg/join and window/dedup shapes under a
30%-hot-key distribution; the stream-stream interval join carries the same
risk in a different place: its shuffle AND its state store are hash-
partitioned on the equi-key (user), so one hot user concentrates both the
exchange and the per-key join state. This module builds an adversarial
clickstream twin of the events table (ONE user emits 30% of all events;
~200 cold users form the tail), stages it as a real file stream, and
asserts with executed jobs:

  (a) answer-invariance under skew for the REAL streaming paths: the
      watermarked inner interval join's emission equals the plain batch
      join's pair set, and the full-outer emission bit-matches its batch
      sim twin (windows.py:248) — both driven by the hot-user corpus;
      the left/right-outer sims are cross-checked against the full-outer
      emission via the exact subset relations their thresholds imply;
  (b) the streaming STATE bound, measured: a production-style replay
      (8 time-slice files, 1-hour watermark = horizon) reports its state
      size per microbatch via StreamingQueryProgress.stateOperators —
      watermark eviction must hold peak state to a slice-local bound
      instead of accumulating all 24k rows, while the emission still
      equals the batch pair set (eviction is provably pair-safe: a row is
      evicted only once the other side's watermark passes its match
      horizon);
  (c) the batch-shape SHUFFLE bound, measured: hash-partitioned on the
      bare user key the hot user's rows land in ONE partition (the
      straggler, measured); bucketed on (user, floor(ts/horizon)) — the
      skew.bucketed_interval_join rewrite — the max partition collapses
      to near-median, and the rewrite returns exactly the plain join's
      pairs on the adversarial corpus.

Everything is deterministic: ids, users, timestamps and values derive
from id arithmetic (no rand()); the staged files replay in mtime order;
the replay conditions for (a) are the single-file/one-data-batch contract
already pinned at sf0.001 by tests/test_streaming.py — re-proved here
under adversarial skew.

Fuzz lane: real streaming queries + counted shuffles cost ~1-2 min, too
heavy for the default lane. Measured shape at the pinned parameters is
recorded in SCALE.md (r17). No registry growth: the catalog is frozen at
355; these pin already-shipped operators (streaming/stream.py,
streaming/windows.py, operators/skew.py).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

N_ROWS = 24_000          # adversarial clickstream size
HOT_SHARE = 0.3          # one user holds 30% of all events
N_COLD_USERS = 200       # long tail
HOT_USER = 0
BASE_S = 1_704_067_200   # 2024-01-01T00:00:00Z
STEP_S = 108             # inter-event spacing → 30-day total span
HORIZON_S = 3600         # join horizon = 1 hour (the shipped default)
N_PARTS = 32             # shuffle width under measurement
N_SLICES = 8             # production-style replay file count


def _write_events(path: str, lo: int, hi: int) -> None:
    """Write events rows for ids [lo, hi) as ONE parquet file with the
    fixture schema (event_id, ts µs, user_id, event_type, value, props).
    Hot user 0 owns ids with id%10 in {0,1,2} (exactly 30%); clicks are
    even ids, purchases odd — so the hot user emits 2/10 clicks and 1/10
    purchases of every 10-id block. Cold users come from a Knuth
    multiplicative hash of id (deterministic, no Spark, no rand())."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    ids = np.arange(lo, hi, dtype=np.int64)
    hot = (ids % 10) < int(HOT_SHARE * 10)
    cold_user = 1 + ((ids * 2654435761) % (2**32)) % N_COLD_USERS
    user = np.where(hot, HOT_USER, cold_user).astype(np.int64)
    ts_us = (BASE_S + ids * STEP_S) * 1_000_000
    etype = np.where(ids % 2 == 0, "click", "purchase")
    value = (ids % 1000) / 10.0
    table = pa.table(
        {
            "event_id": pa.array(ids, pa.int64()),
            "ts": pa.array(ts_us, pa.timestamp("us")),
            "user_id": pa.array(user, pa.int64()),
            "event_type": pa.array(etype.tolist(), pa.string()),
            "value": pa.array(value, pa.float64()),
            "props": pa.array(["{}"] * len(ids), pa.string()),
        }
    )
    pq.write_table(table, path)


@pytest.fixture(scope="module")
def zipf_sf_dir(tmp_path_factory):
    """A scratch sf_dir holding the adversarial corpus as
    ``events.parquet`` — the shipped loaders (tables.load,
    events_file_stream, the windows.py sim twins) consume it exactly as
    they consume the driver fixtures."""
    d = tmp_path_factory.mktemp("zipf-stream-sf")
    _write_events(str(d / "events.parquet"), 0, N_ROWS)
    return str(d)


@pytest.fixture(scope="module")
def sliced_stage_dir(tmp_path_factory):
    """The same corpus as 8 time-ordered slice files with increasing
    mtimes — the file source replays them as 8 microbatches, so the
    watermark advances between batches and state eviction is exercised
    for real (the single-file replay never evicts mid-stream)."""
    d = tmp_path_factory.mktemp("zipf-stream-slices")
    per = N_ROWS // N_SLICES
    for k in range(N_SLICES):
        p = str(d / f"slice_{k:02d}.parquet")
        _write_events(p, k * per, (k + 1) * per)
        os.utime(p, (BASE_S + k, BASE_S + k))  # deterministic replay order
    return str(d)


def _batch_sides(spark, zipf_sf_dir):
    from gasket_rs_spark.tables import load

    ev = load(spark, zipf_sf_dir, "events")
    c = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("cts"),
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("pts"),
    )
    return c, p


def _batch_pairs(spark, zipf_sf_dir) -> set[tuple[int, int]]:
    """The plain batch interval join's pair set — the invariance target."""
    c, p = _batch_sides(spark, zipf_sf_dir)
    return {
        (r["purchase_id"], r["click_id"])
        for r in p.join(
            c,
            (F.col("cu") == F.col("pu"))
            & (F.col("cts") <= F.col("pts"))
            & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 1 HOUR")),
        ).collect()
    }


@pytest.mark.fuzz
def test_zipf_clickstream_premise(spark, zipf_sf_dir):
    """The adversarial premise, measured: the hot user holds exactly 30%
    of all events, every cold user is tiny, and the hot user also
    dominates the JOIN's output (so the stressed key is giant on both
    the input and the pair side — otherwise the bounds below test
    nothing)."""
    from gasket_rs_spark.tables import load

    ev = load(spark, zipf_sf_dir, "events")
    counts = {
        r["user_id"]: r["cnt"]
        for r in ev.groupBy("user_id").agg(F.count("*").alias("cnt")).collect()
    }
    assert counts[HOT_USER] == int(N_ROWS * HOT_SHARE)
    assert max(c for u, c in counts.items() if u != HOT_USER) < 0.01 * N_ROWS

    pairs = _batch_pairs(spark, zipf_sf_dir)
    c, _ = _batch_sides(spark, zipf_sf_dir)
    hot_clicks = {
        r["click_id"] for r in c.where(F.col("cu") == HOT_USER).collect()
    }
    hot_pairs = sum(1 for _, cid in pairs if cid in hot_clicks)
    # the hot user's per-hour event rate (~33 events) makes it the only
    # user with dense in-horizon matches — it must own >90% of all pairs
    assert hot_pairs > 0.9 * len(pairs) and len(pairs) > 5_000


@pytest.mark.fuzz
def test_real_stream_inner_join_hot_user_matches_batch(spark, zipf_sf_dir):
    """(a) REAL watermarked stream-stream inner interval join under
    adversarial skew: the emission over the staged replay must equal the
    plain batch join's pair set exactly — 30% of all state rows and >90%
    of all pairs funnel through one user's hash partition."""
    from gasket_rs_spark.streaming.stream import (
        events_file_stream,
        interval_join_streams,
        run_to_memory_sink,
    )

    clicks = events_file_stream(spark, zipf_sf_dir).where(
        F.col("event_type") == "click"
    )
    purchases = events_file_stream(spark, zipf_sf_dir).where(
        F.col("event_type") == "purchase"
    )
    joined = interval_join_streams(clicks, purchases, "1 hour")
    run_to_memory_sink(joined, "zipf_ssj_inner", output_mode="append",
                       timeout_sec=180)
    streamed = {
        (r["purchase_id"], r["click_id"])
        for r in spark.table("zipf_ssj_inner").collect()
    }
    assert streamed == _batch_pairs(spark, zipf_sf_dir)


@pytest.mark.fuzz
def test_full_outer_sim_matches_real_stream_under_skew(spark, zipf_sf_dir):
    """(a) for the outer family: the full-outer emission (both eviction
    thresholds live — unmatched purchases at pts < wm, unmatched clicks
    at cts < wm − horizon) bit-matches the batch sim twin
    (windows.q_stream_full_outer_join_sim) on the hot-user corpus; the
    left/right-outer sims are then checked against the full-outer
    emission through the exact subset relations their thresholds imply —
    all three sim twins driven by the adversarial distribution."""
    from gasket_rs_spark.streaming.stream import (
        events_file_stream,
        interval_join_streams,
        run_to_memory_sink,
    )
    from gasket_rs_spark.streaming.windows import (
        q_stream_full_outer_join_sim,
        q_stream_left_outer_join_sim,
        q_stream_right_outer_join_sim,
    )

    clicks = events_file_stream(spark, zipf_sf_dir).where(
        F.col("event_type") == "click"
    )
    purchases = events_file_stream(spark, zipf_sf_dir).where(
        F.col("event_type") == "purchase"
    )
    joined = interval_join_streams(clicks, purchases, how="fullOuter")
    run_to_memory_sink(joined, "zipf_ssj_full", output_mode="append",
                       timeout_sec=180)
    key = lambda t: tuple(-1 if v is None else v for v in t)  # noqa: E731
    streamed = sorted(
        (
            (r["purchase_id"], r["click_id"], r["join_user"])
            for r in spark.table("zipf_ssj_full").collect()
        ),
        key=key,
    )
    full = sorted(
        (
            (r["purchase_id"], r["click_id"], r["join_user"])
            for r in q_stream_full_outer_join_sim(spark, zipf_sf_dir).collect()
        ),
        key=key,
    )
    assert full == streamed
    # every emission class is exercised by the corpus (the skewed stress
    # must not degenerate into an inner join)
    assert any(cid is None for _, cid, _ in full)
    assert any(pid is None for pid, _, _ in full)

    left = sorted(
        (
            (r["purchase_id"], r["click_id"], r["p_user"])
            for r in q_stream_left_outer_join_sim(spark, zipf_sf_dir).collect()
        ),
        key=key,
    )
    assert left == sorted(
        ((p, c, u) for p, c, u in full if p is not None), key=key
    )
    right = sorted(
        (
            (r["purchase_id"], r["click_id"], r["c_user"])
            for r in q_stream_right_outer_join_sim(spark, zipf_sf_dir).collect()
        ),
        key=key,
    )
    assert right == sorted(
        ((p, c, u) for p, c, u in full if c is not None), key=key
    )


@pytest.mark.fuzz
def test_stream_state_bounded_by_watermark_under_skew(spark, sliced_stage_dir,
                                                      zipf_sf_dir):
    """(b) the streaming STATE bound, measured on a production-style
    replay: 8 time-slice files, watermark = horizon = 1 hour. Eviction is
    pair-safe by the watermark contract (a click is dropped only once
    wm > cts + horizon, when every matching purchase is already below the
    watermark too), so the emission must STILL equal the batch pair set —
    and StreamingQueryProgress.stateOperators must show peak state near
    one slice's rows (plus the 2-horizon tail), nowhere near the 24k rows
    a no-eviction replay would accumulate. This is the executed form of
    the 'state bounded by horizon + watermark' claim in the
    interval-join docstrings."""
    from gasket_rs_spark.streaming.stream import interval_join_streams
    from gasket_rs_spark.tables import _normalize_ts

    raw_schema = spark.read.parquet(sliced_stage_dir).schema

    def side(event_type: str):
        s = (
            spark.readStream.schema(raw_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(sliced_stage_dir)
        )
        s = s.withColumn("ts", _normalize_ts(raw_schema["ts"].dataType))
        return s.where(F.col("event_type") == event_type)

    joined = interval_join_streams(side("click"), side("purchase"), "1 hour")
    import tempfile

    with tempfile.TemporaryDirectory(prefix="gasket-zipf-ckpt-") as ckpt:
        query = (
            joined.writeStream.format("memory")
            .queryName("zipf_ssj_sliced")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        if not query.awaitTermination(300):
            query.stop()
            raise TimeoutError("sliced replay exceeded 300s")
        progress = query.recentProgress

    streamed = {
        (r["purchase_id"], r["click_id"])
        for r in spark.table("zipf_ssj_sliced").collect()
    }
    assert streamed == _batch_pairs(spark, zipf_sf_dir)

    state_rows = [
        op["numRowsTotal"]
        for pr in progress
        for op in pr["stateOperators"]
        if op.get("numRowsTotal") is not None
    ]
    removed = sum(
        op.get("numRowsRemoved") or 0
        for pr in progress
        for op in pr["stateOperators"]
    )
    assert state_rows, "no stateOperators metrics reported"
    slice_rows = N_ROWS // N_SLICES
    # eviction really ran, and peak state (both join sides) stays within
    # one slice + the 2-horizon retention tail — measured ~3.1k vs the
    # 24k a no-eviction replay holds (the 90-day-watermark contract)
    assert removed > N_ROWS // 2, removed
    assert max(state_rows) <= slice_rows + 4 * (2 * HORIZON_S // STEP_S), (
        max(state_rows),
        sorted(state_rows),
    )
    assert max(state_rows) * 4 < N_ROWS


@pytest.mark.fuzz
def test_stream_dedup_state_is_key_bounded_under_skew(spark,
                                                      sliced_stage_dir):
    """(b) companion for the X32 stateful-dedup family: unlike the join,
    ``dropDuplicatesWithinWatermark`` keeps ONE state row per key, so its
    state is bounded by DISTINCT KEYS in the watermark window, not by row
    volume — the hot user contributes a single row per event_type despite
    emitting 30% of all traffic. Measured on the same 8-slice replay
    (watermark 1 h): peak ``stateOperators.numRowsTotal`` must stay near
    the 402-key universe (201 users × 2 parities map to (user_id,
    event_type) keys) while 24 000 rows stream through, and watermark
    eviction must actually remove state between batches. This is the
    executed form of the 'state bounded by watermark' claim on the dedup
    side — skew-immunity by construction, now a number."""
    import tempfile

    from gasket_rs_spark.tables import _normalize_ts

    raw_schema = spark.read.parquet(sliced_stage_dir).schema
    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(sliced_stage_dir)
    )
    stream = stream.withColumn("ts", _normalize_ts(raw_schema["ts"].dataType))
    deduped = stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )
    with tempfile.TemporaryDirectory(prefix="gasket-zipf-dd-ckpt-") as ckpt:
        query = (
            deduped.writeStream.format("memory")
            .queryName("zipf_dd_sliced")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        if not query.awaitTermination(300):
            query.stop()
            raise TimeoutError("sliced dedup replay exceeded 300s")
        progress = query.recentProgress

    rows = spark.table("zipf_dd_sliced").collect()
    n_keys = (N_COLD_USERS + 1) * 2  # every user emits both parities
    # the hot user's kept rows are bounded by its event-TIME coverage,
    # not its volume: one keeper per >=1h-separated cluster per key;
    # its ~33 events/hour mean its 2 keys stay continuously in state,
    # so batch-boundary eviction is the only re-admission point
    hot_kept = sum(1 for r in rows if r["user_id"] == HOT_USER)
    assert 2 <= hot_kept <= 2 * (N_SLICES + 1), hot_kept
    # every key survives with at least one keeper; nothing is lost
    assert {(r["user_id"], r["event_type"]) for r in rows} == {
        (r["user_id"], r["event_type"])
        for r in spark.read.parquet(sliced_stage_dir)
        .select("user_id", "event_type")
        .distinct()
        .collect()
    }

    state_rows = [
        op["numRowsTotal"]
        for pr in progress
        for op in pr["stateOperators"]
        if op.get("numRowsTotal") is not None
    ]
    removed = sum(
        op.get("numRowsRemoved") or 0
        for pr in progress
        for op in pr["stateOperators"]
    )
    assert state_rows, "no stateOperators metrics reported"
    # the scale claim, measured: state is key-bounded (~402), never
    # row-bounded (24,000) — 30% of traffic on one user adds ~2 rows
    assert max(state_rows) <= 2 * n_keys, (max(state_rows), n_keys)
    assert removed > 0, "watermark eviction never ran"


@pytest.mark.fuzz
@pytest.mark.parametrize("seed", range(6))
def test_bucketed_interval_join_fuzz_matches_python_reference(spark, seed):
    """Randomized differential spec for skew.bucketed_interval_join: on
    random corpora whose timestamp grid INCLUDES exact-horizon deltas
    (cts == pts − horizon is the boundary where the right row's bucket
    is exactly pb − 1 — the edge the ×2 left replication must cover),
    the rewrite must reproduce a pure-Python O(n²) reference of the
    interval predicate bit-for-bit, across several horizons. Also pins
    the plan shape once: equi-join, never a cartesian. Odd seeds anchor
    the corpus just BEFORE the epoch so timestamps straddle unix time 0
    (negative seconds) — the sign regime where truncating division
    would disagree with the floor bucketing the rewrite relies on
    (ADVICE r17)."""
    import datetime
    import random

    from gasket_rs_spark.operators.skew import bucketed_interval_join

    rng = random.Random(7000 + seed)
    horizon = rng.choice([1, 7, 60, 3600])  # 1 = bucket-per-second edge
    t0 = (
        datetime.datetime(1969, 12, 31, 23, 59)
        if seed % 2
        else datetime.datetime(2024, 3, 1)
    )
    steps = [0, 1, horizon // 2, horizon - 1, horizon, horizon + 1,
             2 * horizon]

    def gen(side_tag: str):
        rows = []
        eid = 0
        for user in range(rng.randint(1, 4)):
            t = rng.randint(0, horizon)
            for _ in range(rng.randint(3, 20)):
                t += rng.choice(steps)
                rows.append((user, eid, t))
                eid += 1
        return rows

    clicks, purchases = gen("c"), gen("p")
    expected = {
        (pe, ce)
        for pu, pe, pt in purchases
        for cu, ce, ct in clicks
        if pu == cu and pt - horizon <= ct <= pt
    }

    to_ts = lambda s: t0 + datetime.timedelta(seconds=s)  # noqa: E731
    c = spark.createDataFrame(
        [(u, e, to_ts(s)) for u, e, s in clicks],
        "user_id bigint, click_id bigint, cts timestamp",
    )
    p = spark.createDataFrame(
        [(u, e, to_ts(s)) for u, e, s in purchases],
        "user_id bigint, purchase_id bigint, pts timestamp",
    )
    joined = bucketed_interval_join(p, c, "user_id", "pts", "cts", horizon)
    got = {(r["purchase_id"], r["click_id"]) for r in joined.collect()}
    assert got == expected, (seed, horizon, got ^ expected)
    if seed == 0:
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


@pytest.mark.fuzz
def test_aqe_skew_join_splits_hot_partition(spark, sliced_stage_dir):
    """session.py enables spark.sql.adaptive.skewJoin — this pin EXECUTES
    it on the 30%-hot-user corpus: a fact-fact sort-merge join keyed on
    user_id must come out of AQE with the hot partition SPLIT
    (``SortMergeJoin(skew=true)`` + ``AQEShuffleRead skewed`` in the
    final plan; BOTH sides are skewed on the same partition here and
    Spark splits both) and the split must be answer-invariant (pair
    count == the per-user clicks×purchases product sum, computed by an
    independent aggregate-only plan).

    Two detection blind spots, found while building this pin and worth
    the documentation (full notes in SCALE.md r18):

    1. COMPRESSED sizes: OptimizeSkewedJoin reads compressed map-output
       bytes. If column pruning leaves only the join key on the skewed
       side, the hot partition is millions of IDENTICAL key values —
       lz4 crushes it to ~1 byte/row and the detector sees NO skew
       (measured: a 1.6M-row hot partition reporting 377 KB vs 200 KB
       cold siblings). The per-row md5 pad here survives into the
       post-join aggregate precisely so shuffled bytes reflect the
       row-count skew; a key-only shuffle can hide arbitrarily large
       row-count skew from AQE.
    2. MAP-TASK granularity: the split unit is the mapper's chunk of
       the reduce partition. A hot partition whose entire stage input
       was ONE map task (single parquet file / single row group — the
       one-file zipf fixture) reports "0 skewed partitions" no matter
       how large it is, because there is no boundary to split at. This
       test therefore reads the 8-slice layout (8 mappers); a 100 TB
       shuffle always has many mappers, but single-file fixtures hide
       the behavior entirely.

    Thresholds are lowered in-test because the corpus is ~MB-scale;
    production defaults (256 MB / factor 5) encode the same criterion."""
    events = spark.read.parquet(sliced_stage_dir)
    pad = F.md5(F.col("event_id").cast("string"))
    clicks = events.where(F.col("event_type") == "click").select(
        "user_id", pad.alias("cpad"))
    purch = events.where(F.col("event_type") == "purchase").select(
        "user_id", pad.alias("ppad"))

    confs = {
        # force a fact-fact SMJ (planner AND AQE runtime broadcast off)
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        # corpus-scale skew thresholds; same criterion as the 256MB/5x
        # production defaults
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        joined = clicks.join(purch, "user_id").agg(
            F.count("*").alias("n_pairs"),
            # the pads must SURVIVE pruning into the shuffle (see above)
            F.max("cpad").alias("c_max"),
            F.max("ppad").alias("p_max"),
        )
        row = joined.collect()[0]
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # the definitive marker; the AQEShuffleRead suffix ("skewed" /
        # "coalesced and skewed") renders inconsistently across plan
        # printouts, so don't pin it
        assert "SortMergeJoin(skew=true)" in plan, plan[:3000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

    # answer-invariance of the split: independent aggregate-only plan
    per_user = events.groupBy("user_id").agg(
        F.sum((F.col("event_type") == "click").cast("long")).alias("nc"),
        F.sum((F.col("event_type") == "purchase").cast("long")).alias("np"),
    )
    expected = per_user.agg(
        F.sum(F.col("nc") * F.col("np")).alias("t")
    ).collect()[0]["t"]
    assert row["n_pairs"] == expected, (row["n_pairs"], expected)


def test_bucketed_interval_join_guards(spark):
    """ADVICE r17 skew.py:108 — the temp bucket column must not clobber a
    caller's own ``_tb`` column, and same-name timestamp columns are
    rejected up front (the residual predicate references both sides by
    name, which would otherwise fail with an ambiguous-reference error
    deep inside the plan)."""
    import datetime

    from gasket_rs_spark.operators.skew import bucketed_interval_join

    ts = lambda s: datetime.datetime(2024, 3, 1) + datetime.timedelta(  # noqa: E731
        seconds=s
    )
    left = spark.createDataFrame(
        [(1, 10, ts(100), "keep-left")],
        "user_id bigint, purchase_id bigint, pts timestamp, _tb string",
    )
    right = spark.createDataFrame(
        [(1, 20, ts(40))], "user_id bigint, click_id bigint, cts timestamp"
    )
    out = bucketed_interval_join(left, right, "user_id", "pts", "cts", 60)
    rows = out.collect()
    assert [(r["purchase_id"], r["click_id"]) for r in rows] == [(10, 20)]
    # the caller's _tb column survives with its value intact
    assert rows[0]["_tb"] == "keep-left"

    with pytest.raises(ValueError, match="distinct column names"):
        bucketed_interval_join(left.drop("_tb"), right, "user_id", "pts",
                               "pts", 60)


@pytest.mark.fuzz
def test_stream_join_checkpoint_restart_exactly_once(spark, sliced_stage_dir,
                                                     zipf_sf_dir):
    """X33/R18 restart edge for the stream-stream JOIN family under
    skew: hard-stop the sliced hot-user replay mid-stream, restart from
    the same checkpoint, and the union of per-batch emissions must equal
    the batch join's pair set exactly — no loss, no double-count. The
    decisive assertion is the CROSS-BOUNDARY pairs: clicks that arrived
    before the stop matching purchases that arrived after it can only
    emit if the JOIN STATE STORE (not just source offsets) survived the
    restart."""
    import shutil
    import tempfile
    import time

    from gasket_rs_spark.streaming.stream import interval_join_streams
    from gasket_rs_spark.tables import _normalize_ts

    raw_schema = spark.read.parquet(sliced_stage_dir).schema

    def side(event_type: str):
        s = (
            spark.readStream.schema(raw_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(sliced_stage_dir)
        )
        s = s.withColumn("ts", _normalize_ts(raw_schema["ts"].dataType))
        return s.where(F.col("event_type") == event_type)

    # keyed by batch_id: a replayed interrupted batch overwrites its own
    # entry — the idempotence a real per-batch sink provides
    seen: dict[int, set] = {}

    def sink(batch_df, batch_id):
        seen[batch_id] = {
            (r["purchase_id"], r["click_id"]) for r in batch_df.collect()
        }

    ckpt = tempfile.mkdtemp(prefix="gasket-ssj-restart-ckpt-")

    def start():
        joined = interval_join_streams(side("click"), side("purchase"),
                                       "1 hour")
        return (
            joined.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    try:
        q = start()
        deadline = time.time() + 120
        while len(seen) < 2 and time.time() < deadline:
            time.sleep(0.05)
        q.stop()
        q.awaitTermination(60)
        n_before = len(seen)
        assert n_before >= 1, "nothing processed before the stop"

        q2 = start()
        assert q2.awaitTermination(300)
        assert len(seen) > n_before, "no batches processed after restart"

        got = set().union(*seen.values())
        assert got == _batch_pairs(spark, zipf_sf_dir)

        # cross-boundary premise: some emitted pair's click arrived in a
        # pre-stop batch and its purchase in a post-restart batch. Slices
        # are id-ranged (per = N/8), clicks even ids / purchases odd, so
        # the slice of an event is id // per; pairs spanning the stop
        # batch index prove the restored join state matched them.
        per = N_ROWS // N_SLICES
        cross = [
            (pid, cid)
            for pid, cid in got
            if cid // per < n_before <= pid // per
        ]
        assert cross, (n_before, len(got))
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


@pytest.mark.fuzz
def test_asof_join_strategies_agree_under_skew(spark, tmp_path):
    """(a) for the AS-OF join family (X9) — the last join family without
    a direct skew twin: the JVM union+window strategy
    (relational.q_asof_join — the hot user becomes ONE 7,200-row window
    sort partition) and the cogrouped-pandas strategy
    (udf.q_asof_join_cogrouped — the hot user becomes ONE pandas group)
    must return bit-identical results on an adversarial corpus that is
    both 30%-hot AND dense in same-second click↔purchase collisions
    (ts = BASE + (id div 2)·STEP pairs every even click with the next
    odd purchase at the SAME second — the exact-match boundary both
    strategies pin: kind-ordering in the window, allow_exact_matches in
    merge_asof). Two independent execution strategies agreeing on every
    boundary row under skew is the as-of analogue of the r16 window
    cross-check."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gasket_rs_spark.functions.udf import q_asof_join_cogrouped
    from gasket_rs_spark.operators.relational import q_asof_join

    n = 24_000
    ids = np.arange(n, dtype=np.int64)
    hot = (ids % 10) < 3
    cold_user = 1 + ((ids * 2654435761) % (2**32)) % N_COLD_USERS
    user = np.where(hot, HOT_USER, cold_user).astype(np.int64)
    # id div 2 → every click (even id) shares its second with the next
    # purchase (odd id); hot ids 10k/10k+1 are a same-second hot pair
    ts_us = (BASE_S + (ids // 2) * STEP_S) * 1_000_000
    etype = np.where(ids % 2 == 0, "click", "purchase")
    table = pa.table(
        {
            "event_id": pa.array(ids, pa.int64()),
            "ts": pa.array(ts_us, pa.timestamp("us")),
            "user_id": pa.array(user, pa.int64()),
            "event_type": pa.array(etype.tolist(), pa.string()),
            "value": pa.array((ids % 1000) / 10.0, pa.float64()),
            "props": pa.array(["{}"] * n, pa.string()),
        }
    )
    d = str(tmp_path / "asof-skew-sf")
    os.makedirs(d)
    pq.write_table(table, os.path.join(d, "events.parquet"))

    key = lambda t: tuple(-1 if v is None else v for v in t)  # noqa: E731
    jvm = sorted(map(tuple, q_asof_join(spark, d).collect()), key=key)
    cog = sorted(map(tuple, q_asof_join_cogrouped(spark, d).collect()),
                 key=key)
    assert jvm == cog
    # premise: the hot user owns 30% of the purchases, and every one of
    # its purchases found a click (its click stream is dense)
    hot_rows = [r for r in jvm if r[1] == HOT_USER]
    assert len(hot_rows) == int(n * 0.1)  # 1 of every 10 ids
    assert all(r[3] is not None for r in hot_rows)
    # the same-second boundary is actually exercised: hot purchases at
    # id 10k+1 match the same-second click 10k (exact match, not the
    # previous second's) — check a structural consequence: every hot
    # purchase's matched click_sec equals its own purchase_sec
    assert all(r[4] == r[2] for r in hot_rows)


@pytest.mark.fuzz
def test_bucketed_interval_join_bounds_shuffle_under_skew(spark, zipf_sf_dir):
    """(c) the batch-shape SHUFFLE bound, measured at two layouts, plus
    answer-invariance of the mitigation: hash-partitioned on the bare
    user key the hot user's click rows form one indivisible straggler
    partition (measured ≥ its 4 800 rows); keyed on
    (user, floor(ts/horizon)) — skew.bucketed_interval_join's equi-key —
    the max partition collapses toward the median, because the
    indivisible unit is now bounded by the key's hourly RATE (~33 rows),
    not its total volume. The rewrite must return exactly the plain
    join's pairs."""
    from gasket_rs_spark.operators.skew import bucketed_interval_join

    c, p = _batch_sides(spark, zipf_sf_dir)
    c = c.withColumnRenamed("cu", "user_id")
    p = p.withColumnRenamed("pu", "user_id")

    got = {
        (r["purchase_id"], r["click_id"])
        for r in bucketed_interval_join(
            p, c, "user_id", "pts", "cts", HORIZON_S
        ).collect()
    }
    assert got == _batch_pairs(spark, zipf_sf_dir)

    def partition_sizes(df, *cols):
        rows = (
            df.repartition(N_PARTS, *[F.col(x) for x in cols])
            .groupBy(F.spark_partition_id().alias("pid"))
            .agg(F.count("*").alias("cnt"))
            .collect()
        )
        return sorted(r["cnt"] for r in rows)

    hot_clicks = c.where(F.col("user_id") == HOT_USER).count()
    assert hot_clicks == int(N_ROWS * HOT_SHARE * 2 / 3)  # 2 of 3 hot slots

    unbucketed = partition_sizes(c, "user_id")
    # the straggler, measured: one partition carries the whole hot user
    # (plus co-hashed cold users)
    assert max(unbucketed) >= hot_clicks

    bucketed = c.withColumn(
        "_tb", F.expr(f"unix_seconds(cts) div {HORIZON_S}").cast("long")
    )
    sizes = partition_sizes(bucketed, "user_id", "_tb")
    median = sizes[len(sizes) // 2]
    # hot cells are ~33 rows over 720 buckets — cells << bins, so unlike
    # the r16 salted layout there is no clumping: max/median stays small
    assert max(sizes) <= 2 * median, (max(sizes), median, sizes)
    # and the straggler shrank by an order of magnitude
    assert max(sizes) * 5 < max(unbucketed), (max(sizes), max(unbucketed))

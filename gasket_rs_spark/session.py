"""SparkSession construction with scale-oriented defaults.

The driver hands us its own session for ``queries()``; this builder is used
by tests and ``bench.py``. Settings are chosen for the 100 TB design target
(AQE on, skew-join handling, sane shuffle parallelism) while remaining
correct on local[N].
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import SparkSession


def _scratch_dir(prefix: str) -> str:
    """mkdtemp + atexit removal — session-scoped scratch never outlives
    the interpreter (ADVICE r7 hygiene)."""
    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def get_session(app_name: str = "gasket_rs_spark", cpus: int | None = None) -> SparkSession:
    # Before the JVM exists: export the system protobuf runtime onto
    # PYTHONPATH so JVM-spawned Python workers (the
    # transformWithStateInPandas state server) can import it. Must happen
    # pre-launch — workers inherit the JVM's env, which inherits ours at
    # JVM start. Idempotent, no-op if protobuf already importable.
    from gasket_rs_spark.compat import enable_system_protobuf

    enable_system_protobuf()
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # Deterministic timestamp semantics for the DuckDB differential oracle.
        .config("spark.sql.session.timeZone", "UTC")
        # AQE: runtime join-strategy switch, partition coalescing, skew splits.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Shuffle parallelism sized to local cores; on a real cluster this
        # would be ~2-3x total executor cores and AQE coalesces down.
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        # Arrow for the pandas-UDF paths (vectorized Python interchange).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Dimension tables (region/nation/customer/supplier/part at test SF)
        # stay under this; fact-fact joins still sort-merge.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Managed-table warehouse (bucketed tables in tests) goes to scratch,
        # never into the repo working tree.
        .config("spark.sql.warehouse.dir", _scratch_dir("gasket-warehouse-"))
    )
    return builder.getOrCreate()


def clear_caches(spark: SparkSession) -> None:
    """Drop every persisted DataFrame in the session.

    The operators never persist: every shared frame goes through
    ``store.materialize``, whose checkpoint blocks the ContextCleaner
    frees once the frame is dereferenced, so this mostly guards ad-hoc
    persists by callers and the bench's pass isolation (CacheManager
    dedups identical plans, which would otherwise turn bench passes 2-3
    into warm-cache reads of any cached frame). At 100 TB the equivalent
    lever is an explicit unpersist policy per pipeline stage, not
    session-lifetime LRU.
    """
    spark.catalog.clearCache()

"""gasket_rs_spark.grid against DuckDB, bit for bit.

The oracle SQL spells the half-up grid as ``floor(x*s+0.5)/s`` and
``CAST(floor(x*s+0.5) AS BIGINT)``; ``snap`` and ``units`` must give the
same doubles and integers on exact half-grid ties of both signs, zero,
and seeded random doubles."""

from __future__ import annotations

import random
import struct

import duckdb
import pytest
from pyspark.sql import functions as F

from gasket_rs_spark.grid import snap, units

_SCALES = {2: 1e2, 4: 1e4, 6: 1e6, 9: 1e9}


def _inputs(k: int) -> list[float]:
    # (2j+1) * 2^-(k+1) times 10^k is an odd multiple of 0.5, computed
    # exactly: a true half-grid tie at scale 10^k (0.125 at 1e2).
    ties = [(2 * j + 1) * 2.0 ** -(k + 1) for j in range(4)]
    rng = random.Random(20 + k)
    wide = [rng.uniform(-1000.0, 1000.0) for _ in range(40)]
    narrow = [rng.uniform(-1.0, 1.0) for _ in range(40)]
    return [0.0, -0.0] + ties + [-t for t in ties] + wide + narrow


def _bits(v: float) -> bytes:
    return struct.pack("<d", v)


@pytest.mark.parametrize("k", sorted(_SCALES))
def test_snap_and_units_match_duckdb_bit_for_bit(spark, k):
    scale = _SCALES[k]
    xs = _inputs(k)
    rows = (
        spark.createDataFrame(list(enumerate(xs)), "i bigint, x double")
        .select(
            "i",
            snap(F.col("x"), scale).alias("s"),
            units(F.col("x"), scale).alias("u"),
        )
        .orderBy("i")
        .collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i BIGINT, x DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(xs)))
    want = con.execute(
        f"SELECT i, floor(x * 1e{k} + 0.5) / 1e{k} AS s,"
        f" CAST(floor(x * 1e{k} + 0.5) AS BIGINT) AS u FROM t ORDER BY i"
    ).fetchall()
    assert len(rows) == len(want) == len(xs)
    for r, (i, s, u) in zip(rows, want):
        assert r["i"] == i
        assert _bits(r["s"]) == _bits(s), (xs[i], r["s"], s)
        assert r["u"] == u and isinstance(r["u"], int), (xs[i], r["u"], u)
    # the ties really sit on the half grid, and round half up
    assert rows[2]["u"] == int(xs[2] * scale) + 1
    assert rows[6]["u"] == -int(xs[2] * scale)


def test_units_scale_one_takes_col_as_counted(spark):
    """``units(col, 1)`` emits no multiply: floor(col + 0.5) as bigint."""
    df = spark.createDataFrame([(2.5,), (-2.5,), (7.49,)], "x double")
    out = df.select(units(F.col("x"), 1).alias("u"))
    assert " * " not in out._jdf.queryExecution().analyzed().toString()
    assert [r.u for r in out.collect()] == [3, -2, 7]

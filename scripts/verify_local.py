"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet tables, then compares row count, column names,
and order-insensitive values (exact for ints/strings, tight tolerance for
floats so we notice any value the driver's hash could flip on).

Usage: python scripts/verify_local.py [sf_dir] [query ...]

``scripts/local_verify_sweep.py`` drives this across all three SFs and
commits the results as ``LOCALVERIFY_r{N}.json`` (VERDICT r9 #4) so the
evidence the 207-query catalog relies on between driver windows is
auditable, not just claimed.
"""

from __future__ import annotations

import math
import os
import sys
import time
import traceback

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from gasket_rs_spark.tables import TABLE_NAMES  # noqa: E402


def canon(v):
    """Canonicalize one cell for comparison."""
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, canon(x)) for k, x in v.items()))
    return v


def sort_key(row):
    return tuple((x is None, str(x)) for x in row)


def _driver_unsortable_columns(schema) -> list[str]:
    """Column names whose top-level type the driver's pandas canonicalizer
    cannot sort (ArrayType/MapType become Python lists/dicts → `TypeError:
    unhashable type` in sort_values). Struct columns arrive as tuples and
    sort fine; only arrays/maps are fatal."""
    from pyspark.sql.types import ArrayType, MapType

    return [
        f.name for f in schema.fields if isinstance(f.dataType, (ArrayType, MapType))
    ]


def rows_match(a, b) -> tuple[bool, str]:
    if len(a) != len(b):
        return False, f"row count {len(a)} vs {len(b)}"
    exact = True
    for i, (ra, rb) in enumerate(zip(a, b)):
        if len(ra) != len(rb):
            return False, f"row {i}: width {len(ra)} vs {len(rb)}"
        for va, vb in zip(ra, rb):
            if va == vb:
                if type(va) is not type(vb):
                    # same value, different python type (e.g. int vs float) —
                    # the driver's hash may stringify these differently.
                    exact = False
                continue
            if isinstance(va, (int, float)) and isinstance(vb, (int, float)):
                if math.isclose(float(va), float(vb), rel_tol=1e-9, abs_tol=1e-9):
                    exact = False
                    continue
            return False, f"row {i}: {ra!r} vs {rb!r}"
    return True, ("EXACT" if exact else "FLOAT-CLOSE (driver hash may flip!)")


def verify(spark, sf_dir: str, only: set[str] | None = None) -> dict[str, dict]:
    """Run the differential gate at one SF; return per-query results.

    Result rows: ``{"status": "EXACT" | "FLOAT-CLOSE" | "rows-only" |
    "FAIL", "rows": int | None, "detail": str, "sec": float}``.
    """
    import __spark_entry__ as entrymod

    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    results: dict[str, dict] = {}

    def record(name, status, rows, detail, t0):
        results[name] = {
            "status": status,
            "rows": rows,
            "detail": detail,
            "sec": round(time.time() - t0, 1),
        }

    for name, fn in sorted(qs.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            if name in oracles:
                # Driver parity: the driver canonicalizes via pandas
                # sort_values, which raises `TypeError: unhashable type:
                # 'list'` on any top-level array/map column (killed
                # array_ops in r1 and text_feature_hashing in r8). This
                # harness used to tuple-ize lists (the old canon() path)
                # and so could never catch that class — reject it here
                # instead of silently passing.
                bad = _driver_unsortable_columns(sdf.schema)
                if bad:
                    print(
                        f"FAIL  {name}: oracled witness exposes top-level "
                        f"array/map column(s) {bad} — the driver's pandas "
                        "canonicalizer cannot sort these; flatten "
                        "(array_join) or explode to rows"
                    )
                    record(name, "FAIL", None, f"unsortable columns {bad}", t0)
                    continue
            scols = sorted(sdf.columns)
            srows = [tuple(canon(r[c]) for c in scols) for r in sdf.collect()]
            srows.sort(key=sort_key)
        except Exception:
            print(f"FAIL  {name}: SPARK ERROR")
            traceback.print_exc()
            record(name, "FAIL", None, "spark error", t0)
            continue
        if name not in oracles:
            print(f"ok    {name}: rows-only ({len(srows)} rows, {time.time()-t0:.1f}s)")
            record(name, "rows-only", len(srows), "no oracle by design", t0)
            continue
        try:
            rel = con.execute(oracles[name])
            dcols_raw = [d[0] for d in rel.description]
            drows_raw = rel.fetchall()
        except Exception:
            print(f"FAIL  {name}: DUCKDB ERROR")
            traceback.print_exc()
            record(name, "FAIL", len(srows), "duckdb error", t0)
            continue
        dorder = sorted(range(len(dcols_raw)), key=lambda i: dcols_raw[i])
        dcols = [dcols_raw[i] for i in dorder]
        if scols != dcols:
            print(f"FAIL  {name}: columns {scols} vs {dcols}")
            record(name, "FAIL", len(srows), f"columns {scols} vs {dcols}", t0)
            continue
        drows = [tuple(canon(r[i]) for i in dorder) for r in drows_raw]
        drows.sort(key=sort_key)
        ok, detail = rows_match(srows, drows)
        status = "ok   " if ok else "FAIL "
        print(f"{status} {name}: {len(srows)} rows, {detail}, {time.time()-t0:.1f}s")
        record(
            name,
            ("EXACT" if detail == "EXACT" else "FLOAT-CLOSE") if ok else "FAIL",
            len(srows),
            detail,
            t0,
        )
        if not ok:
            for i, (ra, rb) in enumerate(zip(srows, drows)):
                if ra != rb:
                    print(f"   first diff at sorted row {i}:\n   spark : {ra}\n   duckdb: {rb}")
                    break
    con.close()
    return results


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from gasket_rs_spark.session import get_session

    spark = get_session("verify_local", cpus=8)
    results = verify(spark, sf_dir, only or None)
    failures = [n for n, r in results.items() if r["status"] == "FAIL"]
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())

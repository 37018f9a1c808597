"""Capture .explain('formatted') for the headline queries into
plans/r<N>/ where N = the upcoming round (max committed CORRECTNESS
round + 1, same derivation as bench.py's close-detail name).

Usage: python scripts/capture_plans.py before|after [--full] [query ...]

Writes plans/r<N>/<query>_<tag>.txt for each headline query (or the
named subset). Plans are captured at $SPARK_GRAFT_SF_DIR (default
sf0.1) — the same data the bench times — so Exchange counts / join
strategies / pushed filters in the files match the bench's plan shapes.

--full additionally writes <query>_<tag>_full.txt: the result plan,
then the plan of each DataFrame the query passed to localCheckpoint, in
call order, each under a ``== localCheckpoint #i (eager=...) ==``
header. A checkpoint truncates the visible result plan at a Scan
ExistingRDD (VERDICT r21 #4); the recorded inputs keep scan counts and
join strategies below every checkpoint auditable. The checkpoints still
run, so an iterative witness's plan stays bounded. Capture-script-only
wrapper of the concrete DataFrame class; operators are untouched.

Every file is written normalized: the session-global counters Spark
prints (expression ids ``name#<n>``, exchange ``plan_id=<n>``,
checkpoint ``RDD[<n>]``) are renumbered per file in order of first
appearance, and file_source_roundtrip's temp-dir name is blanked, so
two captures of the same tree compare equal file for file.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE  # noqa: E402


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def normalize(text: str) -> str:
    """Renumber the counters in ``text`` per kind, from 1 in order of
    first appearance (one id keeps one number throughout the file), and
    blank the round-trip temp dir. A ``#`` after a space is a section
    header's index, not an expression id, and is kept."""
    seen: dict[tuple[str, str], int] = {}
    kinds: dict[str, int] = {}

    def renumber(m: re.Match) -> str:
        key = m.groups()
        if key not in seen:
            seen[key] = kinds[key[0]] = kinds.get(key[0], 0) + 1
        return f"{key[0]}{seen[key]}"

    text = re.sub(r"((?<=\S)#|plan_id=|RDD\[)(\d+)", renumber, text)
    return re.sub(r"gasket_roundtrip_\w+", "gasket_roundtrip_<tmp>", text)


def main() -> None:
    tag = sys.argv[1]
    args = sys.argv[2:]
    full = "--full" in args
    names = [a for a in args if a != "--full"] or HEADLINE
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    from gen_registry_order import available_rounds

    rnd = max(available_rounds()) + 1
    out_dir = os.path.join(repo, "plans", f"r{rnd}")
    os.makedirs(out_dir, exist_ok=True)

    from gasket_rs_spark.registry import all_queries
    from gasket_rs_spark.session import get_session

    spark = get_session("gasket-plans")
    queries = all_queries()

    def write(name: str, suffix: str, text: str) -> None:
        with open(os.path.join(out_dir, f"{name}_{tag}{suffix}.txt"), "w") as f:
            f.write(normalize(text))
        print(f"wrote {name}_{tag}{suffix}.txt ({len(text)} chars)")

    # patch the CONCRETE class (Spark 4: pyspark.sql.classic.dataframe
    # .DataFrame overrides the pyspark.sql.DataFrame base's method, so
    # patching the base is a silent no-op)
    cls = type(spark.range(1))
    orig = cls.localCheckpoint
    inputs: list[str] = []

    def recording(self, eager=True, storageLevel=None):
        inputs.append(
            f"== localCheckpoint #{len(inputs) + 1} (eager={eager}) ==\n"
            + _formatted(self)
        )
        return orig(self, eager, storageLevel)

    if full:
        cls.localCheckpoint = recording  # type: ignore[method-assign]
    try:
        for name in names:
            inputs.clear()
            plan = _formatted(queries[name](spark, sf_dir))
            write(name, "", plan)
            if full:
                write(name, "_full", "\n".join([plan, *inputs]))
    finally:
        cls.localCheckpoint = orig  # type: ignore[method-assign]
    spark.stop()


if __name__ == "__main__":
    main()

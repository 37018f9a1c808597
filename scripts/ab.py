"""Interleaved A/B of one command on two git revisions.

    python3 scripts/ab.py [--rounds N] [--metric NAME] REV_A REV_B -- CMD...

A REV is a revision, checked out detached into a temporary worktree that
is removed at exit (also on an error, SIGTERM or Ctrl-C), or ``.`` for
the working tree. Round i runs A first when i is even, B first when it
is odd. CMD runs with the arm's tree as cwd and first on PYTHONPATH;
``{round}`` in CMD becomes i, and ``{ab}`` this file's path, so that
revisions older than this script can run its ``time`` mode.

CMD's last stdout line is read in perfbench's result shape (``correct``,
``failed``, ``metrics.<NAME>.value``; lower is better). A run that is
not correct, or a round whose arms print different ``digest`` fields,
aborts the A/B. The JSON summary gives each arm's median and quartiles,
B's wins (ties count for neither side), the median gap against A's IQR,
the failures, and ``gain``: at least 10 pairs ran, B won 9 of 10 of
them, the gap exceeds A's IQR and B failed no more often than A.

``python3 scripts/ab.py time --sf SF_DIR NAME...`` is the CMD for
catalog queries: bench.py's warm-up and one timing pass, then each
output collected once for ``digest``, the sha256 of its sorted rows.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib.util
import json
import os
import signal
import statistics
import subprocess
import sys
import tempfile

HERE = os.path.abspath(__file__)


def summarize(a: list[float], b: list[float], a_failed: int, b_failed: int) -> dict:
    """Pairwise statistics of A (parent) against B (change), lower is better."""

    def arm(values: list[float], failed: int) -> dict:
        q = (statistics.quantiles(values, n=4, method="inclusive")
             if len(values) > 1 else values * 3)
        return {"values": values, "median": q[1], "q1": q[0], "q3": q[2],
                "failed": failed}

    sa, sb = arm(a, a_failed), arm(b, b_failed)
    b_wins = sum(y < x for x, y in zip(a, b))
    a_wins = sum(x < y for x, y in zip(a, b))
    gap, a_iqr = sa["median"] - sb["median"], sa["q3"] - sa["q1"]
    return {
        "a": sa, "b": sb, "pairs": len(a), "b_wins": b_wins, "a_wins": a_wins,
        "ties": len(a) - b_wins - a_wins, "gap": gap, "a_iqr": a_iqr,
        "gain": len(a) >= 10 and 10 * b_wins >= 9 * len(a) and gap > a_iqr
        and b_failed <= a_failed,
    }


def run_arm(cmd: list[str], tree: str, rnd: int) -> dict:
    """Run CMD in ``tree`` and parse its last stdout line."""
    argv = [c.replace("{round}", str(rnd)).replace("{ab}", HERE) for c in cmd]
    path = os.pathsep.join(p for p in (tree, os.environ.get("PYTHONPATH")) if p)
    # Its own session, so an interrupted run takes its whole process tree
    # (a Spark JVM included) down with it.
    proc = subprocess.Popen(
        argv, cwd=tree, env=dict(os.environ, PYTHONPATH=path), text=True,
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, start_new_session=True,
    )
    try:
        out, err = proc.communicate()
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise SystemExit(
            f"ab: {argv} in {tree} exited {proc.returncode}:\n{err[-3000:]}"
        )
    return json.loads(lines[-1])


def git(*args: str, check: bool = True) -> str:
    return subprocess.run(
        ["git", *args], check=check, capture_output=True, text=True
    ).stdout.strip()


def ab(revs: dict[str, str], metric: str, rounds: int, cmd: list[str]) -> dict:
    top = git("rev-parse", "--show-toplevel")
    shas = {
        arm: git("rev-parse", "--verify", ("HEAD" if rev == "." else rev) + "^{commit}")
        for arm, rev in revs.items()
    }
    values: dict[str, list[float]] = {"a": [], "b": []}
    failed = {"a": 0, "b": 0}
    with tempfile.TemporaryDirectory(prefix="ab-") as tmp:
        trees = {}
        try:
            for arm, rev in revs.items():
                trees[arm] = top if rev == "." else os.path.join(tmp, arm)
                if rev != ".":
                    git("-C", top, "worktree", "add", "--detach", trees[arm], shas[arm])
            for rnd in range(rounds):
                res = {}
                for arm in ("a", "b") if rnd % 2 == 0 else ("b", "a"):
                    res[arm] = r = run_arm(cmd, trees[arm], rnd)
                    if r.get("correct") is not True:
                        raise SystemExit(
                            f"ab: round {rnd} arm {arm} is not correct: {r}"
                        )
                    values[arm].append(float(r["metrics"][metric]["value"]))
                    failed[arm] += int(r.get("failed", 0))
                    print(f"ab: round {rnd} {arm} {metric}={values[arm][-1]}",
                          file=sys.stderr, flush=True)
                digests = [res[arm].get("digest") for arm in ("a", "b")]
                if digests[0] != digests[1]:
                    raise SystemExit(f"ab: round {rnd}: outputs differ {digests}")
        finally:
            for tree in trees.values():
                if tree != top:
                    git("-C", top, "worktree", "remove", "--force", tree, check=False)
            git("-C", top, "worktree", "prune", check=False)
    summary = summarize(values["a"], values["b"], failed["a"], failed["b"])
    for arm, rev in revs.items():
        summary[arm] = {"rev": rev, "sha": shas[arm], **summary[arm]}
    return {"metric": metric, **summary}


def _package_file(_) -> str:
    import gasket_rs_spark

    return gasket_rs_spark.__file__


def _require_under_cwd(path: str, where: str) -> None:
    if not os.path.realpath(path).startswith(os.path.realpath(os.getcwd()) + os.sep):
        raise SystemExit(
            f"ab time: the {where} imports gasket_rs_spark from {path}, not from cwd"
        )


def time_queries(argv: list[str]) -> None:
    p = argparse.ArgumentParser(prog="ab.py time")
    p.add_argument("--sf", required=True, help="scale-factor directory")
    p.add_argument("names", nargs="+", help="catalog query names")
    args = p.parse_args(argv)
    sys.path.insert(0, os.getcwd())
    _require_under_cwd(_package_file(None), "driver")
    # bench.py of this checkout, whatever revision cwd holds.
    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(os.path.dirname(os.path.dirname(HERE)), "bench.py"))
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    from gasket_rs_spark.registry import all_queries
    from gasket_rs_spark.session import get_session

    spark = get_session("gasket-ab")
    worker = spark.sparkContext.parallelize([0], 1).map(_package_file).first()
    _require_under_cwd(worker, "Spark worker")
    queries = all_queries()
    bench._warm_up(spark, queries)
    times, load = bench._time_pass(
        spark, queries, args.names, args.sf, bench._PassMeter(), "ab"
    )
    digest = hashlib.sha256()
    for name in args.names:
        rows = sorted(repr(tuple(r)) for r in queries[name](spark, args.sf).collect())
        digest.update("\n".join([name, str(len(rows)), *rows, ""]).encode())
    spark.stop()
    print(json.dumps({
        "correct": True, "attempted": len(args.names), "failed": 0,
        "metrics": {n: {"value": round(t, 3), "unit": "s"} for n, t in times.items()},
        "digest": digest.hexdigest(), "pass_load": load,
    }))


def main(argv: list[str]) -> None:
    if argv[:1] == ["time"]:
        return time_queries(argv[1:])
    p = argparse.ArgumentParser(
        usage="ab.py [--rounds N] [--metric NAME] REV_A REV_B -- CMD..."
    )
    p.add_argument("--rounds", type=int, default=10)
    p.add_argument("--metric", default="pass_s")
    p.add_argument("rev_a")
    p.add_argument("rev_b")
    split = argv.index("--") if "--" in argv else len(argv)
    args, cmd = p.parse_args(argv[:split]), argv[split + 1:]
    if not cmd or args.rounds < 1:
        p.error("need a CMD after -- and --rounds >= 1")
    # Both unwind through the worktree cleanup, even when this process was
    # started with SIGINT ignored (a background job).
    signal.signal(signal.SIGINT, signal.default_int_handler)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    summary = ab({"a": args.rev_a, "b": args.rev_b}, args.metric, args.rounds, cmd)
    print(json.dumps(summary, indent=1))


if __name__ == "__main__":
    main(sys.argv[1:])

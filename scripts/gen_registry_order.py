"""Generate the query-catalog emission order from verification history.

Policy (mechanical — no hand-picked names): external correctness checks
may cover only a prefix of the catalog, so the catalog is emitted in
*evidence-validity* order to maximize the information each round's check
produces and to guarantee full-catalog rotation across rounds:

1. primary key — current evidence validity (rank):
   - 0: last check FAILED (hash mismatch) — re-verify first;
   - 1: green AND unchanged but the driver evidence is OLDER than
     AGE_CAP rounds — the round-10 age cap (VERDICT r9 #5): with a
     200+ query catalog and a 50-entry driver window, queries in
     *stable* modules were sitting un-rechecked indefinitely (R5-R14
     last driver-checked round 2 as of round 9); promoting them ahead
     of changed-module re-checks bounds worst-case driver-evidence age
     at ~AGE_CAP+catalog/WINDOW rounds;
   - 2: no currently-valid evidence — never checked, or green but the
     implementing module's code (``code_fingerprint``) changed since the
     checked snapshot commit (a green row for code that no longer exists
     proves nothing);
   - 3: green AND unchanged, within the age cap — the old evidence
     still holds verbatim and is recent enough.
2. within rank 2 only — ORACLE-UPGRADED entries first (r19, VERDICT
   r18 #2): a witness whose LATEST driver check recorded
   ``err == "no_oracle"`` (rows-only) but which NOW registers an
   oracle_sql() entry is making a strictly stronger claim
   (rows+schema+value-hash) that has never been driver-tested at all —
   not merely re-validating changed code. Mechanical: derived from the
   committed CORRECTNESS history plus the current registry's oracle
   map (and adding an oracle edits the witness's module, so an
   upgraded entry is always rank 2 — the subkey never perturbs the
   other classes);
3. within a (validity, upgraded) class: last-checked round, oldest
   first (never-checked sorts before round 1) — this is the rotation
   that ages out even valid evidence over time;
4. ties: query name (deterministic).

Rationale for validity-before-age (changed from age-before-validity
after round 2): a query whose code changed since its green check has NO
standing evidence and must outrank a green-unchanged query whose older
evidence is still literally valid — otherwise a prefix-limited checker
spends its budget re-proving what is already proven while changed code
goes unchecked. The AGE_CAP class is the bounded exception: evidence
older than AGE_CAP rounds is valid but geologically so, and one window
slot per such query per ~6 rounds is cheap insurance against silent
environment drift (driver harness, Spark/DuckDB versions, testdata
regeneration) that module-content hashing cannot see.

Inputs are all committed artifacts: ``CORRECTNESS_r*.json`` (driver
output) and git history (module content at each round's snapshot commit).
Re-running this script reproduces ``gasket_rs_spark/registry_order.py``
byte-for-byte at the same repo state — the order is derived, not curated.

Run after any round's correctness results land, and again before the
end-of-round commit so module-change staleness reflects the final code:

    python scripts/gen_registry_order.py
"""

from __future__ import annotations

import ast
import glob
import hashlib
import json
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# Max driver-evidence age (in rounds) before a green-and-unchanged query
# is promoted ahead of changed-module re-checks (rank 3 -> 1). Age is
# measured against the UPCOMING round (max recorded round + 1) — the
# round whose window the generated order feeds.
AGE_CAP = 6

# Steady-state HARD bound on driver-evidence age (VERDICT r12 #2),
# enforced by scripts/round_close.py once the never-checked backlog is
# gone: no witness may close a round with driver evidence older than
# this many rounds. Derivation: a witness promoted at age AGE_CAP + 1
# (= 7, rank 1, sorts ahead of every no-evidence entry) lands in that
# round's 50-entry window and is re-checked the same round; one round of
# rank-0/rank-1 window overflow is the only way it slips, giving a
# worst normal-operation age of AGE_CAP + 2 = 8 — which also equals the
# full-catalog refresh period ceil(353/50). Age 9+ therefore means the
# rotation itself is broken (or witness production outran the window)
# and the close must fail, not note it.
MAX_DRIVER_AGE = 8


def _round_snapshot_commits() -> dict[int, str]:
    """Map round number -> commit whose tree the driver verified.

    The driver commits each round as ``round N: end-of-round snapshot``
    followed by ``round N: verdict/advice/correctness/bench``; the code it
    checked is the snapshot commit (the verdict commit's parent).
    """
    log = subprocess.run(
        ["git", "-C", REPO, "log", "--format=%H %s"],
        capture_output=True, text=True, check=True,
    ).stdout
    out: dict[int, str] = {}
    for line in log.splitlines():
        sha, _, subject = line.partition(" ")
        m = re.match(r"round (\d+): verdict", subject)
        if m:
            parent = subprocess.run(
                ["git", "-C", REPO, "rev-parse", f"{sha}~1"],
                capture_output=True, text=True, check=True,
            ).stdout.strip()
            out[int(m.group(1))] = parent
    return out


def code_fingerprint(source: str) -> str:
    """sha256 of a module's code: its AST dump with the module, class and
    function docstrings removed. Comment-, docstring- and layout-only
    edits keep the fingerprint; any code edit changes it, including an
    edit to another string constant such as an oracle's SQL."""
    tree = ast.parse(source)
    for node in ast.walk(tree):
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ) and ast.get_docstring(node, clean=False) is not None:
            node.body = node.body[1:] or [ast.Pass()]
    return hashlib.sha256(ast.dump(tree).encode()).hexdigest()


def _module_changed_since(module_relpath: str, commit: str) -> bool:
    """True if the module's code (``code_fingerprint``) differs from its
    state at commit."""
    old = subprocess.run(
        ["git", "-C", REPO, "show", f"{commit}:{module_relpath}"],
        capture_output=True, text=True,
    )
    if old.returncode != 0:  # file didn't exist at that commit
        return True
    with open(os.path.join(REPO, module_relpath)) as f:
        return code_fingerprint(f.read()) != code_fingerprint(old.stdout)


def available_rounds() -> list[int]:
    """Round numbers of every CORRECTNESS_r*.json present in the repo."""
    return sorted(
        int(re.search(r"r(\d+)\.json$", p).group(1))
        for p in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))
    )


def order_key(
    meta_entry: tuple[int, int, bool], name: str
) -> tuple[int, int, int, str]:
    """The one sort key both the generator and check_rotation.py use:
    (rank, upgraded-within-rank-2-first, last-checked oldest-first,
    name). Factored so the window-coverage check can never drift from
    the generator's actual ordering."""
    rank, last, upgraded = meta_entry
    return (rank, 0 if (rank == 2 and upgraded) else 1, last, name)


def compute_order(
    rounds: set[int] | None = None,
) -> tuple[list[str], dict[str, tuple[int, int, bool]]]:
    """Derive the evidence-staleness order from committed artifacts.

    ``rounds`` restricts which CORRECTNESS_r*.json files feed the
    derivation (None = all present). ``check_rotation.py`` passes the
    ROUNDS recorded in the generated file so that a *new* driver artifact
    drop alone never invalidates the committed order — only module edits
    or hand-tampering do.

    Returns ``(order, meta)`` where ``meta[name] = (rank, last_round,
    oracle_upgraded)`` with rank 0=failed-last-check,
    1=green-and-unchanged-but-over-age-cap, 2=no-valid-evidence (never
    checked or module changed since the checked snapshot),
    3=green-and-unchanged-within-cap; last_round = -1 for never-checked
    queries; oracle_upgraded = the latest check was rows-only
    (err == "no_oracle") but the current registry has an oracle — the
    untested-stronger-claim cohort that fronts rank 2.
    """
    from gasket_rs_spark.registry import collect_raw

    queries, oracles = collect_raw()

    # Per-query verification history from every committed correctness file.
    last_checked: dict[str, int] = {}
    last_green: dict[str, bool] = {}
    last_rows_only: dict[str, bool] = {}
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"r(\d+)\.json$", path).group(1))
        if rounds is not None and rnd not in rounds:
            continue
        with open(path) as f:
            results = json.load(f)
        for name, row in results.items():
            if name not in queries:
                continue
            if rnd >= last_checked.get(name, -1):
                last_checked[name] = rnd
                # rows-only checks (err == no_oracle) count as green: that
                # is the strongest check those queries can receive.
                last_green[name] = bool(
                    row.get("hash_match") or row.get("err") == "no_oracle"
                )
                last_rows_only[name] = row.get("err") == "no_oracle"

    snapshots = _round_snapshot_commits()
    changed_cache: dict[tuple[str, str], bool] = {}
    considered = rounds if rounds is not None else set(available_rounds())
    # the order feeds the NEXT round's window; evidence age is vs that round
    upcoming = (max(considered) + 1) if considered else 1

    def rank(name: str) -> int:
        if name not in last_checked:
            return 2  # never checked — no valid evidence
        if not last_green.get(name, False):
            return 0  # failed at last check — re-verify first
        rnd = last_checked[name]
        commit = snapshots.get(rnd)
        if commit is None:
            return 2  # can't prove the code is unchanged — treat as stale
        mod = sys.modules[queries[name].__module__]
        rel = os.path.relpath(mod.__file__, REPO)
        key = (rel, commit)
        if key not in changed_cache:
            changed_cache[key] = _module_changed_since(rel, commit)
        if changed_cache[key]:
            return 2
        # valid evidence — but promote ahead of changed-module re-checks
        # once it is more than AGE_CAP rounds old (VERDICT r9 #5)
        return 1 if (upcoming - rnd) > AGE_CAP else 3

    def upgraded(name: str) -> bool:
        return bool(last_rows_only.get(name, False) and name in oracles)

    meta = {
        n: (rank(n), last_checked.get(n, -1), upgraded(n)) for n in queries
    }
    order = sorted(queries, key=lambda n: order_key(meta[n], n))
    return order, meta


def main() -> None:
    rounds = available_rounds()
    order, meta = compute_order(set(rounds))

    lines = [
        '"""GENERATED by scripts/gen_registry_order.py — do not edit.',
        "",
        "Catalog emission order = evidence staleness (see the generator's",
        "docstring for the full policy). Derivation inputs at generation",
        "time, per query: (last_checked_round, rank) where rank is",
        "0=failed-last-check, 1=green-but-evidence-over-age-cap,",
        "2=no-valid-evidence (never checked / code changed since),",
        "3=green-and-unchanged within the age cap. Within rank 2,",
        "oracle-upgraded entries (latest check was rows-only, oracle now",
        "registered) sort first — their stronger claim is untested.",
        '"""',
        "",
        "# Correctness rounds this order was derived from. check_rotation.py",
        "# verifies reproducibility against exactly these rounds, so a newer",
        "# driver artifact drop alone never fails the suite.",
        f"ROUNDS = {tuple(rounds)!r}",
        "",
        "ORDER = (",
    ]
    for n in order:
        rk, rnd, upg = meta[n]
        lines.append(
            f"    {n!r},  # r{rnd if rnd >= 0 else '-'} rank={rk}"
            + (" oracle-upgraded" if rk == 2 and upg else "")
        )
    lines.append(")")
    out_path = os.path.join(REPO, "gasket_rs_spark", "registry_order.py")
    with open(out_path, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out_path} ({len(order)} queries)")


if __name__ == "__main__":
    main()

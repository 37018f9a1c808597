"""End-of-round gate — refuse the snapshot on red (VERDICT r10 #3).

Round 10 shipped a red test suite because a 3-second check was never run
before the end-of-round commit. This script is that check: it runs the
fast, JVM-free invariants and exits non-zero if any fails, so the
snapshot commit can be gated on `python scripts/round_close.py`.

Checks (seconds each, except the full-suite run — the one JVM step,
~10-11 min; skip it mid-round with --fast, never at the recorded close):
  1. scripts/check_rotation.py        — committed registry_order.py is
     reproducible from the current tree + CORRECTNESS artifacts (the
     round-10 failure mode: witnesses added after the last regen).
  2. pytest tests/test_rotation.py    — the rotation pins themselves.
  3. pytest test_plans.py::test_no_unpartitioned_window_in_source —
     the source-level anti-pattern guard (bare Window.orderBy /
     unaudited single-partition windows).
  4. pytest tests/test_dup_report.py — the duplication scan and the
     package's DUP_BUDGET; and the test_plans.py source guards
     test_grid_snap_spelled_only_in_grid_module,
     test_keys_spelled_only_in_keys_module,
     test_collect_sites_are_allowlisted and
     test_materialize_is_the_only_storage_call (one spelling of the grid
     snap, of the keys and of the storage call; every driver collect
     allowlisted). tests/test_registry_schemas.py (structural
     witness/oracle registry invariants) needs a SparkSession, so it
     runs only in the full suite (check 10).
  5. LOCALVERIFY_r{N}.json freshness — the committed 3-SF sweep artifact
     for the closing round must exist, report zero failures, cover the
     full current catalog, AND have no operator-source diff since its
     recorded commit (ADVICE r11: a bare exists+green check let a stale
     sweep pass — the exact r9/r10 failure mode this script closes).
  6. Evidence-debt gate (VERDICT r11 #5) — prints the driver-evidence
     age histogram and fails if the never-driver-checked witness count
     grew vs the prior round's close (witness production outran the
     50-query driver window 2.7:1 in round 11 with no gate noticing).
     Since r13 it also prints the post-fold never-checked count when the
     round's own CORRECTNESS artifact already exists (VERDICT r12 #6).
  7. Evidence-AGE gate (VERDICT r12 #2) — prints the max driver-evidence
     age and FAILS if any witness exceeds MAX_DRIVER_AGE rounds
     (gen_registry_order.py): the steady-state bound once the
     never-checked backlog is gone; exceeding it means the rotation
     itself is broken.
  8. Rotation-capacity gate (VERDICT r14 #3) — ceil(catalog / driver
     window) must not exceed MAX_DRIVER_AGE: at 355 witnesses / 50-entry
     window the full-refresh period is exactly 8 = the cap (zero slack),
     so the gate catches catalog growth past capacity at the round that
     adds the witness, not rounds later when the age gate starts failing
     with no code change.
  9. Rows-only pin gate (VERDICT r13 #3) — every witness WITHOUT an
     oracle_sql() entry must map to at least one pytest pin in
     gasket_rs_spark/pins.py, and every listed pin must still collect
     under pytest — with zero deselections (ADVICE r15: a fuzz-marked
     pin is silently deselected by the default lane at rc=0, so a bare
     rc check would stay green while the pin never runs anywhere).
 10. Full-suite run (ADVICE r15) — BOTH lanes (`-m 'fuzz or not fuzz'`)
     execute at the close, making the "both lanes run at every close"
     claim mechanical rather than manual discipline.
 11. Age-breach fault attribution (VERDICT r15 #3) — an over-cap
     driver-evidence age is classified: BUILDER fault (regen never put
     the witness in the window) is red; DRIVER fault (window served
     short / round skipped) is a loud WARN with a one-round grace, red
     only when the grace round passes unserved.

Usage: python scripts/round_close.py [round] [--fast]
  round defaults to max(CORRECTNESS_r*) + 1 (the round being closed).
  --fast skips the full-suite run for mid-round iteration; the
  recorded close must run without it.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

FAST_TESTS = [
    "tests/test_rotation.py",
    "tests/test_plans.py::test_no_unpartitioned_window_in_source",
    "tests/test_dup_report.py",
    "tests/test_plans.py::test_grid_snap_spelled_only_in_grid_module",
    "tests/test_plans.py::test_keys_spelled_only_in_keys_module",
    "tests/test_plans.py::test_collect_sites_are_allowlisted",
    "tests/test_plans.py::test_materialize_is_the_only_storage_call",
]


def run(label: str, cmd: list[str]) -> bool:
    print(f"--- {label}: {' '.join(cmd)}", flush=True)
    rc = subprocess.run(cmd, cwd=REPO).returncode
    print(f"--- {label}: {'OK' if rc == 0 else f'FAIL (rc={rc})'}", flush=True)
    return rc == 0


def check_localverify(rnd: int) -> bool:
    """The committed sweep must be GREEN *and fresh* (ADVICE r11): a
    stale artifact — swept before later operator edits, or over a
    smaller catalog — passes a bare exists-and-zero-failures check while
    proving nothing about the code being snapshotted. Freshness = the
    artifact's recorded commit has no operator-source diff vs the
    current tree, and its query count matches the current catalog."""
    path = os.path.join(REPO, f"LOCALVERIFY_r{rnd}.json")
    if not os.path.exists(path):
        print(f"--- localverify: FAIL — {path} missing "
              f"(run scripts/local_verify_sweep.py {rnd})")
        return False
    with open(path) as f:
        art = json.load(f)
    failures = art.get("summary", {}).get("failures", ["<unreadable>"])
    n = art.get("summary", {}).get("total", 0)
    if failures:
        print(f"--- localverify: FAIL — {len(failures)} failing queries: "
              f"{failures[:5]}")
        return False
    # catalog-count freshness: the sweep must cover every current witness
    from gasket_rs_spark.registry import collect_raw
    catalog = len(collect_raw()[0])
    if n != catalog:
        print(f"--- localverify: FAIL — artifact covers {n} queries but "
              f"the catalog has {catalog} (stale sweep; re-run "
              f"scripts/local_verify_sweep.py {rnd})")
        return False
    # commit freshness: no operator-source change since the swept commit
    # (diff vs working tree, so uncommitted edits also count as stale)
    commit = art.get("commit", "")
    # registry_order.py is excluded: it is regenerated at every close
    # (often after the sweep) and encodes emission order, not semantics —
    # a diff there cannot change any query result the sweep verified.
    diff = subprocess.run(
        ["git", "-C", REPO, "diff", "--name-only", commit, "--",
         "gasket_rs_spark", ":(exclude)gasket_rs_spark/registry_order.py"],
        capture_output=True, text=True,
    )
    untracked = subprocess.run(
        ["git", "-C", REPO, "ls-files", "--others", "--exclude-standard",
         "gasket_rs_spark"],
        capture_output=True, text=True,
    )
    if diff.returncode != 0:
        print(f"--- localverify: FAIL — recorded commit {commit[:12]} not "
              f"in history (artifact unreadable or tampered)")
        return False
    changed = sorted(
        set(diff.stdout.split()) | set(untracked.stdout.split())
    )
    if changed:
        print(f"--- localverify: FAIL — operator source changed since the "
              f"swept commit {commit[:12]}: {changed[:5]} (re-run the sweep)")
        return False
    print(f"--- localverify: OK ({n} queries = catalog, 0 failures, "
          f"no operator diff since {commit[:12]})")
    return True


def evidence_age_gate(
    order, last: dict[str, int], rnd: int, cap: int | None = None
) -> tuple[int, list[str]]:
    """(max_age, offenders) for the steady-state age cap (VERDICT r12
    #2): age = rnd - last_driver_checked_round per witness; offenders are
    witnesses over the cap. Never-checked witnesses are NOT aged here —
    they are the evidence-debt gate's concern (and rank 2 / last=-1 in
    the rotation, so they front the very next window). Pure function so
    tests/test_rotation.py can exercise the gate on synthetic histories."""
    from gen_registry_order import MAX_DRIVER_AGE

    if cap is None:
        cap = MAX_DRIVER_AGE
    ages = {n: rnd - last[n] for n in order if n in last}
    max_age = max(ages.values(), default=0)
    offenders = sorted(n for n, a in ages.items() if a > cap)
    return max_age, offenders


# Driver-fault age breaches get this many extra rounds before the close
# goes red (VERDICT r15 #3): the rotation runs at zero slack (355/50 vs
# cap 8), so a single driver hiccup — a window that serves <50, a skipped
# round — would red the close with no code change. Builder-fault breaches
# (the regen never put the witness in the window) get NO grace.
AGE_GRACE_ROUNDS = 1


def age_breach_verdict(
    offender_ages: dict[str, int],
    in_window: set[str],
    served: set[str],
    cap: int,
    grace: int = AGE_GRACE_ROUNDS,
    displaced: set[str] = frozenset(),
) -> tuple[list[str], list[str], list[str]]:
    """Attribute over-cap age breaches to a fault (VERDICT r15 #3) so a
    driver hiccup doesn't red the close that a regen can't fix.

    offender_ages: witness -> driver-evidence age, only entries > cap.
    in_window:     the first WINDOW names of registry_order.py as of the
                   PRIOR round's snapshot — what the driver was ASKED to
                   serve last round.
    served:        names actually present in the prior round's
                   CORRECTNESS artifact — what the driver DID serve.
    displaced:     previously-checked names that sat beyond the WINDOW
                   prefix in the prior round's order with recorded rank
                   <= 2 — capacity displacement (ADVICE r16, medium;
                   widened from rank <= 1 by the r18 end-to-end replay).
                   At zero rotation slack, a driver under-serve of K
                   witnesses forces the next regen to front those K,
                   pushing K due witnesses out of the prefix; they
                   breach the cap one round later while ABSENT from the
                   prior window. Rank 2 belongs here too: a witness
                   whose module changed since its last green check
                   sorts AFTER every rank-1 entry (the generator's
                   validity-before-age policy), so under a multi-round
                   driver-failure backlog the module-changed due cohort
                   is the FIRST to overflow the prefix — the regen
                   ordered it correctly, there was no room. Both cases
                   are the driver's fault and get the same grace, not a
                   misleading builder-fault red. A breacher recorded at
                   rank 3 stays builder-fault: breaching at close rnd
                   means age >= 8 at the prior generation, which forces
                   recorded rank <= 2 in any FRESH order — rank 3 on a
                   breacher proves the committed order was stale.

    Returns (fail_builder, fail_grace_exhausted, warn_driver):
      - fail_builder: the regen never placed the witness in the window
        NOR was it capacity-displaced while due (rotation mis-ordered/
        missing — a code fix exists HERE), plus the bookkeeping-
        impossible case (served yet still over cap — the fold itself is
        broken). Red, no grace.
      - warn_driver: asked-or-displaced but unserved, age within
        cap+grace — loud WARN, close stays green for one round while the
        rotation re-serves it.
      - fail_grace_exhausted: driver-fault but age > cap+grace — the
        grace round passed and the witness is STILL unserved; red.
    Pure function; all paths pinned in tests/test_rotation.py."""
    fail_builder, fail_exhausted, warn_driver = [], [], []
    for name, age in sorted(offender_ages.items()):
        if (name not in in_window and name not in displaced) or name in served:
            fail_builder.append(name)
        elif age > cap + grace:
            fail_exhausted.append(name)
        else:
            warn_driver.append(name)
    return fail_builder, fail_exhausted, warn_driver


def parse_registry_order_block(
    text: str,
) -> tuple[list[str], dict[str, int], dict[str, int]]:
    """(names-in-order, name -> recorded rank, name -> recorded
    last-checked round) from a generated registry_order.py's ORDER
    block. The parse is SLICED to the ``ORDER = ( ... )`` assignment
    first (ADVICE r16, low): the old whole-file regex would silently
    absorb any future 4-space-indented quoted tuple added to the
    module. Ranks and rounds come from the generator's per-line
    comments; a line without one gets rank 3 / round -1 (never
    checked records ``r-`` and also maps to -1)."""
    import re

    m = re.search(r"^ORDER = \(\n(.*?)^\)", text, re.M | re.S)
    block = m.group(1) if m else ""
    names = re.findall(r"^    '(\w+)',", block, re.M)
    parsed = {
        nm: (int(rk), int(rd) if rd.isdigit() else -1)
        for nm, rd, rk in re.findall(
            r"^    '(\w+)',\s*# r(\S+) rank=(\d)", block, re.M
        )
    }
    ranks = {n: parsed.get(n, (3, -1))[0] for n in names}
    rounds = {n: parsed.get(n, (3, -1))[1] for n in names}
    return names, ranks, rounds


def _prior_window_and_served(
    rnd: int,
) -> tuple[set[str], set[str], set[str]] | None:
    """(asked, served, displaced) for the prior round: the first WINDOW
    names of registry_order.py at the r{rnd-1} snapshot commit, the
    names in CORRECTNESS_r{rnd-1}.json (empty if the driver skipped the
    round), and the capacity-displaced names (previously checked,
    recorded rank <= 2, beyond the WINDOW prefix — see
    age_breach_verdict for why rank 2 counts and rank 3 must not). None
    when the prior snapshot is unreadable — attribution impossible,
    caller falls back to the ungraced hard-fail."""
    from check_rotation import WINDOW
    from gen_registry_order import _round_snapshot_commits

    snap = _round_snapshot_commits().get(rnd - 1)
    if snap is None:
        return None
    show = subprocess.run(
        ["git", "-C", REPO, "show",
         f"{snap}:gasket_rs_spark/registry_order.py"],
        capture_output=True, text=True,
    )
    if show.returncode != 0:
        return None
    prior_order, prior_ranks, prior_rounds = parse_registry_order_block(
        show.stdout
    )
    asked = set(prior_order[:WINDOW])
    displaced = {
        n
        for n in prior_order[WINDOW:]
        if prior_ranks[n] <= 2 and prior_rounds[n] >= 0
    }
    path = os.path.join(REPO, f"CORRECTNESS_r{rnd - 1}.json")
    served: set[str] = set()
    if os.path.exists(path):
        with open(path) as f:
            served = set(json.load(f))
    return asked, served, displaced


def check_evidence_debt(rnd: int) -> bool:
    """Driver-evidence freshness accounting (VERDICT r11 #5): round 11
    grew the never-driver-checked backlog 0 -> 89 without any gate
    noticing, because witness production and the 50-query driver window
    were never reconciled. Print the evidence-age histogram and FAIL the
    close if the never-checked count grew vs the prior round's close.

    Like-for-like baseline: never-checked at close of round N is
    measured over the catalog as of that close against artifacts
    r1..r{N-1} (the driver checks AFTER the close, so round N's window
    can't be counted yet). The prior close's catalog is read from
    registry_order.py at the prior round's snapshot commit."""
    import glob
    import re
    from collections import Counter

    from gen_registry_order import _round_snapshot_commits
    from gasket_rs_spark.registry_order import ORDER

    def checked_through(max_round: int) -> set[str]:
        seen: set[str] = set()
        for p in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
            r = int(re.search(r"r(\d+)\.json$", p).group(1))
            if r <= max_round:
                with open(p) as f:
                    seen |= set(json.load(f))
        return seen

    last: dict[str, int] = {}
    for p in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        r = int(re.search(r"r(\d+)\.json$", p).group(1))
        if r < rnd:
            with open(p) as f:
                for name in json.load(f):
                    last[name] = max(last.get(name, -1), r)

    ages = Counter(
        (rnd - last[n]) if n in last else "never" for n in ORDER
    )
    hist = " ".join(
        f"{k}:{ages[k]}" for k in sorted(ages, key=lambda x: (x == "never", x))
    )
    print(f"--- evidence-debt: age histogram vs r{rnd} "
          f"(rounds since driver check): {hist}")
    current_never = sum(1 for n in ORDER if n not in last)
    # VERDICT r12 #6: the like-for-like baseline above excludes round
    # rnd's own artifact by design; when it already exists (a re-run
    # after the driver checked), also print the POST-FOLD truth so the
    # headline never-checked number can't be misread.
    post_path = os.path.join(REPO, f"CORRECTNESS_r{rnd}.json")
    if os.path.exists(post_path):
        with open(post_path) as f:
            post_checked = set(json.load(f)) | set(last)
        post_never = sum(1 for n in ORDER if n not in post_checked)
        print(f"--- evidence-debt: post-fold (incl. r{rnd}'s own artifact) "
              f"never-checked = {post_never}")
    # Steady-state age cap (VERDICT r12 #2): hard-fail when any witness's
    # driver evidence is older than MAX_DRIVER_AGE rounds — rotation
    # breakage, not a bookkeeping note.
    from gen_registry_order import MAX_DRIVER_AGE

    max_age, over_cap = evidence_age_gate(ORDER, last, rnd)
    print(f"--- evidence-age: max driver-evidence age {max_age} "
          f"(cap {MAX_DRIVER_AGE})"
          + (f" — over-cap witnesses: {over_cap[:5]}" if over_cap
             else " — OK"))
    if over_cap:
        # VERDICT r15 #3: attribute the breach before going red. A
        # driver hiccup (window served <50 / skipped round) is not a
        # rotation bug this repo can fix — downgrade to a loud WARN with
        # a one-round grace; builder faults and exhausted grace stay red.
        ctx = _prior_window_and_served(rnd)
        if ctx is None:
            print("--- evidence-age: FAIL — prior snapshot unreadable, "
                  "cannot attribute the breach (treating as builder fault)")
            return False
        asked, served, displaced = ctx
        breach_ages = {n: rnd - last[n] for n in over_cap}
        builder, exhausted, warned = age_breach_verdict(
            breach_ages, asked, served, MAX_DRIVER_AGE,
            displaced=displaced,
        )
        if builder:
            print(f"--- evidence-age: FAIL — BUILDER broke rotation "
                  f"(regen never placed these in the driver window, or "
                  f"the fold is broken): {builder[:5]}")
        if exhausted:
            print(f"--- evidence-age: FAIL — driver-fault grace "
                  f"({AGE_GRACE_ROUNDS} round) EXHAUSTED, still unserved: "
                  f"{exhausted[:5]}")
        if warned:
            cascaded = sorted(set(warned) & displaced)
            print(f"--- evidence-age: WARN — DRIVER-fault breach "
                  f"(r{rnd - 1} window served {len(served)} of "
                  f"{len(asked)} asked"
                  + (f"; capacity-displacement cascade for {cascaded[:5]}"
                     if cascaded else "")
                  + f"); one-round grace active for: {warned[:5]} — these "
                  f"must be served in r{rnd} or the next close goes red")
        if builder or exhausted:
            return False

    snap = _round_snapshot_commits().get(rnd - 1)
    if snap is None:
        print(f"--- evidence-debt: OK (never-checked={current_never}; no "
              f"r{rnd - 1} snapshot to baseline against — informational)")
        return True
    show = subprocess.run(
        ["git", "-C", REPO, "show", f"{snap}:gasket_rs_spark/registry_order.py"],
        capture_output=True, text=True,
    )
    if show.returncode != 0:
        print(f"--- evidence-debt: OK (never-checked={current_never}; prior "
              f"catalog unreadable at {snap[:12]} — informational)")
        return True
    prior_order, _, _ = parse_registry_order_block(show.stdout)
    prior_checked = checked_through(rnd - 2)
    prior_never = sum(1 for n in prior_order if n not in prior_checked)
    grew = current_never > prior_never
    print(f"--- evidence-debt: {'FAIL' if grew else 'OK'} — never-checked "
          f"{prior_never} (r{rnd - 1} close) -> {current_never} (r{rnd} close)"
          + (" — backlog GREW; stop adding witnesses until the driver "
             "window catches up" if grew else ""))
    return not grew


def rotation_capacity(
    catalog_size: int, window: int, max_age: int
) -> tuple[int, bool]:
    """(full-refresh period in rounds, within-capacity?) — the r15
    capacity rule (VERDICT r14 #3). With a catalog of N witnesses and a
    W-entry driver window, perfect rotation re-checks every witness only
    every ceil(N/W) rounds; if that period exceeds MAX_DRIVER_AGE the
    age gate WILL eventually fail with no code change — the catalog has
    outgrown the rotation. At r14 state (355/50, cap 8) the period is
    exactly 8: zero slack, so ANY catalog growth must first widen the
    window or renegotiate the cap."""
    period = -(-catalog_size // window)  # ceil
    return period, period <= max_age


def check_rotation_capacity() -> bool:
    """Fail the close when ceil(catalog / driver-window) exceeds
    MAX_DRIVER_AGE — BEFORE the age gate starts failing rounds later,
    at the moment the witness that broke capacity is added."""
    from check_rotation import WINDOW
    from gen_registry_order import MAX_DRIVER_AGE
    from gasket_rs_spark.registry_order import ORDER

    period, ok = rotation_capacity(len(ORDER), WINDOW, MAX_DRIVER_AGE)
    print(
        f"--- rotation-capacity: catalog {len(ORDER)} / window {WINDOW} "
        f"-> full-refresh period {period} rounds vs MAX_DRIVER_AGE "
        f"{MAX_DRIVER_AGE} — "
        + ("OK" + (" (ZERO slack: any catalog growth requires widening "
                   "the window or raising the cap first)"
                   if period == MAX_DRIVER_AGE else "")
           if ok else
           "FAIL — the catalog has outgrown the rotation; widen the "
           "driver window or raise MAX_DRIVER_AGE before adding witnesses")
    )
    return ok


def check_rows_only_pins() -> bool:
    """VERDICT r13 #3: the rows-only witnesses are the thinnest slice of
    the evidence wall — their recall/error/capture pins existed but
    nothing machine-checked the witness→pin mapping, so a new rows-only
    witness could ship pinless unnoticed. Fail the close when (a) any
    rows-only witness lacks an entry in gasket_rs_spark/pins.py, or
    (b) any listed pin id no longer collects under pytest (renamed or
    deleted test). Stale entries (witness gained an oracle) are printed
    but non-fatal."""
    from gasket_rs_spark.pins import ROWS_ONLY_PINS, rows_only_pin_audit
    from gasket_rs_spark.registry import collect_raw

    queries, oracles = collect_raw()
    missing, stale, mapping = rows_only_pin_audit(
        queries, oracles, ROWS_ONLY_PINS
    )
    print(f"--- rows-only pins: {len(mapping)} witnesses mapped")
    for name, pins in sorted(mapping.items()):
        print(f"      {name} -> {pins[0]}"
              + (f" (+{len(pins) - 1} corroborating)" if len(pins) > 1 else ""))
    if stale:
        print(f"--- rows-only pins: note — stale entries (witness now "
              f"oracled or absent): {stale}")
    if missing:
        print(f"--- rows-only pins: FAIL — rows-only witnesses WITHOUT a "
              f"pytest pin: {missing} (add to gasket_rs_spark/pins.py)")
        return False
    all_pins = sorted({p for pins in mapping.values() for p in pins})
    collect = subprocess.run(
        [sys.executable, "-m", "pytest", "--collect-only", "-q", *all_pins],
        cwd=REPO, capture_output=True, text=True,
    )
    if collect.returncode != 0:
        tail = "\n".join(collect.stdout.strip().splitlines()[-5:])
        print(f"--- rows-only pins: FAIL — pin id(s) no longer collect "
              f"under pytest (rc={collect.returncode}):\n{tail}")
        return False
    ok, why, n_collected = pins_collect_verdict(collect.stdout, len(all_pins))
    if not ok:
        tail = "\n".join(collect.stdout.strip().splitlines()[-3:])
        print(f"--- rows-only pins: FAIL — {why}:\n{tail}")
        return False
    print(f"--- rows-only pins: OK ({len(all_pins)} pin ids all collect, "
          f"{n_collected} tests, none deselected)")
    return True


def pins_collect_verdict(
    output: str, n_pins: int
) -> tuple[bool, str, int]:
    """Validate a `pytest --collect-only -q <pin ids>` run beyond its
    return code (ADVICE r15, medium): pytest exits 0 when a fuzz-marked
    pin is merely DESELECTED by the default lane's `-m "not fuzz"`
    addopts ('1/2 tests collected (1 deselected)') — the pin would then
    never execute anywhere while the close stays green. Fail on any
    deselection — matched against pytest's summary-line shape
    '(N deselected)', not the bare substring, so a test node id or
    warning text containing the word can't false-fail the close
    (ADVICE r16, low) — and require at least one collected test per pin
    id (a pin id can collect >1 via parametrization, never fewer).
    Pure; pinned in tests/test_rotation.py."""
    import re

    # '1/2 tests collected (1 deselected)': collected count is the FIRST
    # number; the optional '/M' is the total-found denominator.
    m = re.search(r"(\d+)(?:/\d+)?\s+tests?\s+collected", output)
    n_collected = int(m.group(1)) if m else -1
    if re.search(r"\(\d+ deselected\)", output):
        return (False, "pin id(s) DESELECTED from the default lane (a "
                "fuzz-marked pin would never run at the close)", n_collected)
    if n_collected < n_pins:
        return (False, f"under-collected: {n_collected} tests for "
                f"{n_pins} pin ids", n_collected)
    return (True, "", n_collected)


def main() -> int:
    from gen_registry_order import available_rounds

    args = [a for a in sys.argv[1:] if a != "--fast"]
    fast = "--fast" in sys.argv[1:]
    rnd = int(args[0]) if args else max(available_rounds()) + 1
    ok = True
    ok &= run("rotation", [sys.executable, "scripts/check_rotation.py"])
    ok &= run("fast-tests", [sys.executable, "-m", "pytest", "-q", *FAST_TESTS])
    # ADVICE r15: "both lanes run at every close" was a README claim with
    # no gate behind it — the 105 fuzz tests relied on manual discipline
    # after the lane split and could silently rot (and the 400+ default-
    # lane tests were equally on discipline). The close now RUNS the full
    # suite, both lanes in one invocation (~10-11 min, the JVM step);
    # `--fast` skips it for mid-round iteration, the recorded close never
    # passes it.
    if fast:
        print("--- full-suite: SKIPPED (--fast; the snapshot close must "
              "run without it)")
    else:
        ok &= run("full-suite (both lanes)",
                  [sys.executable, "-m", "pytest", "-q",
                   "-m", "fuzz or not fuzz", "tests/"])
    ok &= check_localverify(rnd)
    ok &= check_evidence_debt(rnd)
    ok &= check_rotation_capacity()
    ok &= check_rows_only_pins()
    verdict = "GREEN — safe to snapshot" if ok else "RED — do not snapshot"
    if fast and ok:
        # a --fast run skipped the full suite: its GREEN must not be
        # mistakable for the recorded snapshot close in any log
        verdict = "GREEN (--fast: full suite SKIPPED — not a snapshot close)"
    print(f"\nround_close r{rnd}: {verdict}")
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())

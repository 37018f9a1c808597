"""CI-style pin of the catalog-rotation invariant (VERDICT r6 #2).

Fails when ``gasket_rs_spark/registry_order.py`` is out of date with the
working tree — i.e. an operator module changed after the order was last
generated, so the driver's next 50-entry correctness window would re-check
already-proven queries while changed code goes unverified. Fix by running
``python scripts/gen_registry_order.py``.
"""

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run_check():
    return subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "check_rotation.py")],
        capture_output=True,
        text=True,
    )


def test_rotation_invariant_holds():
    proc = _run_check()
    assert proc.returncode == 0, proc.stdout + proc.stderr


def test_age_cap_promotes_stale_green_evidence():
    """Round-10 age cap (VERDICT r9 #5): a green-and-unchanged query whose
    driver evidence is older than AGE_CAP rounds must be promoted ahead of
    changed-module re-checks (rank 1, before every rank-2 entry), so
    worst-case driver-evidence age is bounded instead of indefinite."""
    sys.path.insert(0, os.path.join(REPO, "scripts"))
    from gen_registry_order import AGE_CAP, available_rounds, compute_order

    assert AGE_CAP == 6
    rounds = available_rounds()
    order, meta = compute_order(set(rounds))
    upcoming = max(rounds) + 1

    ranks = [meta[n][0] for n in order]
    assert ranks == sorted(ranks), "order must be non-decreasing in rank"
    for n in order:
        rk, rnd, upg = meta[n]
        if rk == 1:  # promoted = valid evidence, but over the cap
            assert upcoming - rnd > AGE_CAP, (n, rnd)
        if rk == 3:  # fresh green must be within the cap
            assert upcoming - rnd <= AGE_CAP, (n, rnd)
        if upg:  # oracle-upgraded implies module changed since the check
            assert rk == 2, (n, rk)
    # within each (rank, upgraded) class the rotation is oldest-checked
    # first; oracle-upgraded entries front rank 2 (VERDICT r18 #2 — the
    # untested stronger claim outranks changed-code re-checks)
    from gen_registry_order import order_key

    keys = [order_key(meta[n], n) for n in order]
    assert keys == sorted(keys), "order must follow the generator's key"


def test_evidence_age_gate():
    """Steady-state age cap (VERDICT r12 #2): round_close must FAIL when
    any witness's driver evidence is older than MAX_DRIVER_AGE rounds.
    Exercised on synthetic histories (both sides of the cap) AND on the
    real repo state, which must currently be under the cap."""
    import glob
    import json
    import re

    sys.path.insert(0, os.path.join(REPO, "scripts"))
    from gen_registry_order import AGE_CAP, MAX_DRIVER_AGE
    from round_close import evidence_age_gate

    # the cap must stay consistent with the rotation's promotion point:
    # promoted at AGE_CAP+1, checked that round, +1 round of overflow slack
    assert MAX_DRIVER_AGE == AGE_CAP + 2 == 8

    # synthetic: exactly at the cap -> pass; one over -> that witness fails
    order = ("a", "b", "c")
    at_cap = {"a": 10 - MAX_DRIVER_AGE, "b": 9}
    max_age, over = evidence_age_gate(order, at_cap, 10)
    assert (max_age, over) == (MAX_DRIVER_AGE, [])
    stale = {"a": 10 - MAX_DRIVER_AGE - 1, "b": 9}
    max_age, over = evidence_age_gate(order, stale, 10)
    assert (max_age, over) == (MAX_DRIVER_AGE + 1, ["a"])
    # never-checked witnesses ("c") are not aged by this gate
    assert evidence_age_gate(("c",), {}, 10) == (0, [])

    # real repo state: no witness may breach the cap WITHOUT grace at
    # the upcoming close. VERDICT r15 #3: a bare `assert not over` here
    # would red the suite (and therefore the close, which runs it) on a
    # DRIVER hiccup — exactly the no-code-change failure the close's
    # grace mechanism absorbs. Mirror the graced verdict instead: any
    # over-cap witness must classify as driver-fault-within-grace, never
    # builder fault or exhausted grace.
    from round_close import _prior_window_and_served, age_breach_verdict
    from gasket_rs_spark.registry_order import ORDER

    last: dict[str, int] = {}
    for p in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        r = int(re.search(r"r(\d+)\.json$", p).group(1))
        with open(p) as f:
            for name in json.load(f):
                last[name] = max(last.get(name, -1), r)
    closing = max(last.values(), default=0) + 1
    max_age, over = evidence_age_gate(ORDER, last, closing)
    if over:
        ctx = _prior_window_and_served(closing)
        assert ctx is not None, (max_age, over[:5])
        asked, served, displaced = ctx
        builder, exhausted, _warned = age_breach_verdict(
            {n: closing - last[n] for n in over}, asked, served,
            MAX_DRIVER_AGE, displaced=displaced,
        )
        assert not builder and not exhausted, (builder, exhausted, over[:5])


def test_rotation_capacity_gate():
    """VERDICT r14 #3: the age cap is only servable while
    ceil(catalog / driver-window) <= MAX_DRIVER_AGE — at r14 state
    (355/50, cap 8) the full-refresh period EQUALS the cap, zero slack.
    round_close must flag capacity breach at the round that grows the
    catalog, not rounds later when the age gate reds with no code
    change. Pinned on synthetic sizes (both sides) and the real repo
    state (must be within capacity on the tree that ships)."""
    sys.path.insert(0, os.path.join(REPO, "scripts"))
    from check_rotation import WINDOW
    from gen_registry_order import MAX_DRIVER_AGE
    from round_close import check_rotation_capacity, rotation_capacity

    # synthetic: exactly at capacity -> ok; one witness over -> fail
    assert rotation_capacity(400, 50, 8) == (8, True)
    assert rotation_capacity(401, 50, 8) == (9, False)
    assert rotation_capacity(355, 50, 8) == (8, True)
    # widening the window restores headroom without touching the cap
    assert rotation_capacity(401, 60, 8) == (7, True)

    # real repo state: within capacity, and the close-gate wrapper agrees
    from gasket_rs_spark.registry_order import ORDER

    period, ok = rotation_capacity(len(ORDER), WINDOW, MAX_DRIVER_AGE)
    assert ok, (len(ORDER), WINDOW, period, MAX_DRIVER_AGE)
    assert check_rotation_capacity() is True


def test_age_breach_fault_attribution():
    """VERDICT r15 #3: the age gate must distinguish 'builder broke
    rotation' (red, no grace) from 'driver under-served the window'
    (loud WARN, one-round grace) — at zero rotation slack a single
    driver hiccup would otherwise red the close with no code change.
    Both paths pinned on synthetic inputs of the pure classifier."""
    sys.path.insert(0, os.path.join(REPO, "scripts"))
    from round_close import AGE_GRACE_ROUNDS, age_breach_verdict

    assert AGE_GRACE_ROUNDS == 1
    cap = 8

    # builder fault: regen never put the over-cap witness in the window
    b, e, w = age_breach_verdict({"x": 9}, in_window=set(), served=set(),
                                 cap=cap)
    assert (b, e, w) == (["x"], [], [])

    # driver fault, within grace: asked but not served, age = cap+1
    b, e, w = age_breach_verdict({"x": 9}, in_window={"x"}, served=set(),
                                 cap=cap)
    assert (b, e, w) == ([], [], ["x"])

    # driver fault, grace exhausted: still unserved at age cap+2
    b, e, w = age_breach_verdict({"x": 10}, in_window={"x"}, served=set(),
                                 cap=cap)
    assert (b, e, w) == ([], ["x"], [])

    # bookkeeping-impossible (in window AND served yet over cap): builder
    b, e, w = age_breach_verdict({"x": 9}, in_window={"x"}, served={"x"},
                                 cap=cap)
    assert (b, e, w) == (["x"], [], [])

    # mixed bag classifies independently and sorts deterministically
    b, e, w = age_breach_verdict(
        {"m": 9, "a": 9, "z": 10},
        in_window={"a", "z"}, served=set(), cap=cap,
    )
    assert (b, e, w) == (["m"], ["z"], ["a"])

    # ADVICE r16 (medium) — the zero-slack displacement cascade: a
    # driver under-serve forces the next regen to front the hiccuped
    # witnesses, pushing K newly-DUE witnesses (rank <= 1) beyond the
    # 50-prefix; they breach one round later while absent from the prior
    # window. That is still driver fault: graced, not builder-red.
    b, e, w = age_breach_verdict(
        {"x": 9}, in_window=set(), served=set(), cap=cap, displaced={"x"},
    )
    assert (b, e, w) == ([], [], ["x"])
    # cascade grace exhausts on the same clock as the direct grace
    b, e, w = age_breach_verdict(
        {"x": 10}, in_window=set(), served=set(), cap=cap, displaced={"x"},
    )
    assert (b, e, w) == ([], ["x"], [])
    # displaced AND served yet still over cap: the fold is broken —
    # bookkeeping-impossible stays builder-red
    b, e, w = age_breach_verdict(
        {"x": 9}, in_window=set(), served={"x"}, cap=cap, displaced={"x"},
    )
    assert (b, e, w) == (["x"], [], [])


def test_parse_registry_order_block_is_sliced_to_order():
    """ADVICE r16 (low): the prior-window parse must read ONLY the
    ORDER = ( ... ) block — a second 4-space-indented quoted tuple
    elsewhere in the file must not pollute the window prefix — and the
    recorded ranks must come from the generator's comments (absent
    comment -> rank 3, never displaced)."""
    sys.path.insert(0, os.path.join(REPO, "scripts"))
    from round_close import parse_registry_order_block

    text = (
        "OTHER = (\n"
        "    'pollution_a',\n"
        "    'pollution_b',  # r9 rank=0\n"
        ")\n"
        "\n"
        "ORDER = (\n"
        "    'w1',  # r10 rank=1\n"
        "    'w2',  # r- rank=2\n"
        "    'w3',\n"
        ")\n"
    )
    names, ranks, rounds = parse_registry_order_block(text)
    assert names == ["w1", "w2", "w3"]
    assert ranks == {"w1": 1, "w2": 2, "w3": 3}
    # recorded last-checked rounds: never-checked (r-) and comment-less
    # lines both map to -1 so they can never count as displaced
    assert rounds == {"w1": 10, "w2": -1, "w3": -1}
    # and the real committed file parses to the full catalog with the
    # same names check_rotation sees
    with open(os.path.join(REPO, "gasket_rs_spark", "registry_order.py")) as f:
        real_names, real_ranks, real_rounds = parse_registry_order_block(
            f.read()
        )
    from gasket_rs_spark.registry_order import ORDER

    assert real_names == list(ORDER)
    assert set(real_ranks.values()) <= {0, 1, 2, 3}
    assert all(r >= -1 for r in real_rounds.values())


def test_prior_window_and_served_reads_real_history():
    """The attribution inputs must be reconstructable from committed
    artifacts: the prior round's asked-window is the first WINDOW names
    of registry_order.py at that round's snapshot, served is its
    CORRECTNESS artifact. On the real repo the r15 window was served in
    full, so asked∩served must be large (the driver serves the asked
    prefix) and both sets must be the right size."""
    sys.path.insert(0, os.path.join(REPO, "scripts"))
    from check_rotation import WINDOW
    from round_close import _prior_window_and_served

    ctx = _prior_window_and_served(16)  # prior = r15, both artifacts exist
    assert ctx is not None
    asked, served, displaced = ctx
    assert len(asked) == WINDOW
    assert len(served) == WINDOW
    # the driver serves the asked prefix: full overlap last round
    assert asked == served
    # displaced = previously-checked rank <= 2 names beyond the prefix;
    # disjoint from the asked window by construction
    assert displaced.isdisjoint(asked)


def test_rows_only_pin_gate():
    """VERDICT r13 #3: every rows-only witness (no oracle_sql entry) must
    map to at least one pytest pin in gasket_rs_spark/pins.py — a value
    hash can't see these witnesses' properties, so the named pin is their
    entire evidence. Exercised on synthetic inputs (missing/stale
    detection) AND on the real registry, which must be fully mapped with
    every pin id resolvable to a real test function."""
    import re

    from gasket_rs_spark.pins import ROWS_ONLY_PINS, rows_only_pin_audit
    from gasket_rs_spark.registry import collect_raw

    # synthetic: b is rows-only and unmapped -> missing; z is mapped but
    # not rows-only (gained an oracle) -> stale, never missing
    q = {"a": None, "b": None, "z": None}
    o = {"z": "SELECT 1"}
    pins = {"a": ("tests/t.py::test_a",), "z": ("tests/t.py::test_z",)}
    missing, stale, mapping = rows_only_pin_audit(q, o, pins)
    assert missing == ["b"]
    assert stale == ["z"]
    assert mapping == {"a": ("tests/t.py::test_a",)}
    # an empty tuple counts as unmapped, not mapped
    missing, _, _ = rows_only_pin_audit({"a": None}, {}, {"a": ()})
    assert missing == ["a"]

    # real registry: fully mapped, nothing stale
    queries, oracles = collect_raw()
    missing, stale, mapping = rows_only_pin_audit(
        queries, oracles, ROWS_ONLY_PINS
    )
    assert not missing, f"rows-only witnesses without a pin: {missing}"
    assert not stale, f"stale pin entries: {stale}"
    assert set(mapping) == set(queries) - set(oracles)

    # every pin id must point at a test function that exists (static
    # check — round_close additionally runs pytest --collect-only)
    for name, pin_ids in mapping.items():
        assert pin_ids, name
        for pid in pin_ids:
            path, _, rest = pid.partition("::")
            func = rest.split("[", 1)[0]
            fpath = os.path.join(REPO, path)
            assert os.path.exists(fpath), (name, pid)
            with open(fpath) as f:
                src = f.read()
            assert re.search(rf"^def {re.escape(func)}\(", src, re.M), (
                name, pid,
            )


def test_pins_collect_verdict_catches_deselection():
    """ADVICE r15 (medium): pytest --collect-only exits 0 when a
    fuzz-marked pin is deselected by the default lane's addopts — the
    close's bare rc check stayed green while the pin never ran anywhere.
    The verdict must fail on any deselection and on under-collection,
    and pass the healthy shape (>= 1 test per pin id; parametrized pins
    collect more)."""
    sys.path.insert(0, os.path.join(REPO, "scripts"))
    from round_close import pins_collect_verdict

    # the empirically-verified deselection shape from the advice
    ok, why, n = pins_collect_verdict(
        "tests/t.py::test_a\n\n1/2 tests collected (1 deselected) in 0.1s\n",
        2,
    )
    assert ok is False and "DESELECTED" in why and n == 1

    # under-collection without the deselected marker (typo'd pin id
    # suppressed some other way) still fails
    ok, why, n = pins_collect_verdict("1 test collected in 0.1s\n", 2)
    assert ok is False and "under-collected" in why

    # healthy: exact count
    ok, _, n = pins_collect_verdict("2 tests collected in 0.1s\n", 2)
    assert ok is True and n == 2
    # ADVICE r16 (low): the word 'deselected' inside a test NODE ID (or
    # warning text) must not false-fail — only the summary-line shape
    # '(N deselected)' counts
    ok, _, n = pins_collect_verdict(
        "tests/t.py::test_not_deselected_guard\n\n"
        "2 tests collected in 0.1s\n",
        2,
    )
    assert ok is True and n == 2
    # healthy: parametrized pin collects more tests than pin ids
    ok, _, n = pins_collect_verdict("32 tests collected in 1.4s\n", 31)
    assert ok is True and n == 32
    # unparseable output never passes
    ok, why, n = pins_collect_verdict("garbage\n", 1)
    assert ok is False and n == -1


def test_driver_artifact_drop_does_not_fail_suite():
    """Self-healing rule (VERDICT r7 #2): a new CORRECTNESS_r{N}.json
    appearing at round end — rounds not in registry_order.ROUNDS — must
    not by itself fail the rotation check; it is noted and folded in at
    the next regen."""
    import json

    from gasket_rs_spark import registry_order

    fake_round = max(registry_order.ROUNDS) + 90
    path = os.path.join(REPO, f"CORRECTNESS_r{fake_round}.json")
    assert not os.path.exists(path)
    with open(path, "w") as f:
        json.dump({registry_order.ORDER[0]: {"hash_match": True}}, f)
    try:
        proc = _run_check()
    finally:
        os.remove(path)
    assert proc.returncode == 0, proc.stdout + proc.stderr
    # Assert only that the fake round is noted as postdating — NOT the
    # exact bracket list: a real driver artifact sitting untracked in the
    # tree (exactly the situation this test exists for) would otherwise
    # fail the string match, as round 8's real CORRECTNESS_r08.json did
    # (`rounds [8, 97] postdate` vs the asserted `rounds [97]`).
    assert "postdate" in proc.stdout, proc.stdout
    import re

    m = re.search(r"rounds \[([0-9, ]+)\] postdate", proc.stdout)
    assert m, proc.stdout
    noted = [int(x) for x in m.group(1).split(",")]
    assert fake_round in noted, proc.stdout


def test_oracle_upgraded_subkey_fronts_rank_2():
    """VERDICT r18 #2 mechanism: within rank 2, a witness whose LATEST
    driver check was rows-only (err == no_oracle) but which NOW registers
    an oracle must sort BEFORE every non-upgraded rank-2 entry — even
    ones with strictly older evidence — because its stronger
    rows+schema+value-hash claim has never been driver-tested at all.
    Pure order_key pin on synthetic meta plus the real r19 instance."""
    sys.path.insert(0, os.path.join(REPO, "scripts"))
    from gen_registry_order import order_key

    upgraded_r15 = (2, 15, True)
    plain_r11 = (2, 11, False)
    plain_r15 = (2, 15, False)
    rank1_r12 = (1, 12, False)
    rank3_r17 = (3, 17, False)
    assert order_key(upgraded_r15, "u") < order_key(plain_r11, "p")
    assert order_key(upgraded_r15, "u") < order_key(plain_r15, "p")
    # the subkey never outranks the validity classes around rank 2
    assert order_key(rank1_r12, "a") < order_key(upgraded_r15, "u")
    assert order_key(upgraded_r15, "u") < order_key(rank3_r17, "g")
    # two upgraded entries keep oldest-checked-first between themselves
    assert order_key((2, 14, True), "x") < order_key(upgraded_r15, "u")

    # The real catalog instance this policy exists for: every PENDING
    # oracle upgrade (latest driver check rows-only, oracle now present)
    # must sit inside the 50-entry driver window ahead of non-upgraded
    # rank-2 peers. Asserted over the generator's own meta rather than a
    # hardcoded name: once a driver round confirms an upgrade (as
    # CORRECTNESS_r19 did for semantic_dedup_clustered +
    # embedding_pq_distortion and CORRECTNESS_r20 for embedding_pca), the
    # entry legitimately leaves the window and a name pin goes stale.
    from gen_registry_order import available_rounds, compute_order

    order, meta = compute_order(set(available_rounds()))
    window = order[:50]
    pending_upgrades = [n for n in order if meta[n][0] == 2 and meta[n][2]]
    for n in pending_upgrades[:50]:
        assert n in window, (n, meta[n])


def test_code_fingerprint_counts_code_not_comments_or_docstrings():
    """A comment- or docstring-only edit must neither demote a witness
    to rank 2 nor retime its bench extra; a code edit, an oracle-SQL
    edit included, must do both."""
    sys.path.insert(0, os.path.join(REPO, "scripts"))
    from gen_registry_order import code_fingerprint

    base = '''"""Module doc."""
ORACLES = {"q": "SELECT 1 AS x"}


class K:
    """Class doc."""

    def m(self):
        """Method doc."""
        return 1


def q_x(spark, sf_dir):
    """Witness doc."""
    return spark.range(1)  # trailing comment
'''
    fp = code_fingerprint(base)
    same = [
        base.replace("# trailing comment", "# another comment"),
        base.replace('"""Module doc."""', '"""Reworded module doc."""'),
        base.replace('"""Class doc."""', '"""Reworded class doc."""'),
        base.replace('"""Witness doc."""', '"""Reworded\n    witness doc."""'),
        base.replace('        """Method doc."""\n', ""),
    ]
    for src in same:
        assert code_fingerprint(src) == fp, src
    differ = [
        base.replace("spark.range(1)", "spark.range(2)"),
        base.replace("SELECT 1 AS x", "SELECT 2 AS x"),
        base.replace("return 1", "return 2"),
    ]
    for src in differ:
        assert code_fingerprint(src) != fp, src

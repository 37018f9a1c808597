"""Pins for bench.py's per-pass co-tenancy meter (VERDICT r12 #4).

The meter is what makes `headline_clean_min_total_sec` trustworthy: a
pass is clean iff external (non-session) CPU stayed under the threshold.
These tests pin the arithmetic and the session-attribution direction —
CPU burned by THIS session must not count as external (else every pass
would read dirty and clean-min degenerates to the plain min silently).
The flaky part (absolute external load on a shared box) is deliberately
NOT asserted.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402


def _ambient_external_cores(duration: float = 1.0) -> float:
    """Pre-measure the box's current external-core rate over an idle
    bracket (this process sleeps, so everything the meter sees is kernel
    threads + co-tenants). VERDICT r13 #1: asserting an absolute external
    threshold over a short live window failed twice under real co-tenant
    bursts — the attribution tests below must be read RELATIVE to this
    ambient rate, or skipped outright when the box is already loaded."""
    m = bench._PassMeter()
    m.start()
    time.sleep(duration)
    return m.stop()["external_cores"]


def _burn_own_cpu(seconds: float) -> None:
    t_end = time.process_time() + seconds
    x = 0
    while time.process_time() < t_end:
        x += 1


def test_cpu_totals_monotone_and_session_scoped():
    busy0, own0 = bench._cpu_totals()
    assert busy0 > 0 and own0 > 0  # this pytest process is in the session
    # burn ~0.2s of CPU in THIS process (same session)
    t_end = time.process_time() + 0.2
    x = 0
    while time.process_time() < t_end:
        x += 1
    busy1, own1 = bench._cpu_totals()
    assert busy1 >= busy0 and own1 >= own0
    # our own burn must be attributed to the session, not to external:
    # own grew by roughly the burn (scheduler jitter tolerated)
    assert own1 - own0 >= 0.1


def test_pass_meter_fields_and_clean_rule():
    m = bench._PassMeter()
    m.start()
    time.sleep(0.05)
    out = m.stop()
    assert set(out) >= {
        "elapsed_sec", "load_avg_start", "load_avg_end",
        "external_cpu_sec", "external_cores", "clean",
    }
    assert out["external_cpu_sec"] >= 0.0
    assert out["external_cores"] >= 0.0
    # the clean flag is exactly the threshold comparison — no hidden state
    assert out["clean"] == (
        out["external_cores"] <= bench.CLEAN_PASS_EXTERNAL_CORES
    )


def test_own_session_cpu_not_external():
    """A CPU burn inside this session must not flip a pass dirty: the
    meter's whole point is separating our work from the co-tenant's.

    VERDICT r13 #1 hardening: the original 0.3 s burn with an absolute
    0.9-core assert failed under any real co-tenant burst (read 1.34 and
    2.73 external cores on a loaded box). Now: pre-measure the ambient
    external rate, skip when the box is already loaded (the assert would
    test the co-tenant, not the meter), burn >= 2 s so transient kernel
    activity amortizes, and assert RELATIVE to ambient."""
    ambient = _ambient_external_cores(1.0)
    if ambient > 1.5:
        pytest.skip(f"box already loaded: ambient external {ambient} cores")
    m = bench._PassMeter()
    m.start()
    _burn_own_cpu(2.0)
    out = m.stop()
    # ~2s own CPU over ~2s elapsed would read ~1.0 external core if
    # misattributed; correctly attributed, external stays near ambient.
    assert out["external_cores"] <= ambient + 0.6, (out, ambient)


def test_sibling_session_burn_is_external_but_own_is_not():
    """The r13-mandated companion: under a DELIBERATE concurrent CPU burn
    in a sibling *session* (a co-tenant stand-in), the meter must (a)
    count the sibling's work as external — the attribution direction that
    makes dirty-pass marking work at all — while (b) still not counting
    this session's own concurrent burn as external."""
    # ADVICE r14: the test burns ~1 own core while the sibling burns ~1;
    # on a 1-2 CPU box the scheduler can squeeze the sibling's share to
    # ~0.5 cores, putting assert (a) exactly at its floor — the ambient
    # skip can't see core-count contention.
    if (os.cpu_count() or 1) < 3:
        pytest.skip(f"needs >=3 CPUs for unsqueezed attribution; "
                    f"have {os.cpu_count()}")
    ambient = _ambient_external_cores(1.0)
    if ambient > 1.5:
        pytest.skip(f"box already loaded: ambient external {ambient} cores")
    # VERDICT r19 #4: the upper-bound assert compares against ambient
    # sampled BEFORE the 2 s window, so a co-tenant burst that starts
    # mid-window (another session, a GC) reds it spuriously. Hardening:
    # on an upper-bound miss, re-sample ambient AFTER the window and
    # apply the same load-quiet gate as the pre-check — skip if the box
    # got busy mid-test, retry against the fresher ambient otherwise.
    # Only a miss that persists across quiet-box attempts is a failure.
    attempts = 3
    out: dict = {}
    for _ in range(attempts):
        # ~1 core for up to 6 s, in its OWN session (start_new_session)
        # so the meter's sid match classifies it external; time-bounded
        # so a failed kill can't leak a spinning process.
        burner = subprocess.Popen(
            [sys.executable, "-c",
             "import time\nt=time.time()+6\nwhile time.time()<t: pass"],
            start_new_session=True,
        )
        try:
            time.sleep(0.3)  # let the burner reach its spin loop
            m = bench._PassMeter()
            m.start()
            _burn_own_cpu(2.0)
            out = m.stop()
        finally:
            burner.kill()
            burner.wait()
        # (a) the sibling's ~1 core IS seen as external — a hard floor
        # (co-tenant load can only push external UP, never below it).
        assert out["external_cores"] >= 0.5, (out, ambient)
        # (b) ...but our own ~1-core burn is NOT stacked on top of it:
        # misattribution would read ~2.0+; correct attribution reads
        # ~ambient + 1 sibling core.
        if out["external_cores"] <= ambient + 1.7:
            return
        post = _ambient_external_cores(1.0)
        if post > 1.5:
            pytest.skip(
                f"co-tenant burst mid-window: post-ambient {post} cores"
            )
        ambient = post
    pytest.fail(
        f"own-session burn misattributed as external across {attempts} "
        f"quiet-box attempts: {out} vs ambient {ambient}"
    )


def test_bench_spawns_no_setsid_children():
    """ADVICE r14: the cutime/cstime fold in _cpu_totals assumes every
    child a session process reaps ran IN the session. A bench-side
    subprocess spawned with start_new_session=True (its own sid) and
    reaped mid-pass would move genuinely-external CPU into the
    own-session sum — the optimistic mirror of the documented orphan
    bias. Pin the assumption statically: bench.py contains no setsid /
    start_new_session spawn idiom (the only legitimate user is this test
    file's deliberate sibling burner).

    ADVICE r15 broadening: the original pin only saw ast.Call nodes, so
    it missed `preexec_fn=os.setsid` (an Attribute passed as a kwarg
    value, not a call) and `Popen(..., **kw)` smuggling
    start_new_session through a splat. Now ANY reference to `setsid`
    anywhere in the tree, any `preexec_fn` keyword, and any `**` splat
    into a call (bench.py has none, so a splat appearing at all means
    the static guarantee can no longer be made) are offenders."""
    import ast

    with open(os.path.join(REPO, "bench.py")) as f:
        tree = ast.parse(f.read())
    offenders = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) and node.attr == "setsid":
            offenders.append(f"setsid attribute ref at line {node.lineno}")
        elif isinstance(node, ast.Name) and node.id == "setsid":
            offenders.append(f"setsid name ref at line {node.lineno}")
        elif isinstance(node, ast.Call):
            for kw in node.keywords:
                if kw.arg in ("start_new_session", "preexec_fn"):
                    offenders.append(f"{kw.arg} kwarg at line {node.lineno}")
                elif kw.arg is None:
                    offenders.append(
                        f"**kwargs splat into a call at line {node.lineno}"
                        " (cannot statically rule out start_new_session)"
                    )
    assert not offenders, offenders


# ---- VERDICT r14 #2: dirty-headline-pass retry arithmetic -------------


def test_headline_pass_wanted_base_passes_always_run():
    assert bench._headline_pass_wanted([]) is True
    assert bench._headline_pass_wanted([True]) is True
    assert bench._headline_pass_wanted([True, True]) is True


def test_headline_pass_wanted_stops_when_target_clean_met():
    # 2+ clean after the base 3 -> no retry
    assert bench._headline_pass_wanted([True, True, False]) is False
    assert bench._headline_pass_wanted([True, True, True]) is False
    # the r14 failure shape — 1 clean of 3 -> retry
    assert bench._headline_pass_wanted([False, True, False]) is True
    # retry succeeded -> stop at 4 passes
    assert bench._headline_pass_wanted([False, True, False, True]) is False
    # retry dirty too -> one more
    assert bench._headline_pass_wanted([False, False, False, False]) is True


def test_headline_pass_wanted_budget_bounded():
    # never exceeds base + max_extra even with zero clean passes
    flags = [False] * (bench.HEADLINE_BASE_PASSES + bench.HEADLINE_MAX_EXTRA_PASSES)
    assert bench._headline_pass_wanted(flags) is False


def test_headline_sample_passes_quiet_box_is_median_of_3():
    # all clean -> first 3 passes, not flagged: the historical series
    idx, dirty = bench._headline_sample_passes([True, True, True])
    assert idx == [0, 1, 2] and dirty is False


def test_headline_sample_passes_skips_dirty():
    idx, dirty = bench._headline_sample_passes([False, True, False, True])
    assert idx == [1, 3] and dirty is False
    idx, dirty = bench._headline_sample_passes([True, False, True])
    assert idx == [0, 2] and dirty is False


def test_headline_sample_passes_flags_when_under_target():
    # <2 clean even after retries -> all passes kept, flagged dirty
    idx, dirty = bench._headline_sample_passes([False, False, False, True, False])
    assert idx == [0, 1, 2, 3, 4] and dirty is True
    idx, dirty = bench._headline_sample_passes([False] * 5)
    assert idx == [0, 1, 2, 3, 4] and dirty is True


def test_headline_retry_never_runs_more_than_budget():
    """Simulate the full driver loop for every clean/dirty oracle and
    check the invariants: pass count within [base, base+max_extra]; the
    loop stops as soon as the target clean count is met; the sample is
    clean-only whenever >= target clean passes exist."""
    import itertools

    base = bench.HEADLINE_BASE_PASSES
    max_extra = bench.HEADLINE_MAX_EXTRA_PASSES
    for outcome in itertools.product(
        [True, False], repeat=base + max_extra
    ):
        flags: list[bool] = []
        while bench._headline_pass_wanted(flags):
            flags.append(outcome[len(flags)])
        assert base <= len(flags) <= base + max_extra
        clean_total = sum(flags)
        if clean_total >= bench.HEADLINE_TARGET_CLEAN:
            # stopped at the first point the target was met (no wasted
            # passes): removing the last pass must drop below target or
            # be within the base passes
            assert (
                len(flags) == base
                or sum(flags[:-1]) < bench.HEADLINE_TARGET_CLEAN
            )
            idx, dirty = bench._headline_sample_passes(flags)
            assert dirty is False and all(flags[i] for i in idx)
        else:
            assert len(flags) == base + max_extra
            idx, dirty = bench._headline_sample_passes(flags)
            assert dirty is True and idx == list(range(len(flags)))


# ---- ADVICE r14: extras commit uses the clean pass when one is dirty ---


def test_extras_commit_all_clean_keeps_cold_first_pass():
    samples = {"q": [2.0, 1.5], "r": [3.0, 3.5]}
    cold, mins, clean, cold_pass = bench._extras_commit(samples, [True, True])
    assert clean is True
    assert cold == {"q": 2.0, "r": 3.0}          # first cold pass
    assert mins == {"q": 1.5, "r": 3.0}          # min of both
    assert cold_pass == 0                        # historical cold series


def test_extras_commit_one_dirty_takes_clean_pass():
    samples = {"q": [9.0, 1.5]}                  # pass 0 co-tenanted
    cold, mins, clean, cold_pass = bench._extras_commit(samples, [False, True])
    assert clean is True                          # committed value IS clean
    assert cold == {"q": 1.5} and mins == {"q": 1.5}
    # ADVICE r15: the committed cold came from the WARM pass — the index
    # makes that auditable in BENCH_DETAIL instead of invisible drift
    assert cold_pass == 1
    # symmetric: dirty second pass
    cold, mins, clean, cold_pass = bench._extras_commit(
        {"q": [1.5, 9.0]}, [True, False]
    )
    assert clean is True
    assert cold == {"q": 1.5} and mins == {"q": 1.5}
    assert cold_pass == 0


def test_extras_commit_both_dirty_stamps_false_for_retime():
    samples = {"q": [9.0, 8.0]}
    cold, mins, clean, cold_pass = bench._extras_commit(samples, [False, False])
    assert clean is False                         # forces retime next run
    assert cold == {"q": 9.0} and mins == {"q": 8.0}
    assert cold_pass == 0                         # historical fallback


# ---- ADVICE r15: short clean samples are a different estimator ---------


def test_headline_sample_short_flag():
    """Exactly 2 clean passes -> 2-element sample whose 'median'
    (sorted[1]) is the larger value: an upward-biased estimator vs the
    historical median-of-3, flagged as `short` while `dirty` stays
    False. 3+ clean passes or a dirty (all-pass) sample are NOT short."""
    # 2 clean of 4 -> sample [1, 3]: short, not dirty
    idx, dirty = bench._headline_sample_passes([False, True, False, True])
    assert bench._headline_sample_short(idx, dirty) is True
    # quiet box: 3 clean -> the historical median-of-3, not short
    idx, dirty = bench._headline_sample_passes([True, True, True])
    assert bench._headline_sample_short(idx, dirty) is False
    # 4 clean passes: sample is first 3 clean, not short
    idx, dirty = bench._headline_sample_passes([True, True, False, True, True])
    assert len(idx) == 3
    assert bench._headline_sample_short(idx, dirty) is False
    # under target: ALL passes kept and flagged dirty — dirty wins,
    # short stays False so the two flags never double-report one cause
    idx, dirty = bench._headline_sample_passes([False] * 5)
    assert dirty is True
    assert bench._headline_sample_short(idx, dirty) is False


# ---- bench artifacts are scoped by SF ----------------------------------


def test_detail_name_per_sf_and_anchor_flag():
    """Only an sf0.1 run may write the sf0.1 files; the anchor flag
    cannot make another SF overwrite BENCH_DETAIL.json."""
    assert bench._detail_name(0.1, False, 24) == "BENCH_DETAIL_r24_close.json"
    assert bench._detail_name(0.1, True, 24) == "BENCH_DETAIL.json"
    for anchor in (False, True):
        assert bench._detail_name(1.0, anchor, 24) == "BENCH_DETAIL_sf1_r24_close.json"
        assert (
            bench._detail_name(0.01, anchor, 7) == "BENCH_DETAIL_sf0.01_r7_close.json"
        )


def test_no_extras_planned_off_anchor():
    """The carried extras are sf0.1 timings: another SF neither carries
    nor retimes them."""
    for sf in (0.001, 0.01, 1.0):
        assert bench._extras_plan({}, sf) == ([], {}, {}, {})


def test_anchor_extras_plan_covers_every_extra():
    """At sf0.1 each extra is either retimed or carried from the
    committed BENCH_DETAIL.json, with meta either way."""
    from gasket_rs_spark.registry import all_queries

    to_time, carried, carried_min, meta = bench._extras_plan(all_queries(), 0.1)
    assert sorted(to_time + list(carried)) == sorted(bench.EXTRAS)
    assert set(carried_min) == set(carried) and set(meta) == set(bench.EXTRAS)


def test_importing_bench_leaves_sys_path_and_modules_alone():
    code = (
        "import sys; sys.path.append(sys.argv[1]); before = list(sys.path); "
        "import bench; assert sys.path == before, sys.path; "
        "assert not {'pyspark', 'gasket_rs_spark'} & set(sys.modules)"
    )
    subprocess.run([sys.executable, "-c", code, REPO], cwd="/", check=True, timeout=60)

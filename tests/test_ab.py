"""Pins for scripts/ab.py, the interleaved two-revision A/B harness.

JVM-free: the summary rule, the alternating arm order, end-to-end runs
with tiny ``python3 -c`` commands (working-tree arms, and revision arms
in a throwaway git repository), the aborts on a ``digest`` mismatch and
on ``correct: false``, and worktree cleanup when the harness is
interrupted mid-round.
"""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import time

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
AB = os.path.join(REPO, "scripts", "ab.py")
sys.path.insert(0, os.path.join(REPO, "scripts"))

import ab  # noqa: E402

A = [2.0, 2.1, 2.2, 2.3, 2.4, 2.5, 2.6, 2.7, 2.8, 2.9]  # median 2.45, IQR 0.45


def _result(value: str, digest: str = "", correct: str = "True") -> str:
    """A ``python3 -c`` program printing one perfbench-shaped result line."""
    extra = f', "digest": {digest}' if digest else ""
    return (
        "import json, uuid; print(json.dumps({'correct': " + correct
        + ", 'failed': 0, 'metrics': {'t': {'value': " + value + "}}" + extra + "}))"
    )


def _ab(*args: str, cwd: str = REPO) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, AB, *args], cwd=cwd, capture_output=True, text=True,
        timeout=60,
    )


def test_gain_needs_nine_of_ten_wins_and_gap_over_iqr():
    s = ab.summarize(A, [a - 1.0 for a in A[:9]] + [A[9] + 0.1], 0, 0)
    assert (s["b_wins"], s["a_wins"], s["ties"]) == (9, 1, 0)
    assert s["a"]["median"] == pytest.approx(2.45)
    assert s["a_iqr"] == pytest.approx(0.45)
    assert s["gap"] > s["a_iqr"] and s["gain"] is True


def test_eight_of_ten_wins_is_no_gain():
    s = ab.summarize(A, [a - 1.0 for a in A[:8]] + [a + 0.1 for a in A[8:]], 0, 0)
    assert s["b_wins"] == 8 and s["gain"] is False


def test_all_wins_with_gap_inside_iqr_is_no_gain():
    s = ab.summarize(A, [a - 0.05 for a in A], 0, 0)
    assert s["b_wins"] == 10
    assert s["gap"] == pytest.approx(0.05) and s["gain"] is False


def test_ties_count_for_neither_side():
    s = ab.summarize(A, [a - 1.0 for a in A[:9]] + [A[9]], 0, 0)
    assert (s["b_wins"], s["a_wins"], s["ties"]) == (9, 0, 1)
    assert s["gain"] is True  # 9 wins of 10 pairs run
    s = ab.summarize(A, [a - 1.0 for a in A[:8]] + A[8:], 0, 0)
    assert (s["b_wins"], s["a_wins"], s["ties"]) == (8, 0, 2)
    assert s["gain"] is False  # ties do not lift 8 wins to 9


def test_fewer_than_ten_pairs_is_no_gain():
    s = ab.summarize(A[:9], [a - 1.0 for a in A[:9]], 0, 0)
    assert s["b_wins"] == 9 and s["gap"] > s["a_iqr"] and s["gain"] is False


def test_more_failures_in_b_is_no_gain():
    s = ab.summarize(A, [a - 1.0 for a in A], 0, 1)
    assert s["b_wins"] == 10 and s["gain"] is False


def test_working_tree_arms_end_to_end_alternate_order():
    out = _ab("--rounds", "3", "--metric", "t", ".", ".", "--",
              "python3", "-c", _result("{round}"))
    assert out.returncode == 0, out.stderr
    s = json.loads(out.stdout)
    assert s["metric"] == "t"
    assert s["a"]["values"] == s["b"]["values"] == [0.0, 1.0, 2.0]
    assert (s["pairs"], s["ties"], s["gain"]) == (3, 3, False)
    runs = [
        ln.split()[2:4] for ln in out.stderr.splitlines() if ln.startswith("ab: round")
    ]
    # A first on even rounds, B first on odd ones
    assert runs == [
        ["0", "a"], ["0", "b"], ["1", "b"], ["1", "a"], ["2", "a"], ["2", "b"],
    ]


def test_abort_on_digest_mismatch():
    out = _ab("--rounds", "2", "--metric", "t", ".", ".", "--",
              "python3", "-c", _result("1", digest="uuid.uuid4().hex"))
    assert out.returncode != 0 and "outputs differ" in out.stderr
    assert out.stdout == ""


def test_abort_on_incorrect_run():
    out = _ab("--rounds", "2", "--metric", "t", ".", ".", "--",
              "python3", "-c", _result("1", correct="False"))
    assert out.returncode != 0 and "not correct" in out.stderr
    assert out.stdout == ""


def _git(cwd: str, *args: str) -> str:
    return subprocess.run(
        ["git", "-c", "user.name=ab", "-c", "user.email=ab@localhost", *args],
        cwd=cwd, check=True, capture_output=True, text=True,
    ).stdout


@pytest.fixture
def two_commit_repo(tmp_path):
    """HEAD~1 reports 5.0 and HEAD 3.0 through a module only PYTHONPATH
    can reach (``python3 -P`` drops cwd from sys.path)."""
    repo = str(tmp_path / "repo")
    os.makedirs(repo)
    _git(repo, "init", "-q")
    for value in ("5.0", "3.0"):
        with open(os.path.join(repo, "probe.py"), "w") as f:
            f.write(f"VALUE = {value}\n")
        _git(repo, "add", "probe.py")
        _git(repo, "commit", "-q", "-m", value)
    return repo


def _worktrees(repo: str) -> list[str]:
    return _git(repo, "worktree", "list").splitlines()


def test_revision_arms_run_in_their_own_worktrees(two_commit_repo):
    out = _ab("--rounds", "10", "--metric", "t", "HEAD~1", "HEAD", "--",
              "python3", "-P", "-c", "import probe; " + _result("probe.VALUE"),
              cwd=two_commit_repo)
    assert out.returncode == 0, out.stderr
    s = json.loads(out.stdout)
    assert s["a"]["values"] == [5.0] * 10 and s["b"]["values"] == [3.0] * 10
    assert s["b_wins"] == 10 and s["gain"] is True
    assert len(_worktrees(two_commit_repo)) == 1
    assert _git(two_commit_repo, "status", "--porcelain") == ""


@pytest.mark.parametrize("sig", [signal.SIGINT, signal.SIGTERM], ids=["int", "term"])
def test_interrupt_mid_round_removes_worktrees(two_commit_repo, tmp_path, sig):
    pid_file = tmp_path / "pid"
    sleeper = (
        f"import os, time; open({str(pid_file)!r}, 'w').write(str(os.getpid())); "
        "time.sleep(60)"
    )
    proc = subprocess.Popen(
        [sys.executable, AB, "HEAD~1", "HEAD", "--", "python3", "-c", sleeper],
        cwd=two_commit_repo, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
    )
    try:
        deadline = time.monotonic() + 20
        while not (pid_file.exists() and pid_file.read_text()):
            assert time.monotonic() < deadline, "the arm never started"
            time.sleep(0.05)
        assert len(_worktrees(two_commit_repo)) == 3
        proc.send_signal(sig)
        proc.wait(timeout=20)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    assert proc.returncode != 0
    assert len(_worktrees(two_commit_repo)) == 1
    assert _git(two_commit_repo, "status", "--porcelain") == ""
    with pytest.raises(ProcessLookupError):
        os.kill(int(pid_file.read_text()), 0)

"""Pins for the round-11 event-analytics additions (analytics.py):
windowed funnel and session trigram mining — cross-operator invariants
the per-witness value hashes can't express."""

from __future__ import annotations

from gasket_rs_spark.operators.analytics import (
    q_funnel_conversion,
    q_funnel_windowed,
    q_session_path_transitions,
    q_session_trigrams,
)
from gasket_rs_spark.tables import events_with_sec


def test_windowed_funnel_monotone_and_bounded_by_unbounded(spark, sf_dir):
    win = sorted(q_funnel_windowed(spark, sf_dir).collect(), key=lambda r: r.window_sec)
    assert [r.window_sec for r in win] == [3600, 86400, 604800]
    unb = q_funnel_conversion(spark, sf_dir).collect()[0]
    # wider window => weakly more conversions at every stage
    for col in ("n_clicked_within", "n_purchased_within"):
        vals = [r[col] for r in win]
        assert vals == sorted(vals)
    for r in win:
        # every windowed completion is also an unbounded completion
        assert r.n_clicked_within <= unb.n_clicked_after
        assert r.n_purchased_within <= unb.n_purchased_after
        # funnel stages only narrow
        assert r.n_signed_up >= r.n_clicked_within >= r.n_purchased_within


def test_session_trigrams_consistent_with_transitions(spark, sf_dir):
    tris = q_session_trigrams(spark, sf_dir).collect()
    assert tris
    ns = [r.n for r in tris]
    assert ns == sorted(ns, reverse=True)
    # each trigram (a,b,c) implies transitions (a,b) and (b,c): its count
    # cannot exceed either pair count
    pairs = {
        (r.from_type, r.to_type): r.n_transitions
        for r in q_session_path_transitions(spark, sf_dir).collect()
    }
    for r in tris:
        assert r.n <= pairs[(r.t1, r.t2)]
        assert r.n <= pairs[(r.t2, r.t3)]


def test_ewma_weights_are_exact_geometric():
    from gasket_rs_spark.operators.analytics import _EWMA_L, _ewma_weights

    w = _ewma_weights()
    assert len(w) == _EWMA_L
    assert w[0] == 4 ** (_EWMA_L - 1)
    # exact ratio 3/4 between consecutive weights — no float ever involved
    for a, b in zip(w, w[1:]):
        assert 4 * b == 3 * a


def test_ewma_weekly_matches_python_reference(spark, sf_dir):
    from collections import defaultdict

    from gasket_rs_spark.operators.analytics import (
        _EWMA_L,
        _ewma_weights,
        q_ewma_weekly,
    )

    ev = events_with_sec(spark, sf_dir).collect()
    counts = defaultdict(int)
    weeks, types = set(), set()
    for r in ev:
        wk = r.ts_sec // 604800
        counts[(r.event_type, wk)] += 1
        weeks.add(wk)
        types.add(r.event_type)
    W = _ewma_weights()
    expected = {}
    for t in types:
        series = [(wk, counts.get((t, wk), 0)) for wk in sorted(weeks)]
        for i, (wk, c) in enumerate(series):
            num = den = 0
            for j in range(min(_EWMA_L, i + 1)):
                num += W[j] * series[i - j][1]
                den += W[j]
            ewma6 = num * 1_000_000 // den
            expected[(t, wk)] = (c, ewma6, c * 1_000_000 - ewma6)
    rows = q_ewma_weekly(spark, sf_dir).collect()
    got = {(r.event_type, r.week): (r.c, r.ewma6, r.resid6) for r in rows}
    assert got == expected


def test_conformal_quantile_matches_python_and_guarantees_coverage(spark, sf_dir):
    from collections import defaultdict

    from gasket_rs_spark.operators.analytics import (
        q_conformal_quantile,
    )

    vals = defaultdict(list)
    import math

    for r in events_with_sec(spark, sf_dir).select("event_type", "value").collect():
        vals[r.event_type].append(int(math.floor(r.value * 100 + 0.5)))
    rows = {r.event_type: r for r in q_conformal_quantile(spark, sf_dir).collect()}
    assert set(rows) == set(vals)
    for t, cents in vals.items():
        n, s = len(cents), sum(cents)
        scores = sorted(abs(n * c - s) for c in cents)
        k = (9 * (n + 1) + 9) // 10
        got = rows[t]
        assert (got.n, got.k, got.q_score) == (n, k, scores[k - 1])
        n_le = sum(1 for x in scores if x <= scores[k - 1])
        assert got.n_le == n_le
        assert got.cov6 == n_le * 1_000_000 // n
        # split-conformal finite-sample guarantee: coverage >= k/n >= 0.9
        assert got.cov6 >= 900_000


def test_daily_counts_zero_fill_per_type_and_overall(spark):
    """The daily-grid builder behind the nine zero-filled series
    witnesses: a day without events and a type absent on one day must
    read count 0, not be missing — the fixture pins recompute those
    witnesses on data with no such gaps."""
    from pyspark.sql import functions as F

    from gasket_rs_spark.operators.analytics import _daily_counts

    d0 = 19_000 * 86_400  # day 19000; day 19001 has no events at all
    ev = spark.createDataFrame(
        [
            ("click", d0 + 5),
            ("click", d0 + 60),
            ("view", d0 + 70),
            ("click", d0 + 2 * 86_400 + 1),  # no view on day 19002
        ],
        "event_type string, ts_sec bigint",
    )
    per_type = {
        (r.event_type, r.day): r.c for r in _daily_counts(ev, by_type=True).collect()
    }
    assert per_type == {
        ("click", 19000): 2, ("click", 19001): 0, ("click", 19002): 1,
        ("view", 19000): 1, ("view", 19001): 0, ("view", 19002): 0,
    }
    overall = {r.day: r.c for r in _daily_counts(ev).collect()}
    assert overall == {19000: 3, 19001: 0, 19002: 1}
    views = _daily_counts(ev, nv=F.sum((F.col("event_type") == "view").cast("bigint")))
    assert {r.day: r.nv for r in views.collect()} == {19000: 1, 19001: 0, 19002: 0}

"""Property pins for the round-11 wave-4 operators — the invariants the
driver's value-hash gate can't see (conservation laws, python third
opinions, plan shapes)."""

from __future__ import annotations

import hashlib
from collections import defaultdict

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from gasket_rs_spark.tables import events_with_sec


def test_markov_matches_pure_python_and_conserves_mass(spark, sf_dir):
    from gasket_rs_spark.operators.analytics import (
        _MARKOV_ITERS,
        _MARKOV_START,
        q_markov_stationary,
    )

    t = pq.read_table(f"{sf_dir}/events.parquet",
                      columns=["user_id", "event_id", "ts", "event_type"])
    rows = sorted(
        zip(t["user_id"].to_pylist(),
            [v.timestamp() for v in t["ts"].to_pylist()],
            t["event_id"].to_pylist(), t["event_type"].to_pylist())
    )
    per_user = defaultdict(list)
    for u, ts, eid, ty in rows:
        per_user[u].append((int(ts) // 1 if ts >= 0 else None, ts, eid, ty))
    trans = defaultdict(int)
    for u, evs in per_user.items():
        evs.sort(key=lambda e: (int(e[1]), e[2]))
        for (_, _, _, a), (_, _, _, b) in zip(evs, evs[1:]):
            trans[(a, b)] += 1
    r = defaultdict(int)
    for (a, _), c in trans.items():
        r[a] += c
    pi = {s: _MARKOV_START for s in r}
    for _ in range(_MARKOV_ITERS):
        nxt = defaultdict(int)
        for (a, b), c in trans.items():
            if a in pi:
                nxt[b] += (pi[a] * c) // r[a]
        pi = dict(nxt)
    got = {row["state"]: row["pi_micro"]
           for row in q_markov_stationary(spark, sf_dir).collect()}
    assert got == pi
    # truncation only ever LEAKS mass: total stays in (0.99e6, 1e6]
    assert 990_000 < sum(got.values()) <= 1_000_000


def test_attribution_credit_conservation(spark, sf_dir):
    """Each converted purchase awards exactly one last-touch and one
    first-touch; linear credit per purchase is <= 1e6 (floor leak)."""
    from gasket_rs_spark.operators.analytics import (
        q_attribution_multi_touch,
    )

    rows = q_attribution_multi_touch(spark, sf_dir).collect()
    n_last = sum(r["n_last_touch"] for r in rows)
    n_first = sum(r["n_first_touch"] for r in rows)
    assert n_last == n_first  # both count converted purchases once
    # recompute converted-purchase count independently
    ev = events_with_sec(spark, sf_dir)
    t = ev.where(F.col("event_type").isin("click", "view", "signup")).select(
        F.col("user_id").alias("tu"), F.col("ts_sec").alias("t_sec")
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("event_id").alias("pid"),
        F.col("ts_sec").alias("p_sec")
    )
    converted = (
        p.join(t, (F.col("tu") == F.col("pu"))
               & (F.col("t_sec") <= F.col("p_sec"))
               & (F.col("t_sec") > F.col("p_sec") - 7200))
        .select("pid").distinct().count()
    )
    assert n_last == converted
    total_linear = sum(r["linear_micro"] for r in rows)
    assert total_linear <= converted * 1_000_000
    assert total_linear > converted * 900_000  # floor leak is bounded


def test_local_clustering_consistent_with_global_triangles(spark, sf_dir):
    """Sum of per-node triangle credits = 3 x the global triangle count,
    and every lcc6 is a valid [0, 1e6] ratio."""
    from gasket_rs_spark.operators.graph import (
        q_graph_triangles,
        q_local_clustering_coefficient,
    )

    lcc = q_local_clustering_coefficient(spark, sf_dir).collect()
    glob = q_graph_triangles(spark, sf_dir).collect()[0]
    assert sum(r["tri"] for r in lcc) == 3 * glob["n_triangles"]
    for r in lcc:
        assert 0 <= r["lcc6"] <= 1_000_000


def test_precision_curve_hits_monotone_and_bounded(spark, sf_dir):
    from gasket_rs_spark.operators.similarity import q_precision_at_k

    rows = sorted(q_precision_at_k(spark, sf_dir).collect(),
                  key=lambda r: r["k"])
    assert [r["k"] for r in rows] == list(range(1, 11))
    hits = [r["hits"] for r in rows]
    assert hits == sorted(hits)  # cumulative
    for r in rows:
        assert r["hits"] <= r["n_q"] * r["k"]
        assert 0 <= r["prec6"] <= 1_000_000


def test_linear_classifier_matches_pure_python(spark, sf_dir):
    from gasket_rs_spark.operators.curation import (
        _LQC_BUCKETS,
        _lqc_weights,
        q_linear_quality_classifier,
    )

    w = _lqc_weights()
    t = pq.read_table(f"{sf_dir}/documents.parquet", columns=["lang", "text"])
    agg = defaultdict(lambda: [0, 0, 0])
    for lang, text in zip(t["lang"].to_pylist(), t["text"].to_pylist()):
        s = sum(
            w[int(hashlib.md5(tok.encode()).hexdigest()[:4], 16) % _LQC_BUCKETS]
            for tok in text.split(" ")
        )
        a = agg[lang]
        a[0] += 1
        a[1] += s > 0
        a[2] += s
    got = {r["lang"]: (r["n_docs"], r["n_keep"], r["sum_score"], r["keep6"])
           for r in q_linear_quality_classifier(spark, sf_dir).collect()}
    want = {lang: (n, k, s, k * 1000000 // n) for lang, (n, k, s) in agg.items()}
    assert got == want


def test_wave4_plan_shapes(spark, sf_dir):
    """Scale pins: the classifier is one scan with no join/window/UDF;
    attribution and markov transition extraction have no cartesian."""
    from gasket_rs_spark.operators.analytics import q_attribution_multi_touch
    from gasket_rs_spark.operators.curation import q_linear_quality_classifier
    from gasket_rs_spark.plans.inspect import assert_no_cartesian, count_operator

    lqc = q_linear_quality_classifier(spark, sf_dir)
    assert count_operator(lqc, "Join") == 0
    assert count_operator(lqc, "Window") == 0
    assert count_operator(lqc, "Scan parquet") == 1
    assert_no_cartesian(q_attribution_multi_touch(spark, sf_dir))

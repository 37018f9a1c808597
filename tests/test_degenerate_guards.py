"""Cross-engine pins for the denominator guards (ADVICE r11 + the
round-12 class sweep).

The advisor's finding generalized: several estimators divide by a
data-dependent quantity that is zero on degenerate-but-legal inputs
(all-tied series, single-category table, one-document group, all-failure
A/B split). Unguarded, the division DIVERGES between engines — verified
round 13 on this stack: Spark 4's default-ANSI session RAISES
DIVIDE_BY_ZERO (one degenerate row kills the whole job at scale) while
DuckDB returns NULL for float division (raising only for integer //) —
invisible at the three fixture SFs, data-dependent in production. Every
such site now carries greatest(..., 1) identically
on both engines; these tests evaluate the EXACT guarded expression
strings on both engines at the degenerate points and assert equal,
finite results — the divergence test the fixtures can't run.
"""

from __future__ import annotations

import duckdb
import pytest

# (label, engine-portable scalar SQL, expected value)
# Each expression is the operator's guarded denominator spelling
# instantiated at a degenerate point (see the operator docstrings).
CASES = [
    (
        # mann_kendall_trend: 5 days, all counts equal -> s=0 and
        # tie_num = n(n-1)(2n+5) -> variance term 0
        "mann_kendall_all_tied",
        "CAST(floor((CAST(0 AS DOUBLE) - 0.0)"
        " / sqrt(CAST(greatest(5 * (5 - 1) * (2 * 5 + 5) - 300, 1)"
        " AS DOUBLE) / 18.0) * 1e6 + 0.5) AS BIGINT)",
        0,
    ),
    (
        # kendall_tau: every pair tied on x -> (n0-tx)*(n0-ty) = 0.
        # ADVICE r12 spelling: the product is computed in DOUBLE inside
        # the guard — the int64 spelling overflows ~n^4/4 past ~80k
        # rows/group if the sample cap is ever lifted
        "kendall_tau_all_tied_x",
        "CAST(floor(CAST(0 - 0 AS DOUBLE)"
        " / sqrt(greatest(CAST(3 - 3 AS DOUBLE) * CAST(3 - 1 AS DOUBLE),"
        " 1.0)) * 1e6 + 0.5) AS BIGINT)",
        0,
    ),
    (
        # kendall_tau guard-overflow regression (the reason for the
        # DOUBLE spelling): n0 = 80k-row group's pair count ~3.2e9;
        # (n0-tx)*(n0-ty) ~1e19 > int64 max — exact in DOUBLE up to the
        # sqrt, and the guarded expression must agree cross-engine
        "kendall_tau_large_group_no_overflow",
        "CAST(floor(CAST(1000000 AS DOUBLE)"
        " / sqrt(greatest(CAST(3199960000 AS DOUBLE)"
        " * CAST(3199960000 AS DOUBLE), 1.0)) * 1e6 + 0.5) AS BIGINT)",
        313,  # floor(1e6 / 3.19996e9 * 1e6 + 0.5)
    ),
    (
        # cramers_v: single-category row dimension -> least(r-1,c-1) = 0
        # (chi2 is necessarily 0 for a 1xC table)
        "cramers_v_single_category",
        "CAST(floor(sqrt(0.0 / (CAST(30 AS DOUBLE)"
        " * CAST(greatest(least(1 - 1, 3 - 1), 1) AS DOUBLE)))"
        " * 1e6 + 0.5) AS BIGINT)",
        0,
    ),
    (
        # two_proportion_ztest: zero successes in both arms -> pooled
        # variance 0 (numerator is also 0)
        "ztest_all_failures",
        "CAST(floor(CAST(0 * 7 - 0 * 5 AS DOUBLE)"
        " / sqrt(CAST(greatest((0 + 0) * (5 + 7 - 0 - 0), 1) AS DOUBLE)"
        " * CAST(greatest(5 * 7, 1) AS DOUBLE)"
        " / CAST(greatest(5 + 7, 1) AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)",
        0,
    ),
    (
        # spearman: a one-document group -> n^3 - n = 0 (sd2 = 0; the
        # guard makes the trivial group read rho = 1)
        "spearman_single_row_group",
        "CAST(floor((1.0 - 1.5 * CAST(0 AS DOUBLE)"
        " / greatest(CAST(1 AS DOUBLE) * CAST(1 AS DOUBLE)"
        " * CAST(1 AS DOUBLE) - CAST(1 AS DOUBLE), 1.0))"
        " * 1e6 + 0.5) AS BIGINT)",
        1_000_000,
    ),
    (
        # simpson_diversity: single-token source -> n(n-1) = 0; and the
        # all-distinct source -> simpson6 = 0 feeding the second division
        "simpson_single_token",
        "CAST(floor(CAST(0 AS DOUBLE)"
        " / CAST(greatest(1 * (1 - 1), 1) AS DOUBLE) * 1e6 + 0.5)"
        " AS BIGINT)",
        0,
    ),
    (
        "simpson_effective_vocab_all_distinct",
        "CAST(floor(1e12 / CAST(greatest(0, 1) AS DOUBLE) + 0.5) AS BIGINT)",
        1_000_000_000_000,
    ),
    (
        # chao1 (bias-corrected): singletons but no doubletons — defined
        # without any ad-hoc guard: f1(f1-1)/(2(f2+1))
        "chao1_no_doubletons",
        "CAST(floor(CAST(3 * (3 - 1) * 1000000 AS DOUBLE)"
        " / CAST(2 * (0 + 1) AS DOUBLE) + 0.5) AS BIGINT)",
        3_000_000,
    ),
    (
        # rag_retrieval_pipeline dense cosine (ADVICE r12): a zero
        # embedding -> qnrm*nrm = 0; guarded 0/1e-12 = 0 on both engines
        # (unguarded: NaN -> Spark BIGINT 0, DuckDB raises)
        "rag_dense_cosine_zero_norm",
        "CAST(floor(0.0 / greatest(0.0 * 1.5, 1e-12) * 1e6 + 0.5)"
        " AS BIGINT)",
        0,
    ),
    (
        # rag/maxsim 8-dim sub-vector kernel: an all-zero sub-vector ->
        # qn[i]*nrm8[j] = 0; same guard, same degenerate value
        "maxsim_zero_subvector_norm",
        "CAST(floor(0.0 / greatest(0.0 * 0.0, 1e-12) * 1e6 + 0.5)"
        " AS BIGINT)",
        0,
    ),
    (
        # dedup_embedding_cosine / similarity_topk round-spelling: the
        # 6dp-rounded cosine of a zero-norm pair reads 0.0, not NaN —
        # the >= threshold filter then DROPS it identically per engine
        # (unguarded, Spark's NaN >= 0.4 is false but DuckDB's NaN sorts
        # greatest and passes — a silent row-set divergence)
        "embedding_cosine_zero_norm_rounded",
        "round(0.0 / greatest(0.0 * 2.0, 1e-12), 6) >= 0.4",
        False,
    ),
    (
        # ks_two_sample: corpus with only one language side -> na*nb = 0
        # (gap_x is necessarily 0 too)
        "ks_one_sided_corpus",
        "floor(CAST(0 AS DOUBLE) / greatest(CAST(30 * 0 AS DOUBLE), 1.0)"
        " * 1e6 + 0.5) / 1e6",
        0.0,
    ),
    (
        # auc_exact: single-class corpus -> 2*n_pos*n_neg = 0
        "auc_single_class",
        "floor(CAST(0 AS DOUBLE)"
        " / greatest(CAST(2 * 30 * 0 AS DOUBLE), 1.0) * 1e6 + 0.5) / 1e6",
        0.0,
    ),
    (
        # roc_curve: single-class corpus -> n_neg = 0; guarded integer
        # rate reads 0 (tp side shown; fp mirrors)
        "roc_single_class_rate",
        "CAST(floor(CAST(0 * 1000000 AS DOUBLE)"
        " / greatest(CAST(0 AS DOUBLE), 1.0)) AS BIGINT)",
        0,
    ),
    (
        # mann_whitney rank-biserial: a lang whose every doc shares one
        # source -> n2 = 0 -> u2 = 0; greatest(n1*n2, 1) makes the
        # truncating division read 0 and rb6 = -1e6 on both engines
        # (portable floor spelling: u2 = 0 so floor == trunc == div)
        "mann_whitney_single_source_lang",
        "CAST(floor(CAST(0 * 1000000 AS DOUBLE)"
        " / greatest(CAST(5 * 0 AS DOUBLE), 1.0)) AS BIGINT) - 1000000",
        -1_000_000,
    ),
    (
        # bitext_margin_mine: degree sums are SIGNED top-K cosine sums;
        # ADVICE r13 — only the exact-zero point (ANSI DIVIDE_BY_ZERO)
        # is rewritten to 1, via CASE on both engines
        "bitext_zero_degree_sum",
        "floor(CAST(100 * 2 * 4 AS DOUBLE)"
        " / (CASE WHEN 0 + 0 = 0 THEN 1 ELSE 0 + 0 END)"
        " * 1e6 + 0.5) / 1e6",
        800.0,
    ),
    (
        # bitext_margin_mine negative denominator (ADVICE r13): a
        # legitimately negative degree sum must KEEP its sign — the old
        # greatest(..., 1) guard rewrote it to 1, flipping the margin
        # from negative (pair dropped by margin >= TAU) to large
        # positive (pair kept). floor rounds toward -inf on both engines.
        "bitext_negative_degree_sum_keeps_sign",
        "floor(CAST(100 * 2 * 4 AS DOUBLE)"
        " / (CASE WHEN -250 + -150 = 0 THEN 1 ELSE -250 + -150 END)"
        " * 1e6 + 0.5) / 1e6",
        -2.0,  # floor(-1999999.5) = -2000000 (floor is toward -inf)
    ),
    (
        # embedding_mmd_labels: one label entirely absent -> na*nb = 0
        # (gap term reads the squared raw sum over the guard's 1.0)
        "mmd_one_label_absent",
        "CAST(floor((CAST(0 * 0 - 15 AS DOUBLE)"
        " / greatest(CAST(3 * 0 AS DOUBLE), 1.0))"
        " * (CAST(0 * 0 - 15 AS DOUBLE)"
        " / greatest(CAST(3 * 0 AS DOUBLE), 1.0)) + 0.5) AS BIGINT)",
        225,
    ),
    (
        # stream_left/full_outer_join_sim (ADVICE r12): with one side
        # absent the watermark scalar is NULL, and the null-extension
        # predicate ts < NULL must evaluate NULL (row filtered) on both
        # engines — never true
        "stream_join_one_sided_watermark",
        "coalesce(CAST(5 < (CASE WHEN 1 = 2 THEN 3 END) AS INT), -1)",
        -1,
    ),
    (
        # cohens_kappa: a single-category confusion grid has
        # pe_num = n_items^2 -> 1 - pe == 0 (numerator is also 0);
        # unguarded, Spark's ANSI session raises DIVIDE_BY_ZERO
        "kappa_single_category",
        "CAST(floor(CAST(30 * 30 - 900 AS DOUBLE)"
        " / CAST(greatest(30 * 30 - 900, 1) AS DOUBLE)"
        " * 1e6 + 0.5) AS BIGINT)",
        0,
    ),
    (
        # kmv_distinct_sketch: the k-th order statistic of the 48-bit
        # md5 grid is 0 with p = 2^-48 per group — integer div 0 raises
        # on BOTH engines; the guard pins the (absurd) estimate finite
        "kmv_zero_kth_hash",
        "CAST((256 - 1) * 281474976710656 / greatest(0, 1) AS BIGINT)",
        71776119061217280,
    ),
    (
        # curation quality gate b4: an empty document (len(text) = 0)
        # must read alpha_ratio 0 -> b4 false, not raise / go NULL
        "quality_gate_empty_text",
        "CAST(0 AS DOUBLE) / CAST(greatest(0, 1) AS DOUBLE) >= 0.6",
        False,
    ),
    (
        # seasonal_strength (r14 third audit): a CONSTANT daily-count
        # series has sst12 = 0 (ssr12 = 0 too); the zero-case CASE pins
        # strength 0 — the Hyndman convention — instead of Spark's ANSI
        # DIVIDE_BY_ZERO (greatest(sst,1) would read FULL strength)
        "seasonal_strength_constant_series",
        "CASE WHEN 0 = 0 THEN 0 ELSE greatest(CAST(floor((1.0"
        " - CAST(0 AS DOUBLE) / CAST(0 AS DOUBLE)) * 1e6 + 0.5)"
        " AS BIGINT), 0) END",
        0,
    ),
    (
        # silhouette_score (r14 third audit): duplicate vectors across
        # labels -> a_m = b_m = 0 -> max(a, b) = 0; the 1e-12 floor pins
        # s = 0 (sklearn's convention) on both engines
        "silhouette_all_zero_distances",
        "CAST(floor((0.0 - 0.0) / greatest(0.0, 0.0, 1e-12)"
        " * 1e6 + 0.5) AS BIGINT)",
        0,
    ),
    (
        # acf_daily (r14 third audit): a CONSTANT daily-count series has
        # centered y = 0 everywhere -> den_ss = 0 and num = 0; unguarded
        # Spark `div 0` raises, DuckDB `// 0` NULLs — guarded, acf = 0
        # (portable spelling: num = 0, so / == div == // here)
        "acf_constant_series",
        "CAST(0 * 1000000 / greatest(0, 1) AS BIGINT)",
        0,
    ),
    (
        # mixture_unimax_waterfill epochs (r14 third audit): a stratum
        # of all-empty docs has n_tokens = 0 (filtered-split spelling);
        # its alloc is 0 (cap_tokens = 0), so guarded epochs read 0
        "unimax_empty_stratum_epochs",
        "floor((CASE WHEN TRUE THEN CAST(0 AS DOUBLE)"
        " ELSE (0 - 0) / 0 END) / greatest(0, 1) * 1e6 + 0.5) / 1e6",
        0.0,
    ),
]


@pytest.mark.parametrize("label,expr,expected", CASES, ids=[c[0] for c in CASES])
def test_degenerate_guard_cross_engine(spark, label, expr, expected):
    got_spark = spark.sql(f"SELECT {expr} AS out").collect()[0]["out"]
    got_duck = duckdb.sql(f"SELECT {expr} AS out").fetchone()[0]
    assert got_spark == got_duck == expected, label


def test_events_ts_sec_truncates_like_duckdb_before_1970(spark, tmp_path):
    """``tables.events_with_sec`` spells ts_sec as ``unix_millis div 1000``
    — truncation toward zero, like the oracles' ``epoch_ms(ts) // 1000``.
    A floor spelling reads −2 for 1969-12-31 23:59:58.500 UTC where
    DuckDB reads −1; the fixtures hold no pre-1970 event, so only a
    literal row shows it."""
    from gasket_rs_spark.tables import events_with_sec

    path = tmp_path / "events.parquet"
    duckdb.sql(
        "COPY (SELECT 1 AS event_id, 1 AS user_id, 'click' AS event_type,"
        " TIMESTAMP '1969-12-31 23:59:58.500' AS ts, 1.0 AS value)"
        f" TO '{path}' (FORMAT PARQUET)"
    )
    got_spark = events_with_sec(spark, str(tmp_path)).first()["ts_sec"]
    got_duck = duckdb.sql(f"SELECT epoch_ms(ts) // 1000 FROM '{path}'").fetchone()[0]
    assert got_spark == got_duck == -1


def test_day_buckets_agree_across_engines_before_1970(spark, sf_dir, tmp_path):
    """The day-bucketed oracles spell ``floor(ts_sec / 86400)`` like
    ``_daily_counts`` on the Spark side. DuckDB's integer ``//`` truncates
    (``-1 // 86400 = 0``), so a ``ts_sec // 86400`` oracle merges the last
    pre-1970 day into day 0. With sf0.001's ``events`` shifted to straddle
    1970-01-01 at a non-midnight offset, each witness must match its
    oracle row for row."""
    import os
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))
    from verify_local import verify

    from gasket_rs_spark.tables import TABLE_NAMES

    for t in TABLE_NAMES:
        if t != "events":
            os.symlink(f"{sf_dir}/{t}.parquet", tmp_path / f"{t}.parquet")
    duckdb.sql(
        "COPY (SELECT * REPLACE (ts - (TIMESTAMP '2024-01-01'"
        " - TIMESTAMP '1969-12-17 05:41:13') AS ts)"
        f" FROM read_parquet('{sf_dir}/events.parquet'))"
        f" TO '{tmp_path}/events.parquet' (FORMAT PARQUET)"
    )
    names = {"holt_linear_forecast", "acf_daily", "cusum_changepoint"}
    got = verify(spark, str(tmp_path), only=names)
    assert {n: r["status"] for n, r in got.items()} == dict.fromkeys(names, "EXACT")

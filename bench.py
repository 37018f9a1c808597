"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}.

Timings are per-query MEDIANS over 3 passes (caches cleared between
passes so persisted sketch bases don't turn later passes into warm-cache
reads); per-query minima ride along as "queries_min". Rationale: round
4's no-change round was an A/A experiment — identical code swung ±33%
per query under single-pass timing, so medians are the floor for any
cross-round performance claim. Since round 15, passes metered dirty
(co-tenant CPU above CLEAN_PASS_EXTERNAL_CORES) are retried — up to
HEADLINE_MAX_EXTRA_PASSES extra passes until HEADLINE_TARGET_CLEAN are
clean — and the committed stats come from the first 3 clean passes
(identical to the historical median-of-3 on a quiet box).

The headline set spans every operator family (relational, windows, as-of,
dedup incl. MinHash-LSH + banded SimHash + LSH-fed components, similarity,
text, multimodal pandas-UDF, event-time streaming twins) — and measures
only SCALE paths. The intentionally-quadratic correctness witnesses
(all-pairs Jaccard / cosine) are excluded from the headline metric; run
``python bench.py --witnesses`` to time those separately.

Cross-round comparability: the headline composition changed in round 2
(the quadratic dedup_ngram_jaccard witness moved out; scale-path queries
moved in), so every run ALSO times and emits the original round-1
composition as ``headline_v1_total_sec`` — both series stay comparable
across all rounds.

The same headline loop runs at any SF (e.g. the tiled sf1 from
``scripts/gen_sf_fixture.py``); extras are timed only at sf0.1 (see
_extras_plan and _detail_name).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))

HEADLINE = [
    "flagship_revenue_by_region",
    "agg_hash",
    "join_theta_range",
    "asof_join",
    "rollup_agg",
    "window_frames",
    "topk_per_group",
    "json_funcs",
    "array_funcs",
    "dedup_exact",
    "dedup_incremental",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_embedding_lsh",
    "dedup_components_lsh",
    "similarity_topk",
    "similarity_ann_lsh",
    "text_token_counts",
    "text_quality_score",
    "text_tfidf_top",
    "multimodal_features",
    "stream_tumbling",
    "stream_session",
]

# Round-8+ scale-path additions, reported only in BENCH_DETAIL.json
# ("extras"): visibility without touching either headline composition
# (cross-round series stay comparable) or the bounded stdout line.
# Since round 10 extras run TWO passes (VERDICT r9 #7): "extras" stays
# the first cold pass (series-comparable with r8/r9 single-pass values)
# and "extras_min" is min-of-2 — the noise-robust floor, so a one-off
# GC/IO stall no longer reads as a regression and real ones can't hide
# behind one.
EXTRAS = [
    "text_line_dedup",
    "text_span_dedup",
    "semantic_dedup_clustered",
    "merge_into",
    "interval_merge",
    "scd2_dimension",
    "bloom_filter_probe",
    "zorder_layout",
    "graph_pagerank",
    "sketch_count_min",
    "text_token_entropy",
    "quantile_sketch_mergeable",
    "skew_salted_join",
    "reservoir_sample_grouped",
    "agg_conditional",
    "tpch_q21_late_supplier",
    "agg_regression",
    "embedding_covariance",
    "fuzzy_vocab_join",
    "text_lm_score",
    "text_inverted_index",
    "text_feature_hashing",
    "timeseries_locf",
    "session_path_transitions",
    "distribution_drift_weekly",
    "supplier_cooccurrence",
    "outlier_iqr",
    "rfm_segmentation",
    "weighted_sample_aes",
    "set_ops_all",
    "sort_null_ordering",
    "lateral_topk",
    "multimodal_image_resize_decoded",
    "multimodal_video_temporal_diff",
    "multimodal_audio_spectrum",
    "embedding_pq_distortion",
    "image_ahash_dedup",
    "snapshot_diff_changelog",
    "lang_id_confusion",
    "recursive_hierarchy",
    # round-9 additions
    "bpe_vocab_merges",
    "bpe_encode",
    "dedup_simhash_paragraph",
    "heavy_hitters_mg",
    "mixture_temperature",
    "winsorize_by_group",
    "lang_source_chisq",
    "dq_expectations",
    "graph_triangles",
    # round-10 additions
    "bpe_pair_counts",
    "mixture_unimax_waterfill",
    "domain_cap",
    "quality_filter_funnel",
    "quantile_normalize_sketch",
    "embedding_pca",
    "hard_negative_mining",
    "text_novelty",
    "epoch_shard_order",
    # round-11 additions
    "domain_reweight_doremi",
    "bpe_pack_shard",
    "dsir_select",
    "decontaminate_fuzzy",
    "perplexity_buckets",
    "kn_bigram_lm",
    "bitext_margin_mine",
    "global_token_offsets",
    "length_bucket_batching",
    "dataset_fingerprint",
    "tokenizer_fertility",
    "domain_ablation_stats",
    "span_corruption_plan",
    "boilerplate_rate_by_source",
    "temperature_sweep",
    "dp_noisy_counts",
    "k_anonymity_audit",
    "incremental_agg_maintenance",
    "auc_exact",
    "maxsim_late_interaction",
    "ks_two_sample",
    "join_size_estimate",
    "segment_quality_filter",
    "graph_kcore",
    "link_prediction",
    "rrf_fusion",
    "retrieval_ndcg",
    "calibration_ece",
    "assoc_rules",
    "collocation_pmi",
    "funnel_windowed",
    "session_trigrams",
    "unigram_lm_tokenizer",
    "bootstrap_ci",
    "theil_sen_trend",
    "adamic_adar",
    "mutual_information",
    "retrieval_mrr",
    "label_propagation",
    "jl_projection",
    "text_readability",
    "benford_digit_audit",
    "winnowing_fingerprint",
    "ewma_weekly",
    "degree_assortativity",
    "hits_scores",
    "shard_balance_audit",
    "neyman_allocation",
    "spearman_quality_corr",
    "conformal_quantile",
    "sketch_count_sketch",
    "rendezvous_hashing",
    # round-11 session-2 additions (TPC-H completion + wave 4/5)
    "tpch_q2_min_cost_supplier",
    "tpch_q11_important_stock",
    "tpch_q12_priority_lateness",
    "tpch_q20_part_promotion",
    "mann_whitney_u",
    "kendall_tau",
    "cramers_v",
    "acf_daily",
    "cusum_changepoint",
    "hilbert_layout",
    "compaction_bin_packing",
    "referential_integrity_audit",
    "attribution_multi_touch",
    "markov_stationary",
    "local_clustering_coefficient",
    "precision_at_k",
    "linear_quality_classifier",
    "skyline_pareto",
    "roc_curve",
    "l_diversity_audit",
    "holt_linear_forecast",
    # round-11 session-3 additions (waves 8-12)
    "cohens_kappa",
    "mad_outliers",
    "t_closeness_audit",
    "mixture_apportionment",
    "bradley_terry",
    "isotonic_calibration",
    "entity_resolution",
    "agg_bitwise",
    "keyword_textrank",
    "deletion_vector_scan",
    "incremental_join_maintenance",
    "kcenter_coreset",
    "psi_drift",
    "kaplan_meier",
    "video_shot_segmentation",
    "dbscan_clusters",
    "scalar_subquery",
    "ucb1_bandit",
    "interarrival_percentiles",
    # round-11 session-3 additions (waves 13-17)
    "lead_lag_xcorr",
    "topk_churn",
    "woe_iv_binning",
    "embedding_mmd_labels",
    "hodges_lehmann",
    "sliding_distinct_users",
    "sorted_neighborhood_pairs",
    "file_source_roundtrip",
    "event_debounce",
    "huber_location",
    "brier_decomposition",
    "kmv_distinct_sketch",
    "temporal_join_scd2",
    "image_dhash_dedup",
    "naive_bayes_langid",
    "rake_keyphrases",
    "dispersion_index",
    "seasonal_strength",
    "silhouette_score",
    "consistent_hash_ring",
    "two_proportion_ztest",
    "pettitt_changepoint",
    "kruskal_wallis",
    "lorenz_curve",
    "simpson_diversity",
    "lognormal_fit",
    "median_polish",
    "chao1_richness",
    "mann_kendall_trend",
    "apriori_triples",
    "peak_concurrency",
    # round-12 additions
    "rag_retrieval_pipeline",
    # stream_* pipeline witnesses stay out of the bench (house rule since
    # r8: their cost is streaming-machinery setup, not data-path work)
]

# Quadratic-by-design correctness witnesses: timed only under --witnesses,
# never part of the headline metric (they measure exactly the thing the
# dedup module documents must never run at scale).
WITNESSES = [
    "dedup_ngram_jaccard",
    "dedup_embedding_cosine",
    "dedup_components",
    "dedup_containment",
    "dedup_keep_best",
]

# The round-1 headline composition, emitted every run as headline_v1 so
# cross-round totals stay comparable despite the round-2 recomposition.
HEADLINE_V1 = [
    "flagship_revenue_by_region",
    "agg_hash",
    "join_theta_range",
    "asof_join",
    "rollup_agg",
    "window_frames",
    "topk_per_group",
    "json_funcs",
    "array_funcs",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "similarity_topk",
    "similarity_ann_lsh",
    "text_token_counts",
    "text_quality_score",
    "multimodal_features",
    "stream_tumbling",
    "stream_session",
]


# Retime every extra at least this often (rounds) even if its module is
# unchanged — the extras analogue of the registry AGE_CAP: bounded-age
# insurance against environment drift that content hashing cannot see.
EXTRAS_RETIME_AGE = 4

# The SF whose detail files hold the committed series and the extras
# carry-forward; every other SF writes its own sf-stamped detail.
ANCHOR_SF = 0.1


def _loadavg() -> list[float]:
    """1/5/15-min load averages — the container-external-contention proxy
    the r8/r9 bench forensics used (a shared box inflates every timing
    uniformly; SCALE.md rounds 4/7/8/9). Recorded in BENCH_DETAIL so a
    cross-round regression can be read against the load it ran under."""
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:
        return []


def _cpu_totals() -> tuple[float, float]:
    """(host_busy_sec, own_session_busy_sec) since boot — the per-pass
    co-tenancy meter (VERDICT r12 #4). loadavg alone cannot mark passes:
    the bench's own local[N] threads inflate it, so a threshold either
    flags every pass or none. Instead each pass brackets two counters:
    total non-idle CPU from /proc/stat, and the CPU of every process in
    THIS session (bench python + the spawned JVM + pyspark workers, via
    /proc/<pid>/stat session-id matching). Their delta difference is
    external CPU burned during the pass, in core-seconds — co-tenant
    work, including any concurrent builder job of our own, which
    pollutes timings just the same (the r12 lesson).

    Session CPU folds each process's cutime+cstime (reaped children)
    in addition to its own utime+stime: a session child that exits
    mid-pass (short-lived pyspark worker with reuse off) would
    otherwise vanish from the own-session sum while its work stays in
    /proc/stat, misclassifying it as external and flipping a genuinely
    quiet pass dirty (ADVICE r13). Within one pass bracket the delta
    stays exact: a child alive at start counts via its own stat entry,
    and once reaped its full total moves into the parent's cutime.
    Residual conservative bias: a session child reparented to init
    before exiting (double-fork orphan) is still lost — none of the
    session's processes spawn that way today.

    Residual OPTIMISTIC bias (ADVICE r14), the mirror of the above:
    cutime folding assumes every reaped child ran in THIS session. A
    session process that spawns a child with ``start_new_session=True``
    (its own sid) and reaps it mid-pass would move that child's
    genuinely-external CPU into the own-session sum, letting a dirty
    pass read clean. No bench-session code spawns setsid children
    (pyspark's worker tree forks plain same-session children);
    tests/test_bench_meter.py pins this statically (no
    start_new_session/setsid call sites in bench.py) and pins the
    sibling-session attribution direction empirically."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()[1:]
        vals = [int(x) for x in parts]
        busy = (sum(vals) - vals[3] - vals[4]) / _CLK_TCK  # - idle - iowait
    except (OSError, IndexError, ValueError):
        return (0.0, 0.0)
    sid = os.getsid(0)
    own = 0
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                st = f.read().rsplit(")", 1)[1].split()
            if int(st[3]) == sid:  # field: session id
                # utime + stime + cutime + cstime (reaped children)
                own += int(st[11]) + int(st[12]) + int(st[13]) + int(st[14])
        except (OSError, IndexError, ValueError):
            continue
    return (busy, own / _CLK_TCK)


_CLK_TCK = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100

# A pass is CLEAN when external (non-session) CPU averaged <= this many
# cores over the pass — same scale as the 0.5 load-gate threshold.
CLEAN_PASS_EXTERNAL_CORES = 0.5

# Dirty-headline-pass retry budget (VERDICT r14 #2): the r14 close ran
# 2 of 3 headline passes under co-tenant load, so the committed min
# rested on a single clean pass. After the base passes, up to this many
# EXTRA passes run while fewer than HEADLINE_TARGET_CLEAN passes are
# clean — the close self-heals on a transiently loaded box instead of
# carrying a one-support floor. When the box never goes quiet the run
# still terminates at base+retry passes and the detail records it.
HEADLINE_BASE_PASSES = 3
HEADLINE_MAX_EXTRA_PASSES = 2
HEADLINE_TARGET_CLEAN = 2


def _headline_pass_wanted(
    clean_flags: list[bool],
    base: int = HEADLINE_BASE_PASSES,
    max_extra: int = HEADLINE_MAX_EXTRA_PASSES,
    target_clean: int = HEADLINE_TARGET_CLEAN,
) -> bool:
    """True when another headline pass should run, given the clean/dirty
    status of the passes completed so far. Pure (pinned in
    tests/test_bench_meter.py): always run the base passes; then retry
    only while clean passes are short of target and the extra budget
    remains."""
    done = len(clean_flags)
    if done < base:
        return True
    if done >= base + max_extra:
        return False
    return sum(clean_flags) < target_clean


def _headline_sample_passes(
    clean_flags: list[bool],
    target_clean: int = HEADLINE_TARGET_CLEAN,
    keep: int = HEADLINE_BASE_PASSES,
) -> tuple[list[int], bool]:
    """Which passes the committed median/min are computed over, and
    whether that sample is co-tenant-polluted. With >= target_clean
    clean passes, the sample is the first `keep` CLEAN passes (on a
    quiet box this is exactly the historical median-of-3, so the series
    stays comparable); otherwise every pass is kept and the stats are
    flagged dirty so no cross-round claim rests on them unnoticed.
    Pure (pinned in tests/test_bench_meter.py)."""
    clean = [i for i, c in enumerate(clean_flags) if c]
    if len(clean) >= target_clean:
        return clean[:keep], False
    return list(range(len(clean_flags))), True


def _headline_sample_short(
    sample_idx: list[int],
    stats_on_dirty: bool,
    keep: int = HEADLINE_BASE_PASSES,
) -> bool:
    """True when the committed stats rest on a CLEAN sample smaller than
    the historical median-of-3 (ADVICE r15): exactly target_clean=2
    clean passes yield a 2-element sample whose 'median' (sorted[1]) is
    the larger value — an upward-biased estimator — yet
    headline_stats_on_dirty stays False because the sample isn't
    polluted. Distinct flags: dirty = co-tenant pollution, short =
    different estimator. Pure (pinned in tests/test_bench_meter.py)."""
    return (not stats_on_dirty) and len(sample_idx) < keep


def _extras_commit(
    extras_samples: dict, pass_clean: list[bool]
) -> tuple[dict, dict, bool, int]:
    """Committed (extras, extras_min, stamp_clean, cold_pass) from the
    per-pass samples and per-pass clean flags (ADVICE r14). All passes
    clean: first-pass cold value + min-of-all, stamp clean (historical
    behavior). SOME passes clean: the first clean pass's sample is the
    cold value, min over clean passes only, stamp clean — one co-tenant
    burst neither pollutes the committed numbers nor forces a blanket
    re-time (clear_caches runs between passes, so every pass is
    cache-cold; only JVM warm-up differs). NO pass clean: fall back to
    the historical values, stamp False so _extras_plan re-times next
    run. cold_pass is the pass index that supplied the committed cold
    value (ADVICE r15): a clean-pass-2 cold is JVM/JIT-warm — an
    optimistic bias vs the historical first-pass cold series — and must
    be auditable in BENCH_DETAIL, not invisible. Pure (pinned in
    tests/test_bench_meter.py)."""
    clean_i = [i for i, c in enumerate(pass_clean) if c]
    if not clean_i:
        return (
            {n: round(ts[0], 3) for n, ts in extras_samples.items()},
            {n: round(min(ts), 3) for n, ts in extras_samples.items()},
            False,
            0,
        )
    return (
        {n: round(ts[clean_i[0]], 3) for n, ts in extras_samples.items()},
        {
            n: round(min(ts[j] for j in clean_i), 3)
            for n, ts in extras_samples.items()
        },
        True,
        clean_i[0],
    )


class _PassMeter:
    """Brackets one timing pass: loadavg + CPU counters before/after,
    yielding the external-core annotation BENCH_DETAIL records per pass
    so min-of-clean-passes is computable mechanically (VERDICT r12 #4)."""

    def start(self) -> None:
        self.t0 = time.perf_counter()
        self.load0 = _loadavg()
        self.busy0, self.own0 = _cpu_totals()

    def stop(self) -> dict:
        elapsed = max(time.perf_counter() - self.t0, 1e-9)
        busy1, own1 = _cpu_totals()
        external = max((busy1 - self.busy0) - (own1 - self.own0), 0.0)
        ext_cores = external / elapsed
        return {
            "elapsed_sec": round(elapsed, 1),
            "load_avg_start": self.load0,
            "load_avg_end": _loadavg(),
            "external_cpu_sec": round(external, 1),
            "external_cores": round(ext_cores, 3),
            "clean": ext_cores <= CLEAN_PASS_EXTERNAL_CORES,
        }


def _load_gate() -> dict:
    """Pre-flight co-tenancy gate (VERDICT r11 #2): round 11's committed
    bench series was silently polluted by a 1.3-1.5x host co-tenant slow-
    down (documented A/B, SCALE.md). Refuse to start timing while the
    1-min load average exceeds the threshold — sleep/retry up to a budget,
    then proceed LOUDLY (the driver needs a JSON line either way) with the
    override recorded in BENCH_DETAIL so a loaded-box run can never again
    become the committed number silently. SPARK_GRAFT_SKIP_LOAD_GATE=1
    bypasses (local iteration)."""
    threshold, budget_sec, poll_sec = 0.5, 900.0, 20.0
    if os.environ.get("SPARK_GRAFT_SKIP_LOAD_GATE"):
        return {"status": "skipped_by_env", "threshold": threshold,
                "load_avg": _loadavg(), "waited_sec": 0}
    waited = 0.0
    la = _loadavg()
    while la and la[0] > threshold and waited < budget_sec:
        print(
            f"load gate: 1-min load {la[0]:.2f} > {threshold} — "
            f"box is co-tenanted; sleeping {poll_sec:.0f}s "
            f"({waited:.0f}/{budget_sec:.0f}s waited)",
            file=sys.stderr, flush=True,
        )
        time.sleep(poll_sec)
        waited += poll_sec
        la = _loadavg()
    if la and la[0] > threshold:
        print(
            f"load gate: OVERRIDDEN after {waited:.0f}s — load still "
            f"{la[0]:.2f}; timings below are suspect (co-tenant box)",
            file=sys.stderr, flush=True,
        )
        return {"status": "overridden_after_timeout", "threshold": threshold,
                "load_avg": la, "waited_sec": round(waited, 1)}
    return {"status": "passed", "threshold": threshold,
            "load_avg": la, "waited_sec": round(waited, 1)}


def _warm_up(spark, queries) -> None:
    """Warm the JVM/codegen path AND the Python/Arrow worker pool outside
    timing, at a tiny SF whatever SF is benched: the first pandas-UDF query
    in a session otherwise pays ~2s of worker spin-up inside its measurement."""
    for name in ("flagship_revenue_by_region", "dedup_minhash_lsh"):
        queries[name](spark, "/root/testdata/sf0.001").collect()


def _time_pass(spark, queries, names, sf_dir, meter, phase) -> tuple[dict, dict]:
    """One timing pass: ({name: seconds}, phase-tagged pass load). Sketch
    bases persist per invocation and Spark's CacheManager dedups identical
    plans, so caches are cleared first — else a later pass would time warm
    cache reads, not the query. The noop sink evaluates the complete plan
    (count() would let Catalyst prune projections and under-measure)."""
    from gasket_rs_spark.session import clear_caches

    clear_caches(spark)
    meter.start()
    times = {}
    for name in names:
        t0 = time.perf_counter()
        queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        times[name] = time.perf_counter() - t0
    return times, {"phase": phase, **meter.stop()}


def _next_round() -> int:
    """The round being benched: one past the newest committed
    CORRECTNESS_r*.json."""
    sys.path.insert(0, os.path.join(REPO, "scripts"))
    from gen_registry_order import available_rounds

    return max(available_rounds(), default=0) + 1


def _detail_name(sf: float, anchor: bool, rnd: int) -> str:
    """VERDICT r12 #5: the committed quiet-box anchor (BENCH_DETAIL.json)
    must survive the driver's close run — r12's close overwrote it with
    loaded-box numbers. Only an explicit sf0.1 anchor run
    (SPARK_GRAFT_BENCH_ANCHOR=1, set by the builder on a quiet box)
    writes BENCH_DETAIL.json; other sf0.1 runs (the driver's close
    included) write the round-stamped close file beside it, and any other
    SF writes an sf-stamped one, so no SF can overwrite another's."""
    if sf != ANCHOR_SF:
        return f"BENCH_DETAIL_sf{sf:g}_r{rnd}_close.json"
    return "BENCH_DETAIL.json" if anchor else f"BENCH_DETAIL_r{rnd}_close.json"


def _extras_plan(queries, sf: float) -> tuple[list[str], dict, dict, dict]:
    """Incremental extras timing (VERDICT r11 #6): with 180+ extras at
    235-272 s/pass x 2 passes, retiming everything every round grows
    without bound. Each extra carries ``extras_meta[name] =
    {last_timed_round, module_sha}`` in BENCH_DETAIL; an extra is
    RETIMED only when (a) it has no carried timing, (b) the code of its
    implementing module (``code_fingerprint``: comments and docstrings
    do not count) changed since it was last timed, or
    (c) its timing is older than EXTRAS_RETIME_AGE rounds. Everything
    else carries forward verbatim, tagged with its age, so the detail
    file stays complete while the per-round timing cost tracks the
    round's actual code churn. SPARK_GRAFT_FULL_EXTRAS=1 forces a full
    sweep. Off the anchor SF nothing is planned: the carried timings are
    sf0.1 values."""
    if sf != ANCHOR_SF:
        return [], {}, {}, {}
    import hashlib

    current_round = _next_round()
    from gen_registry_order import code_fingerprint

    def module_rel(name: str) -> str:
        mod = sys.modules[queries[name].__module__]
        return os.path.relpath(mod.__file__, REPO)

    # ADVICE r12: hashing only the defining module let a perf-relevant
    # change in a shared helper (tables.load, session config, registry
    # plumbing) carry stale timings for up to EXTRAS_RETIME_AGE rounds
    # with meta claiming freshness. The sha now folds in the core shared
    # modules every query path transits; the age cap stays as backstop
    # for cross-operator-module helpers this set doesn't cover.
    core_shared = (
        "gasket_rs_spark/tables.py",
        "gasket_rs_spark/session.py",
        "gasket_rs_spark/registry.py",
        "gasket_rs_spark/compat.py",
    )

    def module_sha(name: str) -> str:
        h = hashlib.sha256()
        for rel in (module_rel(name), *core_shared):
            path = os.path.join(REPO, rel)
            if os.path.exists(path):
                with open(path) as f:
                    h.update(code_fingerprint(f.read()).encode())
        return h.hexdigest()[:16]

    try:
        with open(os.path.join(REPO, "BENCH_DETAIL.json")) as f:
            prev = json.load(f)
    except (OSError, json.JSONDecodeError):
        prev = {}
    prev_extras = prev.get("extras", {})
    prev_min = prev.get("extras_min", {})
    prev_meta = prev.get("extras_meta", {})

    force_full = bool(os.environ.get("SPARK_GRAFT_FULL_EXTRAS"))
    to_time: list[str] = []
    carried: dict[str, float] = {}
    carried_min: dict[str, float] = {}
    meta: dict[str, dict] = {}
    for n in EXTRAS:
        m = prev_meta.get(n)
        sha = module_sha(n)
        stale = (
            force_full
            or m is None
            or n not in prev_extras
            or m.get("module_sha") != sha
            or current_round - m.get("last_timed_round", -99) >= EXTRAS_RETIME_AGE
            # ADVICE r13: a timing taken while an extras pass was dirty
            # (co-tenant CPU above threshold) must not carry forward as
            # if clean — force a re-time on the next run.
            or m.get("clean") is False
        )
        if stale:
            to_time.append(n)
            meta[n] = {"last_timed_round": current_round, "module_sha": sha}
        else:
            carried[n] = prev_extras[n]
            carried_min[n] = prev_min.get(n, prev_extras[n])
            meta[n] = m
    return to_time, carried, carried_min, meta


def main() -> None:
    sys.path.insert(0, REPO)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    load_gate = _load_gate()
    load_avg_start = _loadavg()

    from gasket_rs_spark.registry import all_queries
    from gasket_rs_spark.session import get_session

    spark = get_session("gasket-bench")
    queries = all_queries()
    _warm_up(spark, queries)

    witness_mode = "--witnesses" in sys.argv[1:]
    # One timing pass covers both headline compositions (their union).
    names = WITNESSES if witness_mode else list(dict.fromkeys(HEADLINE + HEADLINE_V1))
    # Median-of-3: round 4's A/A experiment (identical code, ±33% per-query
    # swings) proved single-pass timings are session noise — no cross-round
    # per-query delta is interpretable without a robust estimator. Witness
    # mode stays single-pass (quadratic queries, excluded from all claims).
    # Headline mode self-heals on a loaded box (VERDICT r14 #2): after the
    # base passes, dirty passes are retried (bounded by
    # HEADLINE_MAX_EXTRA_PASSES) until HEADLINE_TARGET_CLEAN passes are
    # clean, so the committed floor never again rests on one clean pass
    # when the box merely had a transient co-tenant burst.
    meter = _PassMeter()
    runs: list[tuple[dict, dict]] = []
    while (
        not runs
        if witness_mode
        else _headline_pass_wanted([pl["clean"] for _, pl in runs])
    ):
        runs.append(_time_pass(spark, queries, names, sf_dir, meter, "headline"))
    samples = {name: [times[name] for times, _ in runs] for name in names}
    pass_loads = [pl for _, pl in runs]
    headline_flags = [pl["clean"] for pl in pass_loads]
    passes = len(runs)

    # Committed median/min are computed over the SAMPLE passes: the first
    # (up to) 3 clean passes when >= 2 are clean — identical to the
    # historical median-of-3 on a quiet box — else all passes, flagged
    # dirty (headline_stats_on_dirty) so no cross-round claim rests on a
    # co-tenant-polluted median unnoticed.
    sample_idx, stats_on_dirty = (
        (list(range(passes)), False)
        if witness_mode
        else _headline_sample_passes(headline_flags)
    )
    timings = {
        n: round(sorted(ts[i] for i in sample_idx)[len(sample_idx) // 2], 3)
        for n, ts in samples.items()
    }
    timings_min = {
        n: round(min(ts[i] for i in sample_idx), 3) for n, ts in samples.items()
    }
    # min over CLEAN passes only (VERDICT r12 #4): r12's run passed the
    # pre-flight gate but got co-tenanted mid-run, and adjudicating the
    # polluted dedup-family numbers took a manual quiet-box A/B. With
    # per-pass external-CPU annotation, min-of-clean-passes is mechanical;
    # when NO pass is clean the fallback is the plain min, flagged so no
    # cross-round claim rests on it unnoticed.
    clean_idx = [i for i, c in enumerate(headline_flags) if c]
    timings_clean_min = {
        n: round(min(ts[i] for i in clean_idx), 3)
        for n, ts in samples.items()
    } if clean_idx else dict(timings_min)

    extras_retimed, extras, extras_min, extras_meta = (
        ([], {}, {}, {}) if witness_mode else _extras_plan(queries, sf)
    )
    if extras_retimed:
        runs = [
            _time_pass(spark, queries, extras_retimed, sf_dir, meter, "extras")
            for _ in range(2)
        ]
        pass_loads += [pl for _, pl in runs]
        # ADVICE r13: headline clean-gating didn't reach the extras phase —
        # a co-tenant arriving during extras polluted timings that then
        # carried forward for up to EXTRAS_RETIME_AGE rounds unflagged.
        # Stamp each retimed entry with its passes' clean status; a False
        # stamp forces a re-time on the next run (see _extras_plan).
        # ADVICE r14: with exactly one dirty pass the committed values
        # come from the clean pass instead (see _extras_commit).
        committed, committed_min, stamp_clean, cold_pass = _extras_commit(
            {n: [times[n] for times, _ in runs] for n in extras_retimed},
            [pl["clean"] for _, pl in runs],
        )
        extras.update(committed)
        extras_min.update(committed_min)
        for n in extras_retimed:
            # ADVICE r15: cold_pass says which pass supplied the committed
            # cold value — a warm-pass-sourced cold (index > 0) is auditable.
            extras_meta[n].update(clean=stamp_clean, cold_pass=cold_pass)

    if witness_mode:
        out = {
            "metric": "witness_queries_total_sec",
            "value": round(sum(timings.values()), 3),
            "unit": "sec",
            "queries": timings,
            "sf": sf,
        }
        print(json.dumps(out))
    else:
        # The driver captures only a bounded stdout TAIL: round 5's
        # enriched line (queries_min + passes + two composition lists)
        # overran it and arrived truncated ("parsed": null in
        # BENCH_r05.json). The final stdout line is therefore kept
        # COMPACT — metric/value/queries/sf plus the cross-round
        # headline_v1 total — and the full detail (minima, pass count,
        # headline compositions) goes to BENCH_DETAIL.json next to this
        # file, committed per round.
        detail = {
            "metric": "headline_queries_total_sec",
            "value": round(sum(timings[n] for n in HEADLINE), 3),
            "unit": "sec",
            "queries": timings,
            "queries_min": timings_min,
            "passes": passes,
            "sf": sf,
            "headline_v1_total_sec": round(sum(timings[n] for n in HEADLINE_V1), 3),
            # Sum of per-query MINIMA: the noise-robust floor on a shared
            # container (per-query noise is additive-positive, so min is
            # the closest observation to true cost). Median stays the
            # primary series metric for cross-round comparability.
            "headline_min_total_sec": round(sum(timings_min[n] for n in HEADLINE), 3),
            "headline_v1_min_total_sec": round(
                sum(timings_min[n] for n in HEADLINE_V1), 3
            ),
            # min over passes whose external (non-session) CPU stayed
            # under CLEAN_PASS_EXTERNAL_CORES — the mechanically-computable
            # quiet-box floor (VERDICT r12 #4); equals the plain min when
            # every pass is clean, falls back to it (flagged) when none is.
            "headline_clean_min_total_sec": round(
                sum(timings_clean_min[n] for n in HEADLINE), 3
            ),
            "headline_v1_clean_min_total_sec": round(
                sum(timings_clean_min[n] for n in HEADLINE_V1), 3
            ),
            "clean_passes": len(clean_idx),
            "clean_min_is_fallback": not clean_idx,
            # VERDICT r14 #2 retry bookkeeping: how many headline passes
            # ran beyond the base 3 (dirty-pass retries), which pass
            # indices the committed median/min were computed over, and
            # whether that sample is co-tenant-polluted (fewer than
            # HEADLINE_TARGET_CLEAN clean passes even after retries).
            "headline_extra_passes": passes - HEADLINE_BASE_PASSES,
            "headline_sample_passes": sample_idx,
            "headline_stats_on_dirty": stats_on_dirty,
            # ADVICE r15: with exactly 2 clean passes the committed
            # "median" is sorted[1] — the LARGER value, an upward-biased
            # estimator vs the historical median-of-3, while
            # headline_stats_on_dirty stays False. Flag short clean
            # samples explicitly so cross-round series never mix the two
            # estimators unnoticed.
            "headline_sample_size": len(sample_idx),
            "headline_sample_short": _headline_sample_short(
                sample_idx, stats_on_dirty
            ),
            # Per-pass co-tenancy bracket: loadavg + external core-seconds
            # (host busy CPU minus this session's own), phase-tagged.
            "pass_loads": pass_loads,
            "headline_queries": HEADLINE,
            "headline_v1_queries": HEADLINE_V1,
            # The r1-comparable series as ONE self-contained block
            # (VERDICT r10 #7): per-query median AND min side by side, so
            # a cross-round regression (median moves, min moves) can be
            # separated from a one-off stall (median moves, min doesn't)
            # without cross-referencing the union dicts above.
            "headline_v1": {
                "queries_median": {n: timings[n] for n in HEADLINE_V1},
                "queries_min": {n: timings_min[n] for n in HEADLINE_V1},
                "total_median_sec": round(
                    sum(timings[n] for n in HEADLINE_V1), 3
                ),
                "total_min_sec": round(
                    sum(timings_min[n] for n in HEADLINE_V1), 3
                ),
            },
            # Timings of the round-8+ scale additions (cost visibility
            # only; not in any headline). "extras" = first cold pass
            # (r8/r9-comparable); "extras_min" = min-of-2 (VERDICT r9 #7).
            # Since round 12 extras are timed INCREMENTALLY (VERDICT r11
            # #6): only new / changed-module / over-age entries are re-run
            # (see extras_retimed); the rest carry forward from the prior
            # detail, so extras_total_sec mixes timing ages — per-entry age
            # is in extras_meta.last_timed_round, and no cross-round claim
            # should be made on a carried value.
            "extras": extras,
            "extras_total_sec": round(sum(extras.values()), 3),
            "extras_min": extras_min,
            "extras_min_total_sec": round(sum(extras_min.values()), 3),
            "extras_meta": extras_meta,
            "extras_retimed": extras_retimed,
            "extras_retimed_count": len(extras_retimed),
            "extras_carried_count": len(extras) - len(extras_retimed),
            # Load proxy bracketing the run (VERDICT r8 #7): start is the
            # pre-existing box load; end includes this bench's own local[N]
            # threads, so START is the contention signal to read.
            "load_avg_start": load_avg_start,
            "load_avg_end": _loadavg(),
            # Pre-flight co-tenancy gate outcome (VERDICT r11 #2): any
            # value other than status=passed marks this run's timings as
            # suspect for cross-round comparison.
            "load_gate": load_gate,
        }
        detail_name = _detail_name(
            sf, bool(os.environ.get("SPARK_GRAFT_BENCH_ANCHOR")), _next_round()
        )
        with open(os.path.join(REPO, detail_name), "w") as f:
            json.dump(detail, f, indent=1)
        out = {
            # Primary value since round 7: sum of per-query MINIMA over the
            # curated scale-path headline (judge r6 #6). On a shared box the
            # noise is additive-positive, so min-of-3 is the robust floor;
            # the median total rides along as headline_median_total_sec and
            # the round-1 composition as headline_v1_total_sec, so every
            # historical series stays readable from one line.
            "metric": "headline_min_total_sec",
            "value": detail["headline_min_total_sec"],
            "unit": "sec",
            # Compact line = curated headline only (the v1-only quadratic
            # witness timings live in BENCH_DETAIL.json) — keeps the
            # driver's bounded stdout tail safe AND the primary metric
            # visibly witness-free.
            "queries": {n: timings[n] for n in HEADLINE},
            "sf": sf,
            "headline_median_total_sec": detail["value"],
            # Round-1 composition, same run — keeps cross-round series
            # comparable after the round-2 headline recomposition.
            "headline_v1_total_sec": detail["headline_v1_total_sec"],
        }
        print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()

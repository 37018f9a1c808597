"""Witness → pytest-pin mapping for the rows-only class (VERDICT r13 #3).

A rows-only witness (no ``oracle_sql()`` entry — approx sketches, the
SimHash and embedding-LSH candidate paths, ANN) gets only a row-count
check from the driver, so its real evidence is a named pytest pin: a
recall/error/capture floor, a merge-invariance property, or a
pure-Python recompute. Until r13 that mapping lived in COVERAGE.md
prose, which nothing machine-checked — a new rows-only witness could
ship pinless and the close would stay green.

This table IS the machine-checked mapping: ``scripts/round_close.py``
fails the close if any rows-only witness in the registry lacks an entry
here, or if a listed pin id no longer collects under pytest. Each value is
a tuple of pytest node ids; the FIRST is the primary evidence (the
property a value hash can't see), the rest corroborate.

Keep entries in registry-name order. When a witness gains a real oracle,
delete its row (round_close flags leftovers as stale, non-fatally).

Pin-count basis (VERDICT r15 #4): the canonical count is UNIQUE pytest
node ids — what ``round_close`` prints ("N pin ids all collect") — not
table tuples: a pin may back several witnesses, so the tuple count can
exceed the id count by the number of shared pins.

The MinHash-LSH witnesses (dedup_minhash_lsh, dedup_components_lsh,
curation_pipeline_lsh) left this map: on the fixtures each gives its
exact twin's rows at every SF, so each is checked EXACT against the
twin's oracle. Their recall and band-layout pins stay as supplementary
evidence (tests/test_dedup_recall.py, tests/test_curation_lsh.py).
"""

from __future__ import annotations

ROWS_ONLY_PINS: dict[str, tuple[str, ...]] = {
    # HLL-backed approx aggregates: relative-error bound vs the exact
    # count at the registry's configured rsd / rank tolerance.
    "approx_count_distinct": (
        "tests/test_approx_bounds.py::test_approx_count_distinct_within_rsd",
        # r15: exact countDistinct twin on the same grouping, bit-for-bit
        # vs DuckDB — plumbing coverage without registry growth.
        "tests/test_approx_bounds.py::test_exact_count_distinct_plumbing_cross_engine",
    ),
    "approx_percentiles": (
        "tests/test_approx_bounds.py::test_approx_percentiles_within_rank_tolerance",
        # VERDICT r14 #5: exact order-statistic twin on the same grouping,
        # checked bit-for-bit against DuckDB — hash-style plumbing
        # coverage without registry growth.
        "tests/test_approx_bounds.py::test_exact_percentile_plumbing_cross_engine",
    ),
    "dedup_embedding_lsh": (
        "tests/test_dedup_embedding_lsh.py::test_lsh_pairs_subset_of_exact_witness",
        "tests/test_dedup_embedding_lsh.py::test_true_duplicates_are_captured",
        "tests/test_dedup_embedding_lsh.py::test_candidate_volume_stays_subquadratic",
    ),
    "dedup_simhash": (
        "tests/test_dedup_simhash.py::test_pigeonhole_completeness_exhaustive",
        "tests/test_dedup_simhash.py::test_near_identical_docs_pair_up",
        "tests/test_dedup_simhash.py::test_candidate_volume_stays_subquadratic",
    ),
    "dedup_simhash_paragraph": (
        "tests/test_dedup_simhash.py::test_paragraph_simhash_planted_capture_floors",
        "tests/test_dedup_simhash.py::test_paragraph_reorder_defeats_exact_substring_dedup",
    ),
    # embedding_pca left this map in r20: the deterministic integer
    # power iteration on the (j+1)²-weighted second-moment matrix made
    # it EXACT-oracle-able (similarity._pca_power_oracle, VERDICT r19
    # #6); the LAPACK-referee fidelity pin in tests/test_similarity_
    # recall.py::test_pca_matches_pure_numpy_and_is_self_consistent
    # remains as supplementary evidence.
    # embedding_pq_distortion left this map in r19: its deterministic
    # integer k-means trainer made it EXACT-oracle-able
    # (similarity._pq_distortion_oracle, VERDICT r18 #5); the quality
    # floor in tests/test_similarity_recall.py::
    # test_pq_beats_single_centroid_baseline remains as supplementary
    # evidence.
    # semantic_dedup_clustered left this map in r18: its deterministic
    # integer k-means made it EXACT-oracle-able (dedup._sem_clustered_oracle,
    # VERDICT r17 #7); the quality floors in
    # tests/test_similarity_recall.py::test_semdedup_clustered_floors remain
    # as supplementary evidence.
    # ANN family: recall@1 floors vs the brute-force twin, plus the
    # structural guarantees (probe-all == brute; bounded candidates).
    "similarity_ann_ivf": (
        "tests/test_similarity_recall.py::test_ann_recall_floor[ivf]",
        "tests/test_similarity_recall.py::test_ivf_probe_all_cells_equals_brute_force",
    ),
    "similarity_ann_ivf_trained": (
        "tests/test_similarity_recall.py::test_ann_recall_floor[ivf_trained]",
        "tests/test_similarity_recall.py::test_ivf_candidate_fraction_tracks_n_probe",
    ),
    "similarity_ann_lsh": (
        "tests/test_similarity_recall.py::test_ann_recall_floor[lsh]",
        "tests/test_similarity_recall.py::test_ann_lsh_scores_fraction_of_corpus",
    ),
    # Sketches: error bound vs exact + merge invariance under resharding.
    "sketch_hll_distinct": (
        "tests/test_sketches.py::test_hll_distinct_within_rse",
        "tests/test_sketches.py::test_hll_merge_is_batch_invariant",
        # VERDICT r14 #5: exact distinct twin on the same tokenization +
        # grouping, bit-for-bit vs DuckDB — plumbing coverage without
        # registry growth.
        "tests/test_sketches.py::test_exact_distinct_plumbing_cross_engine",
    ),
    "sketch_theta_overlap": (
        "tests/test_sketches.py::test_theta_overlap_within_error",
        # r15: exact union/intersection/difference twin on the witness's
        # own filter + tokenization, bit-for-bit vs DuckDB.
        "tests/test_sketches.py::test_exact_set_algebra_plumbing_cross_engine",
    ),
}


def rows_only_pin_audit(
    queries: dict, oracles: dict, pins: dict[str, tuple[str, ...]]
) -> tuple[list[str], list[str], dict[str, tuple[str, ...]]]:
    """Pure audit used by round_close and tests/test_rotation.py.

    Returns ``(missing, stale, mapping)``: rows-only witnesses with no
    pin entry (close-FAILING), pin entries whose witness is no longer
    rows-only (informational), and the effective mapping for the current
    rows-only set.
    """
    rows_only = sorted(set(queries) - set(oracles))
    missing = [n for n in rows_only if not pins.get(n)]
    stale = sorted(set(pins) - set(rows_only))
    mapping = {n: pins[n] for n in rows_only if pins.get(n)}
    return missing, stale, mapping

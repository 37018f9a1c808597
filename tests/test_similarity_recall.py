"""Pin ANN recall against the brute-force witness (SURVEY §2.2 X26).

The module docstring in operators/similarity.py documents measured
recall@1 vs q_similarity_topk; these tests assert floors at those values
so a silent regression to recall 0 (e.g. a broken bucket expression that
still produces rows) fails CI. Everything is seeded, so the measured
values are deterministic at a given SF: at sf0.001 under the √ defaults
(k=22 cells, 5 probes, ~23% of the corpus scored — uniform vectors, so
recall ≈ candidate fraction plus luck) LSH = 2/5, IVF = 1/5,
IVF-trained = 5/5 (floored with slack for plan-level reorderings that
tie-break differently). The tunability pin below is the load-bearing
correctness property: probing ALL cells must reproduce brute force
exactly, so recall is a parameter choice, never an implementation bug.
"""

from __future__ import annotations

import pytest

from gasket_rs_spark.operators import similarity as S


@pytest.fixture(scope="module")
def brute_force_top1(spark, sf_dir):
    rows = S.q_similarity_topk(spark, sf_dir).collect()
    return {r.query_id: r.neighbor_id for r in rows if r.rk == 1}


def _recall_at_1(ann_rows, truth) -> tuple[int, int]:
    top1 = {r.query_id: r.neighbor_id for r in ann_rows if r.rk == 1}
    hits = sum(1 for q, n in truth.items() if top1.get(q) == n)
    return hits, len(truth)


@pytest.mark.parametrize(
    "fn,min_hits",
    [
        (S.q_similarity_ann_lsh, 2),
        (S.q_similarity_ann_ivf, 1),
        (S.q_similarity_ann_ivf_trained, 4),
    ],
    ids=["lsh", "ivf", "ivf_trained"],
)
def test_ann_recall_floor(spark, sf_dir, brute_force_top1, fn, min_hits):
    hits, n = _recall_at_1(fn(spark, sf_dir).collect(), brute_force_top1)
    assert n == 5  # sf0.001: every 100th of 500 vectors
    assert hits >= min_hits, f"recall@1 {hits}/{n} fell below floor {min_hits}/{n}"


def test_ivf_probe_all_cells_equals_brute_force(spark, sf_dir, brute_force_top1):
    """n_probe = k degenerates IVF to exact search: every vector's home
    cell is in every query's probe list, so the candidate set is the full
    corpus and the re-rank must reproduce the brute-force top-1 exactly.
    This pins the parameterization end to end — any miss at smaller
    n_probe is a recall choice, not a join bug."""
    k = 22  # √500 default at sf0.001, spelled explicitly for the pin
    rows = S.similarity_ann_ivf(spark, sf_dir, k=k, n_probe=k).collect()
    hits, n = _recall_at_1(rows, brute_force_top1)
    assert hits == n == 5


def test_ivf_candidate_fraction_tracks_n_probe(spark, sf_dir):
    """The default parameterization must score ~n_probe/k of the corpus
    per query (uniform vectors ⇒ near-uniform cells), not a constant
    fraction: this is the √n occupancy bound that lets the cell join
    survive 10⁹ vectors."""
    from pyspark.sql import functions as F

    from gasket_rs_spark.tables import load

    emb = S._with_vec(load(spark, sf_dir, "embeddings"))
    n = emb.count()
    k, n_probe = S._ivf_params(n, None, None)
    corpus = S._ivf_assign(emb, S._ivf_random_centroids(k), n_probe)
    queries = corpus.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.explode("probes").alias("cell")
    )
    n_candidates = corpus.drop("probes").join(queries, "cell").count()
    n_queries = queries.select("query_id").distinct().count()
    expected_fraction = n_probe / k  # ≈0.23 at n=500
    assert n_candidates < 2.0 * expected_fraction * n * n_queries, (
        f"{n_candidates} candidates for {n_queries} queries over {n} vectors "
        f"— occupancy is not tracking n_probe/k = {expected_fraction:.2f}"
    )


def test_ann_lsh_scores_fraction_of_corpus(spark, sf_dir):
    """The LSH path must generate candidates from buckets, not all pairs:
    candidate volume stays well under queries x corpus."""
    from pyspark.sql import functions as F

    from gasket_rs_spark.tables import load

    emb = S._with_bucket(S._with_vec(load(spark, sf_dir, "embeddings")))
    queries = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.explode(
            F.array(
                F.col("bucket"),
                *[F.col("bucket").bitwiseXOR(F.lit(1 << i)) for i in range(S._N_PLANES)],
            )
        ).alias("bucket"),
    )
    n_candidates = emb.join(queries, "bucket").count()
    n_all_pairs = emb.count() * queries.select("query_id").distinct().count()
    assert n_candidates < 0.35 * n_all_pairs


def test_semdedup_clustered_floors(spark, sf_dir):
    """SemDeDup twin discipline (judge r7 #5): the clustered scale path's
    ORGANIC drops are a subset of the exact twin's drops (precision 1.0 —
    same threshold, same rounding, clustering can only remove pairs), and
    every planted near-copy (cosine ≈ 0.99875) is captured at ≥ 0.85 —
    the duplicate-grade recall the operator exists for."""
    from gasket_rs_spark.operators import dedup as D

    exact = {r.vec_id for r in D.q_semantic_dedup_exact(spark, sf_dir).collect()}
    rows = D.q_semantic_dedup_clustered(spark, sf_dir).collect()
    organic = {r.vec_id for r in rows if r.vec_id < D._EMB_PLANT_OFFSET}
    assert organic <= exact, f"non-witness drops: {sorted(organic - exact)[:5]}"

    from pyspark.sql import functions as F

    from gasket_rs_spark.tables import load

    n_planted = (
        load(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") % D._EMB_PLANT_EVERY == 0)
        .count()
    )
    assert n_planted > 0
    # A planted copy always has a lower-id neighbor above threshold (its
    # original, cosine .99875), so capture = the copy is dropped. The
    # reported exemplar may legitimately be an even-lower-id ORGANIC
    # near-neighbor (exemplar = min qualifying id), so don't pin it.
    captured = {
        r.vec_id - D._EMB_PLANT_OFFSET
        for r in rows
        if r.vec_id >= D._EMB_PLANT_OFFSET
    }
    assert len(captured) >= 0.85 * n_planted, (
        f"captured {len(captured)}/{n_planted} planted copies"
    )


def test_pq_beats_single_centroid_baseline(spark, sf_dir):
    """PQ quality floors: per subspace the k=16 codebook's MSE must be
    strictly below the 1-centroid (subspace-mean) baseline's, every
    codebook must actually use multiple codes, and codes stay in range."""
    import numpy as np

    from pyspark.sql import functions as F

    from gasket_rs_spark.operators.similarity import (
        _PQ_K,
        _PQ_SUBSPACES,
        q_embedding_pq_distortion,
        train_pq_codebooks,
    )
    from gasket_rs_spark.tables import load

    rows = {r.subspace: r for r in q_embedding_pq_distortion(spark, sf_dir).collect()}
    assert set(rows) == set(range(_PQ_SUBSPACES))

    X = np.array(
        [r.embedding for r in load(spark, sf_dir, "embeddings").select("embedding").collect()],
        dtype=np.float64,
    )
    sub = X.shape[1] // _PQ_SUBSPACES
    for s, r in rows.items():
        assert 1 < r.n_codes_used <= _PQ_K
        Xs = X[:, s * sub:(s + 1) * sub]
        baseline = ((Xs - Xs.mean(axis=0)) ** 2).sum(axis=1).mean()
        assert r.mse < baseline, f"subspace {s}: {r.mse} !< {baseline}"


def test_pca_matches_pure_numpy_and_is_self_consistent(spark, sf_dir):
    """The integer power-iteration PCA witness (EXACT-oracled r20,
    VERDICT r19 #6) must stay FAITHFUL to real linear algebra: LAPACK is
    the referee. Recompute the SAME (j+1)²-weighted uncentered second-
    moment matrix in float, eigh it, and pin:
    1. lam_micro within 1e-4 relative of LAPACK's λ1 (measured ≤ 2e-11 —
       the margin is the spectrum-gap amplification working);
    2. the integer loading vector within |cos| ≥ 0.999 of LAPACK's top
       eigenvector (sign-invariant);
    3. the weighted spectrum is genuinely separated (λ1/λ2 ≥ 1.05) —
       the documented precondition for power-iteration fidelity; if a
       future fixture regresses this, THIS assert names the cause
       instead of a silent fidelity drift;
    4. self-consistency: the DISTRIBUTED projection second moment
       reproduces the Rayleigh quotient (vᵀGv = Σp² up to the documented
       truncation rescale) — the end-to-end proof that the broadcast
       direction actually projected the corpus."""
    import numpy as np

    from gasket_rs_spark.operators.similarity import (
        _PCA_GRID,
        _PCA_PROJ_DIV,
        q_embedding_pca,
    )
    from gasket_rs_spark.tables import load

    rows = sorted(q_embedding_pca(spark, sf_dir).collect(), key=lambda r: r.component)

    X = np.array(
        [r.embedding for r in load(spark, sf_dir, "embeddings").select("embedding").collect()],
        dtype=np.float64,
    )
    n, d = X.shape
    assert [r.component for r in rows] == list(range(d))
    w = (np.arange(d) + 1.0) ** 2
    QW = np.floor(X * _PCA_GRID + 0.5) * w
    M = (QW.T @ QW) / (n * _PCA_GRID * _PCA_GRID)
    evals, evecs = np.linalg.eigh(M)  # ascending
    lam1, lam2 = evals[-1], evals[-2]
    assert lam1 / lam2 >= 1.05, (lam1, lam2)  # separation precondition

    lam_wit = rows[0].lam_micro / 1e6
    assert abs(lam_wit - lam1) / lam1 < 1e-4, (lam_wit, lam1)

    v = np.array([r.loading_scaled for r in rows], dtype=np.float64)
    v /= np.linalg.norm(v)
    assert abs(float(v @ evecs[:, -1])) >= 0.999

    # self-consistency: Σ(p/PROJ_DIV)² ≈ vᵀGv/PROJ_DIV² where
    # lam = vᵀGv·1e6/(vᵀv·n·GRID²); truncation of p is ≤1 per row, so
    # the relative gap is far below 1e-3 on any non-degenerate corpus
    vi = np.array([r.loading_scaled for r in rows], dtype=np.float64)
    den = float(vi @ vi)
    lam_from_proj = (
        rows[0].proj_ss * 1e6 * float(_PCA_PROJ_DIV) ** 2 / (den * n * _PCA_GRID**2)
    )
    assert abs(lam_from_proj - rows[0].lam_micro) / rows[0].lam_micro < 1e-3
    assert rows[0].n == n


def test_jl_sign_matrix_is_deterministic_and_balanced():
    from gasket_rs_spark.operators.similarity import _DIM, _JL_K, _jl_signs

    S = _jl_signs()
    assert len(S) == _JL_K and all(len(row) == _DIM for row in S)
    assert all(s in (-1, 1) for row in S for s in row)
    # md5-derived => stable across sessions; pin a few cells forever
    assert S == _jl_signs()
    # roughly balanced rows (binomial bound: |sum| < d/2 w.h.p.)
    for row in S:
        assert abs(sum(row)) < _DIM // 2


def test_jl_projection_distortion_centers_on_one(spark, sf_dir):
    import numpy as np

    from gasket_rs_spark.operators.similarity import (
        _JL_BUCKET,
        _JL_K,
        _jl_signs,
        q_jl_projection,
    )
    from gasket_rs_spark.tables import load

    rows = q_jl_projection(spark, sf_dir).collect()
    assert rows
    buckets = [r.bucket for r in rows]
    assert buckets == sorted(buckets)
    n = sum(r.n_vecs for r in rows)
    assert n == load(spark, sf_dir, "embeddings").count()
    for r in rows:
        # bucket boundaries really contain their min/max
        assert r.bucket * _JL_BUCKET <= r.min_r6 <= r.max_r6
        assert r.max_r6 < (r.bucket + 1) * _JL_BUCKET
        assert r.n_vecs * r.min_r6 <= r.sum_r6 <= r.n_vecs * r.max_r6
    # E[ratio] = 1 for a Rademacher JL matrix; with n>=100 vectors the
    # corpus mean concentrates well inside [0.7, 1.3]
    mean6 = sum(r.sum_r6 for r in rows) / n
    assert 700_000 < mean6 < 1_300_000
    # independent numpy cross-check of the full pipeline on one vector
    emb = load(spark, sf_dir, "embeddings").orderBy("vec_id").first()
    S = np.array(_jl_signs(), dtype=np.int64)
    e6 = np.floor(np.array(emb.embedding, dtype=np.float64) * 1e6 + 0.5).astype(
        np.int64
    )
    p = S @ e6
    ratio6 = int(
        np.floor(
            float((p * p).sum()) / (_JL_K * float((e6 * e6).sum())) * 1e6 + 0.5
        )
    )
    hits = [
        r for r in rows if r.min_r6 <= ratio6 <= r.max_r6 and r.bucket == ratio6 // _JL_BUCKET
    ]
    assert len(hits) == 1


def test_blocked_pair_kernels_match_jvm_fold(spark, sf_dir):
    """r22 §4.2 pin: the blocked Arrow/numpy pair kernels (_bitext_pairs,
    _maxsim_scored, _ece_scored) must be BIT-IDENTICAL to the Catalyst
    HOF expression forms they replaced — the numpy code replays the JVM
    fold's IEEE op sequence (sequential per-dim multiply-add,
    _np_fold_dot), so the floor(x*1e6 + 0.5) snaps cannot diverge.
    exceptAll both ways over the full intermediate frames (not just the
    top-k output, which could mask sub-rank diffs)."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import broadcast

    from gasket_rs_spark.tables import load

    emb = load(spark, sf_dir, "embeddings")

    # --- bitext pair table: HOF expression form
    as_double = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    norm = F.sqrt(
        F.aggregate(as_double, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    v = emb.select("vec_id", as_double.alias("vec"), norm.alias("norm"))
    a = v.where(F.col("vec_id") % 2 == 0).select(
        F.col("vec_id").alias("src_id"),
        F.col("vec").alias("va"),
        F.col("norm").alias("na"),
    )
    b = v.where(F.col("vec_id") % 2 == 1).select(
        F.col("vec_id").alias("tgt_id"),
        F.col("vec").alias("vb"),
        F.col("norm").alias("nb"),
    )
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    hof_pairs = a.crossJoin(b).select(
        "src_id",
        "tgt_id",
        F.floor(
            dot / F.greatest(F.col("na") * F.col("nb"), F.lit(1e-12)) * 1e6
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("c6"),
    )
    blocked = S._bitext_pairs(spark, emb)
    assert blocked.exceptAll(hof_pairs).count() == 0
    assert hof_pairs.exceptAll(blocked).count() == 0

    # --- maxsim scored frame: HOF expression form (self-pairs excluded
    # by the join predicate; filter the kernel frame the same way)
    sub_norms = F.expr(
        f"transform(sequence(0, {S._MS_SUBS - 1}), i -> "
        f" sqrt(aggregate(slice(vec, i * 8 + 1, 8), CAST(0.0 AS DOUBLE),"
        f"  (a, x) -> a + x * x)))"
    )
    vv = emb.select("vec_id", as_double.alias("vec")).withColumn(
        "nrm8", sub_norms
    )
    queries = vv.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("vec").alias("qv"),
        F.col("nrm8").alias("qn"),
    )
    pairs = vv.join(broadcast(queries), F.col("vec_id") != F.col("query_id"))
    score6 = F.expr(
        f"aggregate(transform(sequence(0, {S._MS_SUBS - 1}), i -> "
        f" array_max(transform(sequence(0, {S._MS_SUBS - 1}), j -> "
        f"  CAST(floor("
        f"   aggregate(zip_with(slice(qv, i * 8 + 1, 8),"
        f"                      slice(vec, j * 8 + 1, 8),"
        f"                      (x, y) -> x * y),"
        f"             CAST(0.0 AS DOUBLE), (a, x) -> a + x)"
        f"   / greatest(element_at(qn, i + 1) * element_at(nrm8, j + 1),"
        f"              1e-12)"
        f"   * 1e6 + 0.5) AS BIGINT)))),"
        f" CAST(0 AS BIGINT), (a, x) -> a + x)"
    )
    hof_scored = pairs.select("query_id", "vec_id", score6.alias("score6"))
    blocked_scored = S._maxsim_scored(spark, emb).where(
        F.col("vec_id") != F.col("query_id")
    )
    assert blocked_scored.exceptAll(hof_scored).count() == 0
    assert hof_scored.exceptAll(blocked_scored).count() == 0

    # --- calibration_ece scored frame: labeled HOF c6 of every
    # _ECE_QMOD-th vector against the corpus (self-pairs excluded by the
    # join predicate; filter the kernel frame the same way)
    lv = emb.select("vec_id", "label", as_double.alias("vb"), norm.alias("nb"))
    ece_q = lv.where(F.col("vec_id") % S._ECE_QMOD == 0).toDF(
        "query_id", "qlabel", "va", "na"
    )
    c6 = F.floor(
        dot / F.greatest(F.col("na") * F.col("nb"), F.lit(1e-12)) * 1e6 + F.lit(0.5)
    ).cast("bigint")
    hof_ece = lv.join(broadcast(ece_q), F.col("vec_id") != F.col("query_id")).select(
        "query_id", "qlabel", "label", "vec_id", c6.alias("c6")
    )
    blocked_ece = S._ece_scored(spark, emb).where(
        F.col("vec_id") != F.col("query_id")
    )
    assert blocked_ece.exceptAll(hof_ece).count() == 0
    assert hof_ece.exceptAll(blocked_ece).count() == 0


def test_blocked_distance_kernels_match_jvm_fold(spark, sf_dir):
    """r22 §4.2 pin, squared-L2 spelling: _dbscan_pairs / _sil_pairs
    must be bit-identical to the HOF expression forms they replaced —
    d6 = floor((sqa + sqb - 2*dot) * 1e6 + 0.5) with sq/dot folds in the
    JVM's IEEE op order. exceptAll both ways over the full pair
    frames."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import broadcast

    from gasket_rs_spark.tables import load

    emb = load(spark, sf_dir, "embeddings")

    def hof_pairs(base, labeled, pred):
        cols = ["vec_id"] + (["label"] if labeled else [])
        v = base.select(
            *cols, S._as_double(F.col("embedding")).alias("vec")
        ).withColumn(
            "sq",
            F.aggregate(F.col("vec"), F.lit(0.0), lambda a, x: a + x * x),
        )
        a = v.select(
            F.col("vec_id").alias("ida"),
            *([F.col("label").cast("bigint").alias("la")] if labeled else []),
            F.col("vec").alias("va"),
            F.col("sq").alias("sqa"),
        )
        b = v.select(
            F.col("vec_id").alias("idb"),
            *([F.col("label").cast("bigint").alias("lb")] if labeled else []),
            F.col("vec").alias("vb"),
            F.col("sq").alias("sqb"),
        )
        return a.join(broadcast(b), pred).select(
            "ida",
            *((["la", "lb"]) if labeled else ["idb"]),
            F.floor(
                (F.col("sqa") + F.col("sqb") - 2 * S._dot(F.col("va"), F.col("vb")))
                * 1e6
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("d6"),
        )

    emb3 = emb.where(F.col("vec_id") % 3 == 0)
    hof_db = hof_pairs(
        emb3, False, F.col("ida") < F.col("idb")
    ).where(F.col("d6") <= S._DBSCAN_EPS6)
    # re-select to the blocked column order for exceptAll
    blocked_db = S._dbscan_pairs(spark, emb3).select("ida", "idb", "d6")
    assert blocked_db.exceptAll(hof_db.select("ida", "idb", "d6")).count() == 0
    assert hof_db.select("ida", "idb", "d6").exceptAll(blocked_db).count() == 0

    emb4 = emb.where(F.col("vec_id") % S._SIL_MOD == 0)
    hof_sil = hof_pairs(emb4, True, F.col("ida") != F.col("idb"))
    blocked_sil = S._sil_pairs(spark, emb4).select("ida", "la", "lb", "d6")
    assert blocked_sil.exceptAll(hof_sil).count() == 0
    assert hof_sil.exceptAll(blocked_sil).count() == 0

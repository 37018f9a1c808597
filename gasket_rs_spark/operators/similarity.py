"""Similarity search over the ``embeddings`` table (SURVEY.md §2.2 X26).

Two paths, per the survey's risk register:
- ``q_similarity_topk``: brute-force cosine top-k — the correctness witness
  (oracle-checkable). Quadratic: query-set × corpus. Fine when the query
  set is small (it is: a broadcastable dimension side), wrong as an
  all-pairs primitive at 100 TB.
- ``q_similarity_ann_lsh``: random-hyperplane (SimHash) LSH — the scale
  path. Each vector gets a bucket from the sign pattern of 6 fixed random
  projections; candidate generation is an equi-join on the bucket id, so
  the cross product never materializes. Multi-probe (Hamming-1 neighbors)
  trades recall for candidate volume.
- ``q_similarity_ann_ivf`` / ``_trained``: IVF-style coarse quantizer —
  inverted-file with dot-product cells; k and n_probe are arguments with
  √-scaled defaults (k = √n cells, n_probe = √k probes ⇒ candidate
  fraction ~n^(-1/4), see _ivf_params), cell assignment one Arrow/numpy
  matmul pass.

Measured on the test corpora (uniform random vectors — the hardest case
for ANN, no cluster structure, nearest neighbors barely above random):
at the √ defaults (~23% of corpus scored at n=500) recall@1 vs brute
force ranges 1-5 out of 5 across SFs/seeds for IVF variants and 2/5 for
LSH (~11% scored). n_probe = k degenerates to exact search (pytest-pinned
equal to brute force); raise n_probe to buy recall; on real clustered
embeddings all variants do far better at the same candidate fraction.

All vector math is Catalyst higher-order functions (``zip_with`` +
``aggregate`` folds) — JVM-side, no UDF, vectorized parquet input.
"""

from __future__ import annotations

import random
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from gasket_rs_spark import keys, store
from gasket_rs_spark.grid import snap, units
from gasket_rs_spark.tables import load

_DIM = 64
_N_PLANES = 6
_TOP_K = 5

# Fixed random hyperplanes (seeded — identical across sessions/executors).
_rng = random.Random(1234)
_PLANES = [[_rng.gauss(0.0, 1.0) for _ in range(_DIM)] for _ in range(_N_PLANES)]


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _norm(col):
    return F.sqrt(F.aggregate(_as_double(col), F.lit(0.0), lambda acc, x: acc + x * x))


def _with_vec(df: DataFrame) -> DataFrame:
    return df.select(
        "vec_id",
        "label",
        _as_double(F.col("embedding")).alias("vec"),
        _norm(F.col("embedding")).alias("nrm"),
    )


def cosine6(a: str, b: str, na: str, nb: str):
    """Cosine of vector columns ``a`` and ``b`` (norms ``na``, ``nb``) on
    the 1e-6 grid: ``round(a·b / greatest(na·nb, 1e-12), 6)``, the
    spelling the oracles mirror with ``list_dot_product``. The 1e-12
    floor keeps a zero vector at cosine 0."""
    return F.round(_dot(F.col(a), F.col(b)) / F.greatest(F.col(na) * F.col(nb), F.lit(1e-12)), 6)


def _queries(emb: DataFrame, *extra) -> DataFrame:
    """Every 100th corpus vector as a query: (query_id, qvec, qnrm, *extra)."""
    return emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("nrm").alias("qnrm"),
        *extra,
    )


def _top_by_cosine(pairs: DataFrame, k: int, *cols) -> DataFrame:
    """Score (query, corpus vector) ``pairs`` by cosine and keep each
    query's top ``k`` by (cosine DESC, vec_id) — a unique order, so ties
    cannot flip between engines — as rank ``rk``, projected to ``cols``."""
    from pyspark.sql import Window

    scored = pairs.withColumn("cosine", cosine6("qvec", "vec", "qnrm", "nrm"))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return scored.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= k).select(*cols)


def map_vec_batches(df: DataFrame, kernel, schema: str) -> DataFrame:
    """``df.mapInPandas`` for the dense vector kernels: ``kernel(pdf, V)``
    gets each non-empty Arrow batch with its ``vec`` column as a
    (rows × dim) float64 matrix and returns the batch's output frame."""
    import numpy as np

    def batches(it):
        for pdf in it:
            if len(pdf):
                yield kernel(pdf, np.array(pdf["vec"].tolist(), dtype=np.float64))

    return df.mapInPandas(batches, schema)


def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors for every 100th vector.

    The (small) query side is broadcast against the corpus — one pass over
    the corpus per batch of queries, no shuffle of the big side.

    r22 negative result: the blocked-bank Arrow/numpy kernel that won on
    every other all-pairs witness (bitext/maxsim/dbscan/silhouette/ece —
    see _PAIR_BANK) measured a WASH-to-slight-LOSS here (interleaved A/B
    at sf0.1: HOF min 0.923 s vs blocked 1.014 s): the pair volume is
    only queries×corpus with ONE 64-dim fold per pair, so the two bank
    shuffles + Arrow round-trip exceed the interpreted-expression cost
    they remove. Kept the codegen broadcast-join form on evidence.
    """
    emb = _with_vec(load(spark, sf_dir, "embeddings"))
    queries = _queries(emb)
    # Scale-adaptive parallelism for the pair explosion (r22, guide §2):
    # the broadcast join multiplies each corpus row by |queries|, but the
    # stage inherits the SCAN's split count — at sf1 the corpus arrived
    # as one row group and the whole n_q x n pair scoring ran on ONE task
    # (35.3 s of a 3.5 s query). Round-robin repartition to
    # defaultParallelism before the join spreads the explosion over the
    # cluster's cores regardless of input file layout; the 2000-row
    # exchange at sf0.1 is noise next to the scoring it parallelizes
    # (interleaved A/B min: sf0.1 0.814 -> 0.624 s, sf1 with 10-file
    # layout 4.154 -> 2.300 s; rerun with `scripts/ab.py 34f5cf9 847ce88
    # --metric similarity_topk -- python3 {ab} time --sf <sf1>
    # similarity_topk`).
    return _top_by_cosine(
        emb.repartition(spark.sparkContext.defaultParallelism).join(
            broadcast(queries), F.col("vec_id") != F.col("query_id")
        ),
        _TOP_K,
        "query_id", "rk", F.col("vec_id").alias("neighbor_id"), "cosine", "label",
    )


def _with_bucket(df: DataFrame) -> DataFrame:
    """Add the sign-pattern bucket id (0..2^planes-1) from the fixed
    hyperplanes — one Arrow-batched (batch × dim) @ (dim × planes) numpy
    matmul with packed sign bits, the shared kernel shape of every
    hyperplane/centroid assignment in the package (see _ivf_assign and
    dedup._emb_buckets; the per-plane Catalyst aggregate/zip_with dot
    formulation this replaces pays ~dim interpreted ops per plane)."""
    import numpy as np

    P = np.array(_PLANES, dtype=np.float64).T  # dim × planes
    weights = 1 << np.arange(_N_PLANES, dtype=np.int64)

    def bucket(pdf, V):
        out = pdf[["vec_id", "label", "vec", "nrm"]].copy()
        out["bucket"] = (((V @ P) >= 0.0) * weights).sum(axis=1)
        return out

    return map_vec_batches(
        df, bucket, "vec_id bigint, label int, vec array<double>, nrm double, bucket bigint"
    )


def q_similarity_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-3 via random-hyperplane LSH with Hamming-1 multi-probe.

    Corpus vectors land in 1 bucket each; each query probes its own bucket
    plus the 6 single-bit-flip neighbors. Candidate generation is an
    equi-join on bucket — scales as O(n · bucket_occupancy), not O(n²).
    """
    emb = _with_bucket(_with_vec(load(spark, sf_dir, "embeddings")))
    queries = _queries(
        emb,
        F.explode(
            F.array(
                F.col("bucket"),
                *[F.col("bucket").bitwiseXOR(F.lit(1 << i)) for i in range(_N_PLANES)],
            )
        ).alias("bucket"),
    )
    return _top_by_cosine(
        emb.join(broadcast(queries), "bucket").where(F.col("vec_id") != F.col("query_id")),
        3,
        "query_id", "rk", F.col("vec_id").alias("neighbor_id"), "cosine",
    )


# --- IVF parameters -------------------------------------------------------
# Cell count k and probe count are ARGUMENTS with sqrt-scaled defaults:
# k = max(8, round(sqrt(n))) coarse cells, n_probe = max(2, round(sqrt(k))).
# Candidate fraction per query on a structure-free corpus is ~n_probe/k =
# ~n^(-1/4): 500 vectors → 22 cells/5 probes (~23% scored), 10⁹ vectors →
# ~31,623 cells/178 probes (~0.6% scored). The previous fixed k=8/probe-3
# scored ~37% of the corpus at EVERY n — quadratic-in-disguise. See
# SCALE.md "Similarity search" for the recall/candidate trade.
_IVF_SEED = 4321

# Corpus row count per sf_dir, memoized: the √n parameter derivation is
# the ONE place the IVF constructors need an eager action, and without
# the cache every invocation (bench passes, repeated notebook calls)
# fired a full-corpus count job before the returned plan even executed.
# Parquet counts are metadata-cheap but still a Spark job; at a real
# deployment the number would come from table statistics instead.
_CORPUS_N_CACHE: dict[str, int] = {}


def _corpus_n(emb: DataFrame, sf_dir: str) -> int:
    if sf_dir not in _CORPUS_N_CACHE:
        _CORPUS_N_CACHE[sf_dir] = emb.count()
    return _CORPUS_N_CACHE[sf_dir]


def _ivf_params(n: int, k: int | None, n_probe: int | None) -> tuple[int, int]:
    if k is None:
        k = max(8, int(round(n ** 0.5)))
    k = max(1, k)
    if n_probe is None:
        n_probe = max(2, int(round(k ** 0.5)))
    return k, min(n_probe, k)


def _ivf_random_centroids(k: int) -> list[list[float]]:
    """Seeded gaussian coarse centroids — deterministic for a given k."""
    rng = random.Random(_IVF_SEED)
    return [[rng.gauss(0.0, 1.0) for _ in range(_DIM)] for _ in range(k)]


def _ivf_assign(emb: DataFrame, cents: list[list[float]], n_probe: int) -> DataFrame:
    """(vec_id, vec, nrm, cell, probes): home cell = argmax-dot centroid,
    probes = the top-n_probe cells by dot, in ONE Arrow-batched numpy
    matmul pass ((batch × dim) @ (dim × k) + stable argsort). Per-cell
    Catalyst dot expressions stop compiling/performing past a few hundred
    cells; the matmul carries tens of thousands of cells (k = √n at
    10⁹ vectors is ~31k), the same measured kernel economics as the
    MinHash/SimHash sketches. Centroids ride into executors as a
    broadcast-sized constant (k × dim floats)."""
    import numpy as np
    import pandas as pd

    C = np.array(cents, dtype=np.float64).T  # dim × k

    def assign(pdf, V):
        order = np.argsort(-(V @ C), axis=1, kind="stable")
        return pd.DataFrame(
            {
                "vec_id": pdf["vec_id"],
                "vec": pdf["vec"],
                "nrm": pdf["nrm"],
                "cell": (order[:, 0] + 1).astype("int32"),
                "probes": [(row[:n_probe] + 1).astype("int32").tolist() for row in order],
            }
        )

    return map_vec_batches(
        emb, assign, "vec_id bigint, vec array<double>, nrm double, cell int, probes array<int>"
    )


def _ann_ivf_plan(
    spark: SparkSession,
    sf_dir: str,
    k: int | None,
    n_probe: int | None,
    centroids: Callable[[int], list[list[float]]],
) -> DataFrame:
    """Shared IVF plan: derive k and n_probe (_ivf_params), assign cells
    to ``centroids(k)``, probe the query side's top cells, equi-join on
    cell, exact cosine re-rank to top-3."""
    emb = _with_vec(load(spark, sf_dir, "embeddings"))
    k, n_probe = _ivf_params(_corpus_n(emb, sf_dir), k, n_probe)
    corpus = _ivf_assign(emb, centroids(k), n_probe)
    queries = _queries(corpus, F.explode("probes").alias("cell"))
    return _top_by_cosine(
        corpus.drop("probes")
        .join(broadcast(queries), "cell")
        .where(F.col("vec_id") != F.col("query_id")),
        3,
        "query_id", "rk", F.col("vec_id").alias("neighbor_id"), "cosine",
    )


def similarity_ann_ivf(
    spark: SparkSession,
    sf_dir: str,
    k: int | None = None,
    n_probe: int | None = None,
) -> DataFrame:
    """ANN top-3 via an IVF-style coarse quantizer, k/n_probe-parametric.

    Corpus vectors are assigned to the best of k seeded coarse centroids;
    each query probes its top-n_probe cells. Candidate generation is an
    equi-join on cell id — the inverted-file structure, minus the k-means
    training step (q_similarity_ann_ivf_trained adds it). Defaults scale
    k = √n, n_probe = √k (see _ivf_params). Rows-only check (cell
    assignment is seed-specific); emitted cosines are exact.
    """
    return _ann_ivf_plan(spark, sf_dir, k, n_probe, _ivf_random_centroids)


def q_similarity_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity_ann_ivf(spark, sf_dir)


def md5_quarter(emb: DataFrame) -> DataFrame:
    """The embeddings rows whose md5(vec_id) lands in 4 of 16 buckets —
    a reproducible, shuffle-free ~25% slice for driver-side training."""
    return emb.withColumn(
        "bucket",
        keys.hex_int(F.md5(F.col("vec_id").cast("string")), 2) % 16,
    ).where(F.col("bucket") < 4)


def int_kmeans(Q, k: int, iters: int):
    """Deterministic INTEGER k-means over the int64 rows ``Q``, replayable
    verbatim in SQL: stride init (centroid j = row (j·m) div k), integer
    squared-distance argmin with first-min ties (== row_number ORDER BY
    dist, j), means by divide-toward-zero (Spark div / DuckDB //; numpy
    // floors, which disagrees on negative sums), empty clusters keep
    their centroid. Returns the k × dim int64 centroids."""
    import numpy as np

    m = len(Q)
    C = Q[[(j * m) // k for j in range(k)]].copy()
    for _ in range(iters):
        assign = ((Q[:, None, :] - C[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
        for j in range(k):
            members = Q[assign == j]
            if len(members):
                s = members.sum(axis=0)
                C[j] = np.sign(s) * (np.abs(s) // len(members))
    return C


def _train_coarse_centroids(spark: SparkSession, sf_dir: str, k: int) -> list[list[float]]:
    """Train IVF coarse centroids with k-means on a deterministic sample.

    The scale recipe: sample a bounded slice of the corpus with md5
    bucketing (reproducible, no shuffle), collect ONLY the sample to the
    driver, run seeded k-means there, broadcast the k×dim centroid matrix
    back as literals. Corpus size never matters — the sample is bounded.
    """
    import numpy as np

    # ~25% at test SF; the limit caps it at scale
    sample = md5_quarter(load(spark, sf_dir, "embeddings")).select("embedding").limit(2000)
    X = np.array([r["embedding"] for r in sample.collect()], dtype=np.float64)
    rng = np.random.RandomState(42)
    centroids = X[rng.choice(len(X), size=k, replace=False)]
    for _ in range(10):
        d = ((X[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for j in range(k):
            members = X[assign == j]
            if len(members):
                centroids[j] = members.mean(axis=0)
    return [[float(v) for v in c] for c in centroids]


def q_similarity_ann_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with k-means-trained coarse centroids (vs the seeded random
    ones in q_similarity_ann_ivf). Same plan shape (_ann_ivf_plan);
    training runs on a bounded driver-side sample and broadcasts the k×dim
    centroid matrix back — corpus size never touches the training step.
    k = √n and n_probe = √k, the untrained variant's defaults.

    On the uniform test vectors k-means finds no structure, so recall per
    candidate matches the untrained variant (floors in
    tests/test_similarity_recall.py); on real clustered embeddings
    training is what makes IVF beat LSH.
    """
    return _ann_ivf_plan(
        spark, sf_dir, None, None, lambda k: _train_coarse_centroids(spark, sf_dir, k)
    )


def q_similarity_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid norms — vector aggregation via posexplode + re-agg
    (the distributed pattern for computing centroids at any scale)."""
    emb = load(spark, sf_dir, "embeddings")
    ex = emb.select("label", F.posexplode(_as_double(F.col("embedding"))).alias("dim", "v"))
    cent = ex.groupBy("label", "dim").agg(F.avg("v").alias("c"))
    return (
        cent.groupBy("label")
        .agg(
            F.round(F.sqrt(F.sum(F.col("c") * F.col("c"))), 6).alias("centroid_norm"),
            F.count("*").alias("n_dims"),
        )
    )


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization error profile — the 4× storage
    compression a 100 TB embedding corpus runs before archiving, with
    per-vector reconstruction-error stats as the quality gate.

    Per vector: scale = max|x| / 127, code = floor(x/scale + 0.5)
    (spelled identically in the oracle — round() tie behavior differs
    between engines, floor(x+0.5) doesn't), error = |x − scale·code|.
    One Arrow-batched numpy pass (the package's standard dense-kernel
    shape); emits (vec_id, scale, max_abs_err, mean_abs_err) rounded at
    6 dp — max is order-independent and the 64-element mean's
    summation-order drift is ~1e-18, far below the rounding grid.
    """
    import numpy as np
    import pandas as pd

    def grid6(x):
        # floor(x*1e6+0.5)/1e6 — identical spelling to the oracle
        # (round() half-grid behavior differs between engines)
        return np.floor(x * 1000000 + 0.5) / 1000000

    def quantize(pdf, V):
        scale = np.abs(V).max(axis=1) / 127.0
        safe = np.where(scale == 0.0, 1.0, scale)[:, None]
        codes = np.floor(V / safe + 0.5)
        err = np.abs(V - safe * codes)
        err = np.where(scale[:, None] == 0.0, 0.0, err)
        return pd.DataFrame(
            {
                "vec_id": pdf["vec_id"],
                "scale": grid6(scale),
                "max_abs_err": grid6(err.max(axis=1)),
                "mean_abs_err": grid6(err.mean(axis=1)),
            }
        )

    emb = _with_vec(load(spark, sf_dir, "embeddings")).select("vec_id", "vec")
    return map_vec_batches(
        emb, quantize, "vec_id bigint, scale double, max_abs_err double, mean_abs_err double"
    )


_PQ_SUBSPACES = 8
# 64-dim fixture embeddings split into 8 contiguous 8-dim subspaces; the
# static DuckDB oracle bakes this sub-dimension as a literal, and
# train_pq_codebooks asserts the fixture dim matches (ADVICE r19)
_SUBDIM = 8
_PQ_K = 16
_PQ_ITERS = 8
_PQ_QUANT = 1_000_000  # fixed-point grid for the deterministic PQ k-means


def train_pq_codebooks(spark: SparkSession, sf_dir: str):
    """Train product-quantization codebooks: the 64-dim space splits
    into 8 contiguous 8-dim subspaces, each with its own k=16 k-means
    codebook — trained driver-side on a bounded md5-bucketed sample
    (corpus size never matters), broadcast back as literals. Returns
    INT64 array (subspaces, k, subdim) in _PQ_QUANT fixed-point units.

    Deterministic INTEGER k-means (VERDICT r18 #5 — what makes the PQ
    distortion witness EXACT-oracle-able, the same recipe as the
    clustered SemDeDup's _sem_centroids): quantize the sample to the
    fixed-point grid (floor(x·1e6 + 0.5) — one multiply, one add, one
    floor on the same double, identical on both engines), stride init
    over the ORDER BY vec_id sample (no RNG), integer squared-distance
    argmin with first-min ties (== row_number ORDER BY dist, c), means
    via divide-toward-zero (Spark div / DuckDB //; numpy // floors, so
    trunc is emulated with sign·(|s|//n)), empty codes carry forward.
    Every step is replayed verbatim by the DuckDB oracle's unrolled
    CTEs (_pq_distortion_oracle)."""
    import numpy as np

    sample = (
        md5_quarter(load(spark, sf_dir, "embeddings"))
        # Deterministic selection (ADVICE r8): limit() on an unordered
        # frame is partitioning-dependent, so codebooks (and every
        # number built on them) would vary run to run once the bucket
        # filter yields >2000 rows. Min-2000-by-vec_id is a TakeOrdered
        # (no full sort) and reproducible on any layout.
        .orderBy("vec_id")
        .limit(2000)
        .select("embedding")
    )
    X = np.array([r["embedding"] for r in sample.collect()], dtype=np.float64)
    if len(X) < _PQ_K:
        raise ValueError(
            f"PQ training sample has {len(X)} rows; need >= {_PQ_K} "
            "(stride init needs K distinct sample rows)"
        )
    Q = np.floor(X * _PQ_QUANT + 0.5).astype(np.int64)
    dim = Q.shape[1]
    # The DuckDB oracle (_pq_distortion_oracle) is a static SQL string
    # whose subspace arithmetic is baked at _SUBDIM = dim/_PQ_SUBSPACES;
    # a fixture with a different embedding dim would silently partition
    # subspaces differently on the two engines (ADVICE r19) — fail here,
    # at the cause, with a named error instead.
    if dim != _PQ_SUBSPACES * _SUBDIM:
        raise ValueError(
            f"PQ codebook layout expects embedding dim "
            f"{_PQ_SUBSPACES * _SUBDIM} ({_PQ_SUBSPACES} subspaces x "
            f"{_SUBDIM} dims, mirrored by the static DuckDB oracle); "
            f"fixture has dim {dim}"
        )
    sub = dim // _PQ_SUBSPACES
    return np.stack(
        [
            int_kmeans(Q[:, s * sub : (s + 1) * sub], _PQ_K, _PQ_ITERS)
            for s in range(_PQ_SUBSPACES)
        ]
    )


def q_embedding_pq_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization audit: every vector is PQ-encoded (8 codes ×
    4 bits of codebook index — an 8-byte vector replacing 256 bytes) and
    the per-subspace reconstruction distortion is aggregated. This is
    the storage/ANN compression step after IVF; the witness reports per
    subspace: rows, codes actually used, and mean squared reconstruction
    error in the original (unquantized) units.

    EXACT-oracled since r19 (VERDICT r18 #5): the deterministic integer
    k-means trainer (train_pq_codebooks) plus the integer encode pass
    below are replayed verbatim by the DuckDB oracle's unrolled CTEs
    (_pq_distortion_oracle — all 8 subspaces ride one keyed unroll).
    Distortion is an exact int64 sum in _PQ_QUANT² units; the only
    float step is the final exactly-spelled mse division+snap of exact
    integers, identical on both engines. Compression-quality floors
    additionally pinned in tests/test_similarity_recall.py (PQ must
    beat the 1-centroid baseline in every subspace, codes in range).

    Scale shape: codebooks are literal broadcast (8×16×8 int64); encode
    + distortion is ONE Arrow-batched numpy pass emitting 8 partial rows
    per batch — constant shuffle, any corpus size. Per-row distortion
    tops out near 8·(1.2e6)² ≈ 1.2e13, so int64 partials carry ~750k
    rows per batch and the global sum ~750k×batches before needing the
    decimal(38,0) spelling — noted, not needed at any test SF.
    """
    import numpy as np
    import pandas as pd

    books = train_pq_codebooks(spark, sf_dir)  # (S, K, sub) int64
    emb = load(spark, sf_dir, "embeddings").select("embedding")
    sub = books.shape[2]

    def encode(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            Q = np.floor(X * _PQ_QUANT + 0.5).astype(np.int64)
            rows = []
            for s in range(_PQ_SUBSPACES):
                Qs = Q[:, s * sub:(s + 1) * sub]
                d2 = ((Qs[:, None, :] - books[s][None, :, :]) ** 2).sum(axis=2)
                assign = d2.argmin(axis=1)  # first-min == ORDER BY dist, c
                err = int(d2[np.arange(len(Qs)), assign].sum())
                rows.append(
                    (s, len(Qs), err, [int(c) for c in np.unique(assign)])
                )
            yield pd.DataFrame(
                rows, columns=["subspace", "n", "sq_err", "codes"]
            )

    partials = emb.mapInPandas(
        encode, "subspace long, n long, sq_err long, codes array<int>"
    )
    return (
        partials.groupBy("subspace")
        .agg(
            F.sum("n").alias("n_vectors"),
            F.size(F.array_distinct(F.flatten(F.collect_list("codes"))))
            .cast("long")
            .alias("n_codes_used"),
            # exact ints in, one identical double-op sequence out:
            # sum/n → un-quantize (÷ _PQ_QUANT²) → floor-snap at 9dp,
            # spelled verbatim in _pq_distortion_oracle
            snap(
                F.sum("sq_err").cast("double")
                / F.sum("n")
                / F.lit(1.0e12),
                F.lit(1.0e9),
            ).alias("mse"),
        )
        .orderBy("subspace")
    )


def q_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle covariance matrix of the embedding corpus — the
    whitening/PCA prep every embedding pipeline runs before decorrelation
    or dimensionality decisions.

    Scale path: the Gram matrix Σxxᵀ is accumulated per Arrow batch as a
    64×64 numpy matmul (one mapInPandas pass emitting 2080 upper-triangle
    partial cells per batch — CONSTANT output size per partition, so the
    shuffle carries partitions×2080 rows no matter the corpus size),
    then cell-wise summed. Means come from a JVM posexplode aggregate;
    cov(i,j) = gram/n − μᵢμⱼ. The DuckDB oracle computes the same cells
    via a position-exploded self-join — cross-formulation as well as
    cross-engine. gram snapped at 4dp, cov at 6dp (summation-order drift
    ~1e-10 against grids of 5e-5 / 5e-7 on ~1e-2 covariances).
    """
    import numpy as np
    import pandas as pd

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def gram_batches(it):
        for pdf in it:
            if not len(pdf):
                continue
            M = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            G = M.T @ M
            iu, ju = np.triu_indices(G.shape[0])
            yield pd.DataFrame(
                {"i": iu.astype("int32"), "j": ju.astype("int32"), "g": G[iu, ju]}
            )

    cells = (
        emb.select("embedding")
        .mapInPandas(gram_batches, "i int, j int, g double")
        .groupBy("i", "j")
        .agg(F.sum("g").alias("gram"))
    )
    means = (
        emb.select(F.posexplode("embedding").alias("i", "v"))
        .groupBy("i")
        .agg(
            (F.sum(F.col("v").cast("double")) / F.count("*")).alias("mu"),
            F.count("*").alias("cnt"),
        )
    )
    mi = means.select(F.col("i").alias("mi_i"), F.col("mu").alias("mu_i"), "cnt")
    mj = means.select(F.col("i").alias("mj_j"), F.col("mu").alias("mu_j"))
    return (
        cells.join(F.broadcast(mi), cells.i == mi.mi_i)
        .join(F.broadcast(mj), cells.j == mj.mj_j)
        .select(
            "i",
            "j",
            # + 0.0 normalizes IEEE negative zero (round(-1e-9, 4) -> -0.0):
            # -0.0 == 0.0 numerically but stringifies differently, which
            # flips the driver's value hash. Same spelling in the oracle.
            (F.round("gram", 4) + F.lit(0.0)).alias("gram"),
            (
                F.round(
                    F.col("gram") / F.col("cnt") - F.col("mu_i") * F.col("mu_j"), 6
                )
                + F.lit(0.0)
            ).alias("cov"),
        )
    )


def q_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive / retrieval training: for
    every 100th vector, the top-5 most-similar vectors with a DIFFERENT
    label — the "hardest negatives" a contrastive batch builder pairs
    with each anchor (easy random negatives teach nothing; the highest-
    cosine wrong-label examples carry the gradient signal).

    Same scale shape as q_similarity_topk (this IS its exact twin with a
    label-disagreement predicate pushed below the ranking): the bounded
    anchor set broadcasts against the corpus — one pass, no shuffle of
    the big side; the label filter prunes candidates BEFORE the per-query
    ranking window. The quadratic-in-anchors cost is bounded by the
    anchor sample (1%); the 100 TB path swaps the scored join for the
    ANN candidate generators, identical downstream."""
    emb = _with_vec(load(spark, sf_dir, "embeddings"))
    anchors = _queries(emb, F.col("label").alias("anchor_label"))
    return _top_by_cosine(
        emb.join(
            broadcast(anchors),
            (F.col("vec_id") != F.col("query_id"))
            & (F.col("label") != F.col("anchor_label")),
        ),
        _TOP_K,
        "query_id",
        "anchor_label",
        "rk",
        F.col("vec_id").alias("negative_id"),
        F.col("label").alias("negative_label"),
        "cosine",
    )


# Integer power-iteration PCA parameters (VERDICT r19 #6). Int64 budget,
# every step replayed verbatim by the DuckDB oracle (_pca_power_oracle):
#   |q|  = |floor(x·GRID + 0.5)| ≤ 6e3   (fixture |x| ≤ 0.6, GRID 1e4)
#   |qw| = |q|·w ≤ 2.5e7                  (weights w_j = (j+1)² ≤ 4096)
#   Gram pair |qw·qw| ≤ 6.1e14; Σ over n rows ≤ 6.1e18 at n = 10⁴ — the
#   witness's exact-int64 corpus bound at this grid. At cluster scale the
#   SAME recipe coarsens the grid (GRID 1e2 → n ≤ 1e8 per Gram shard) or
#   shards the Gram hierarchically; exactness is grid-relative either way.
#   Squaring: entries rescaled ≤ CAP, 64·CAP² = 5.8e18 < int64.
#   Matvec: 64·CAP·VCAP = 1.9e16 < int64.
_PCA_GRID = 10_000
_PCA_CAP = 300_000_000
_PCA_VCAP = 1_000_000
_PCA_SQUARINGS = 4
_PCA_ITERS = 16
_PCA_PROJ_DIV = 100_000_000


def _pca_grid_weighted(pdf):
    """``(M, QW)`` for one Arrow batch of embeddings: ``M`` the float64
    rows, ``QW`` their half-up ``_PCA_GRID`` units times the weights
    w_j = (j+1)² — the integer matrix both embedding_pca kernels use."""
    import numpy as np

    M = np.array(pdf["embedding"].tolist(), dtype=np.float64)
    w = (np.arange(M.shape[1], dtype=np.int64) + 1) ** 2
    return M, np.floor(M * _PCA_GRID + 0.5).astype(np.int64) * w


def _tdiv(a: int, b: int) -> int:
    """Truncate-toward-zero division — Spark ``div`` / DuckDB ``//``
    semantics. Python's ``//`` FLOORS, which disagrees whenever the
    exact quotient is negative and non-integral (either operand
    negative — the verify-skill python-pin division trap; the original
    numerator-only spelling was caught wrong for negative DIVISORS by
    the differential fuzz pin in test_integer_kernel_fuzz)."""
    q = abs(a) // abs(b)
    return q if (a < 0) == (b < 0) else -q


def q_embedding_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant principal direction of the embedding corpus — the
    decorrelation step embedding pipelines run before indexing,
    compression, or drift analysis — computed EXACTLY, as deterministic
    integer power iteration (VERDICT r19 #6; the integer-sufficient-
    statistics recipe that made PQ and clustered SemDeDup oracle-able).

    Spectrum separation: the fixture's RAW covariance is near-degenerate
    (λ1/λ2 = 1.013 — un-convergeable; COVERAGE.md r19), so the witness
    analyzes the deterministically WEIGHTED second-moment matrix
    M = Σ (w∘q)(w∘q)ᵀ with w_j = (j+1)² — the synthetic well-separated
    spectrum: measured λ1/λ2 ≥ 1.067 at every SF. Uncentered (second
    moment, not mean-centered covariance): integer centering would blow
    the int64 budget ×n and near-zero-mean embeddings make the
    distinction immaterial — the pytest pin referees against LAPACK on
    the SAME weighted matrix.

    Pipeline, split exactly the way a 100 TB run must be:
    1. DISTRIBUTED integer Gram: one mapInPandas corpus pass, constant
       d² int64 partial cells per batch (order-free: integer sums are
       associative), collected as d² bounded cells — dimension-sized,
       never corpus-sized.
    2. Driver-side iteration on the 64×64 integer matrix: rescale to
       ≤ _PCA_CAP (truncating div), square _PCA_SQUARINGS times
       (spectrum-gap amplification: the iteration matrix is M^(2^4), so
       16 iterations apply an effective exponent of 256 — eigvec error
       (λ2/λ1)^-256 ≈ 3e-8 even at the 1.067 floor), then _PCA_ITERS
       max-abs-normalized integer matvecs. Rayleigh quotient on the
       ORIGINAL Gram gives lam_micro; measured ≤ 2e-11 relative from
       LAPACK's λ1 of the same weighted matrix (pinned at 1e-4 in
       tests/test_similarity_recall.py).
    3. DISTRIBUTED integer projection pass: one more Arrow-batched
       corpus pass computing per-row p = Σ qw_j·v_j, truncation-rescaled
       and aggregated to (n, Σp, Σp²) — the end-to-end proof that the
       broadcast direction actually projects the corpus.

    Every division is truncate-toward-zero (_tdiv; DuckDB ``//``
    matches, Python ``//`` does not), every intermediate is an int64-
    bounded integer, so the DuckDB oracle replays the ENTIRE pipeline —
    Gram, rescales, 4 squarings, 16 unrolled iteration CTEs, Rayleigh,
    projection — bit-for-bit. Output: one row per dimension with the
    direction's loading (max-abs-normalized to ≤ 1e6) plus replicated
    scalars lam_micro / n / proj_s / proj_ss. All-integer schema: no
    float leaves either engine."""
    import numpy as np
    import pandas as pd

    emb = load(spark, sf_dir, "embeddings").select("embedding")

    def gram_batches(it):
        for pdf in it:
            if not len(pdf):
                continue
            M, QW = _pca_grid_weighted(pdf)
            dd = M.shape[1]
            G = QW.T @ QW  # int64-exact within the documented budget
            ii, jj = np.meshgrid(
                np.arange(dd, dtype=np.int32),
                np.arange(dd, dtype=np.int32),
                indexing="ij",
            )
            # marker cell (-1,-1,rows): the per-batch row count rides
            # the same shuffle so n needs no second corpus action
            # driver-side. Appended at the numpy layer — a pandas
            # .loc-enlargement could upcast g to float64 on some pandas
            # versions, silently rounding Gram cells above 2^53.
            yield pd.DataFrame(
                {
                    "i": np.append(ii.ravel(), np.int32(-1)),
                    "j": np.append(jj.ravel(), np.int32(-1)),
                    "g": np.append(G.ravel(), np.int64(len(M))),
                }
            )

    cells = (
        emb.mapInPandas(gram_batches, "i int, j int, g long")
        .groupBy("i", "j")
        .agg(F.sum("g").alias("g"))
        .collect()
    )
    if not cells:
        raise ValueError(
            "embedding_pca: embeddings table is empty — the power "
            "iteration has no Gram matrix to analyze"
        )
    d = max(c["j"] for c in cells) + 1
    n = 0
    G = [[0] * d for _ in range(d)]
    for c in cells:
        if c["i"] < 0:
            n = int(c["g"])
        else:
            G[c["i"]][c["j"]] = int(c["g"])

    def rescale(M, cap):
        m = max(abs(x) for row in M for x in row)
        s = m // cap + 1  # m ≥ 0: floor == trunc
        return [[_tdiv(x, s) for x in row] for row in M]

    B = rescale(G, _PCA_CAP)
    for _ in range(_PCA_SQUARINGS):
        sq = [
            [sum(B[i][k] * B[k][j] for k in range(d)) for j in range(d)]
            for i in range(d)
        ]
        B = rescale(sq, _PCA_CAP)
    v = [(j + 1) * (j + 1) for j in range(d)]  # deterministic init = w
    for _ in range(_PCA_ITERS):
        u = [sum(B[i][j] * v[j] for j in range(d)) for i in range(d)]
        s = max(abs(x) for x in u) // _PCA_VCAP + 1
        v = [_tdiv(x, s) for x in u]
    num = sum(v[i] * G[i][j] * v[j] for i in range(d) for j in range(d))
    den = sum(x * x for x in v)
    if den == 0:
        # all-zero quantized corpus (every |x| < 0.5/GRID): the iterate
        # collapses and the Rayleigh quotient is undefined — name the
        # degenerate cause instead of a bare ZeroDivisionError here and
        # a divide-by-zero in the DuckDB replay
        raise ValueError(
            "embedding_pca: corpus quantizes to the zero matrix at "
            f"grid {_PCA_GRID} — no dominant direction exists"
        )
    # Rayleigh of a PSD Gram: num ≥ 0, so // is floor == trunc on both
    # engines; units: weighted-second-moment eigenvalue × 1e6
    lam_micro = (num * 1_000_000) // (den * n * _PCA_GRID * _PCA_GRID)

    vec = list(v)  # rides the task closure: d ints

    def proj_batches(it):
        va = np.array(vec, dtype=np.int64)
        for pdf in it:
            if not len(pdf):
                continue
            _, QW = _pca_grid_weighted(pdf)
            P = QW @ va  # ≤ 64·2.5e7·1e6 = 1.6e15: int64-exact
            pr = np.sign(P) * (np.abs(P) // _PCA_PROJ_DIV)  # trunc div
            yield pd.DataFrame(
                {
                    "n": [len(P)],
                    "proj_s": [int(pr.sum())],
                    "proj_ss": [int((pr * pr).sum())],
                }
            )

    moments = emb.mapInPandas(
        proj_batches, "n long, proj_s long, proj_ss long"
    ).agg(
        F.sum("n").alias("n"),
        F.sum("proj_s").alias("proj_s"),
        F.sum("proj_ss").alias("proj_ss"),
    )
    loadings = spark.createDataFrame(
        [(j, vec[j], lam_micro) for j in range(d)],
        "component int, loading_scaled long, lam_micro long",
    )
    # 1-row aggregate broadcast against the dimension-sized loadings
    # frame — the audited bounded-crossJoin idiom (scalar side broadcast)
    return (
        loadings.crossJoin(F.broadcast(moments))
        .select(
            "component", "loading_scaled", "lam_micro", "n",
            "proj_s", "proj_ss",
        )
        .orderBy("component")
    )


_MS_SUBS = 8  # sub-vectors per embedding (64 dims -> 8 x 8)
_MS_TOPK = 3

# Vectors per bank for the blocked pair kernels below (r22, guide §4.2).
# The brute-force pair witnesses (maxsim, bitext) used to evaluate their
# cosine kernels as Catalyst higher-order folds on the pair-expanded
# join output — ~10-150 µs of interpreted expression tree PER PAIR. The
# blocked form groups each side into _PAIR_BANK-vector banks, cross-joins
# the (tiny) bank tables and hands each bank pair to one Arrow/numpy
# kernel call: every vector crosses the Python boundary n_other/_PAIR_BANK
# times instead of n_other times (the r21 pair-expanded Arrow rewrite was
# a wash for exactly that reason), and the per-pair kernel cost drops to
# a vectorized multiply-add (the layout itself lives in _bank_pairs).
_PAIR_BANK = 256


def _np_fold_dot(A, B):
    """Pairwise dot products of two row-banks as the SAME IEEE op
    sequence as the JVM ``aggregate(zip_with(a, b, *), 0.0, +)`` fold:
    per dim k a correctly-rounded multiply, then a correctly-rounded add
    onto the accumulator, sequentially over k. Never a BLAS matmul —
    dgemm reorders the summation and the low-order bits feed a
    floor(x*1e6 + 0.5) snap."""
    import numpy as np

    acc = np.zeros((A.shape[0], B.shape[0]))
    for k in range(A.shape[1]):
        acc += np.multiply.outer(A[:, k], B[:, k])
    return acc


def _np_fold_sq(A):
    """Row squared sums as the JVM ``aggregate(v, 0.0, (a,x) -> a + x*x)``
    fold — sequential per-dim multiply-add."""
    import numpy as np

    acc = np.zeros(A.shape[0])
    for k in range(A.shape[1]):
        acc += A[:, k] * A[:, k]
    return acc


def _np_cos6(A, B):
    """c6 snap of every A×B row pair — the HOF form's
    floor(dot / greatest(na*nb, 1e-12) * 1e6 + 0.5) in its IEEE op order,
    each norm one correctly-rounded sqrt over the _np_fold_sq fold."""
    import numpy as np

    na, nb = np.sqrt(_np_fold_sq(A)), np.sqrt(_np_fold_sq(B))
    return np.floor(
        _np_fold_dot(A, B) / np.maximum(np.multiply.outer(na, nb), 1e-12)
        * 1e6
        + 0.5
    ).astype(np.int64)


def _np_d6(A, B):
    """Squared-L2 snap of every A×B row pair — the HOF form's
    floor((sqa + sqb - 2*dot) * 1e6 + 0.5) in its IEEE op order."""
    import numpy as np

    return np.floor(
        (np.add.outer(_np_fold_sq(A), _np_fold_sq(B)) - 2 * _np_fold_dot(A, B)) * 1e6
        + 0.5
    ).astype(np.int64)


def _np_bank(rows, labeled):
    """(ids, labels or None, matrix) from an Arrow bank of
    (vec_id[, label], embedding) structs; float32 parquet values widen
    exactly to float64."""
    import numpy as np

    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    labels = np.array([r["label"] for r in rows], dtype=np.int64) if labeled else None
    M = np.array([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
    return ids, labels, M


def _bank_pairs(spark, left, right, kernel, schema, every, labeled=False, upper=False):
    """The blocked pair layout (see _PAIR_BANK), in one place: the
    ``schema`` frame of ``kernel(a, b) -> {column: array}`` over every
    pair of decoded banks (ids, labels|None, M) of ``left`` × ``right``.
    A bank is one contiguous id range, keyed ``vec_id DIV
    every·_PAIR_BANK`` (``every``: a side's id stride, one int or a
    (left, right) pair). ``right=None`` pairs ``left`` with itself over
    one lazily checkpointed bank table; ``upper`` keeps blk_a <= blk_b,
    which holds every ida < idb pair exactly once. Bank pairs are few and
    uniform-cost, so they go round-robin over the cores (hash placement
    is Poisson-unbalanced — the r21 minhash A/B). Kernels on
    _np_cos6/_np_d6 replay the HOF fold's IEEE op order, so their snaps
    are bit-identical to the per-pair expression forms — pinned in
    tests/test_similarity_recall.py::test_blocked_*_kernels_match_jvm_fold.
    """
    import pandas as pd

    every_l, every_r = every if isinstance(every, tuple) else (every, every)
    bank = F.collect_list(
        F.struct("vec_id", *(["label"] if labeled else []), "embedding")
    )

    def banks(df, ids_per_vec):
        key = F.expr(f"vec_id DIV {ids_per_vec * _PAIR_BANK}")
        return df.groupBy(key.alias("blk")).agg(bank.alias("bank"))

    if right is None:
        left_banks = store.materialize(banks(left, every_l), "similarity.banks", eager=False)
        right_banks = left_banks
    else:
        left_banks, right_banks = banks(left, every_l), banks(right, every_r)
    la = left_banks.select(F.col("blk").alias("blk_a"), F.col("bank").alias("bank_a"))
    rb = right_banks.select(F.col("blk").alias("blk_b"), F.col("bank").alias("bank_b"))
    joined = la.join(rb, F.col("blk_a") <= F.col("blk_b")) if upper else la.crossJoin(rb)

    def run(it):
        for pdf in it:
            for a, b in zip(pdf["bank_a"], pdf["bank_b"]):
                yield pd.DataFrame(kernel(_np_bank(a, labeled), _np_bank(b, labeled)))

    run.__name__ = kernel.__name__  # names the MapInPandas plan node

    return joined.repartition(spark.sparkContext.defaultParallelism).mapInPandas(
        run, schema
    )


def _maxsim_scored(spark: SparkSession, emb: DataFrame) -> DataFrame:
    """(query_id, vec_id, score6) for every query×corpus pair (self-pairs
    included — callers filter): score6 = Σ_i max_j c6(q_i, d_j) over the
    8-dim sub-vectors, scored by _bank_pairs."""
    from functools import reduce

    import numpy as np

    def maxsim(q, d):
        (idq, _, Q), (idd, _, D) = q, d
        subs = [slice(i * 8, i * 8 + 8) for i in range(_MS_SUBS)]
        total = sum(
            reduce(np.maximum, (_np_cos6(Q[:, i], D[:, j]) for j in subs)) for i in subs
        )
        return {
            "query_id": np.repeat(idq, len(idd)),
            "vec_id": np.tile(idd, len(idq)),
            "score6": total.ravel(),
        }

    return _bank_pairs(
        spark, emb.where(F.col("vec_id") % 100 == 0), emb, maxsim,
        "query_id bigint, vec_id bigint, score6 bigint", every=(100, 1),
    )


def q_maxsim_late_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATE-INTERACTION retrieval scoring (Khattab & Zaharia 2020,
    ColBERT): instead of one dot product per (query, doc), each side is
    a BAG of token-level vectors and the score is MaxSim —
    Σ_i max_j cos(q_i, d_j) — which preserves term-level matching that
    single-vector pooling destroys. Here each 64-dim embedding is
    treated as 8 token sub-vectors of 8 dims (the fixture has no
    token-level embeddings; the operator's algebra and plan shape are
    exactly the real thing, with the sub-vector count a constant).

    Determinism: each of the 64 sub-vector cosines snaps to int64
    micro-units BEFORE the max/sum reductions, so MaxSim is pure integer
    max + integer sum — reduction order cannot matter.

    Scale shape: query side is the 1%-sample crossed against the corpus
    (the similarity_topk brute shape — the oracle-checkable witness); at
    100 TB candidate generation swaps to the ANN paths above and MaxSim
    re-scores candidates only, which is precisely ColBERT's two-stage
    serving design. The 8×8 sub-cosine kernel runs over bank pairs
    (_bank_pairs)."""
    from pyspark.sql import Window

    scored = (
        _maxsim_scored(spark, load(spark, sf_dir, "embeddings"))
        # the HOF form's join predicate excluded self-pairs; the kernel
        # scores them (trivially) and this filter drops the same rows
        .where(F.col("vec_id") != F.col("query_id"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score6").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _MS_TOPK)
        .select(
            "query_id",
            "rk",
            F.col("vec_id").alias("doc_id"),
            (F.col("score6") / 1e6).alias("maxsim"),
        )
    )


_BITEXT_K = 4  # kNN pool per side for margin normalization
_BITEXT_TAU = 1.0  # keep pairs whose margin beats the kNN mean


def _bitext_pairs(spark: SparkSession, emb: DataFrame) -> DataFrame:
    """All cross-side (src_id, tgt_id, c6) cosine pairs — even vec_ids
    against odd — scored by _bank_pairs."""
    import numpy as np

    def bitext_c6(a, b):
        (ida, _, A), (idb, _, B) = a, b
        return {
            "src_id": np.repeat(ida, len(idb)),
            "tgt_id": np.tile(idb, len(ida)),
            "c6": _np_cos6(A, B).ravel(),
        }

    side = F.col("vec_id") % 2
    return _bank_pairs(
        spark, emb.where(side == 0), emb.where(side == 1), bitext_c6,
        "src_id bigint, tgt_id bigint, c6 bigint", every=2,
    )


def q_bitext_margin_mine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based parallel-pair mining (Artetxe & Schwenk 2019,
    "Margin-based Parallel Corpus Mining with Multilingual Sentence
    Embeddings" — the CCMatrix/LASER bitext recipe): raw cosine is a
    miscalibrated pair score because some embeddings are "hubs", similar
    to everything; the margin RATIO divides each candidate cosine by the
    mean of both endpoints' k-NN cosines, so a pair only survives if it
    is similar BEYOND each side's local similarity level:

        margin(a,b) = cos(a,b) / ((deg_k(a) + deg_k(b)) / 2),
        deg_k(x)    = mean cosine of x's k nearest in the OTHER bank.

    Banks stand in for the two languages: even vec_ids = source, odd =
    target. Output: each source vector's best target by margin, kept
    when margin ≥ 1 (similar beyond both hubs' norm).

    Determinism: pair cosines snap to int64 micro-units at the pair
    table, so deg sums are exact integers and the margin is derived
    entirely from int64s (the KN-LM discipline — engine float-sum order
    cannot matter); best-per-source is a map-side-combinable
    max(struct). This is the exact all-pairs WITNESS (quadratic twin,
    like q_dedup_embedding_cosine): at 100 TB candidate generation swaps
    to the hyperplane-LSH banding above (q_similarity_ann_lsh) with
    deg_k computed over the candidate pool — same margin arithmetic."""
    from pyspark.sql import Window

    pairs = store.materialize(
        _bitext_pairs(spark, load(spark, sf_dir, "embeddings")),
        # THREE consumers (deg_k per side + the margin join) re-derived
        # this frame, re-running the all-pairs cosine kernel per branch;
        # the checkpoint computes it once and the branches read the
        # compact (src, tgt, c6) int table (r21; guide §5 persist-on-
        # reuse — same multi-consumer rule as dedup's sketch bases).
        # Interleaved A/B at sf0.1: min 9.17 s vs 11.83 s, every pair
        # favors the checkpoint, identical rows. The pair table is the
        # witness's own quadratic-by-design intermediate (this is the
        # exact twin; the scale path is LSH candidate generation).
        "similarity.bitext_pairs", eager=True,
    )
    wa = Window.partitionBy("src_id").orderBy(F.col("c6").desc(), "tgt_id")
    da = (
        pairs.withColumn("rn", F.row_number().over(wa))
        .where(F.col("rn") <= _BITEXT_K)
        .groupBy("src_id")
        .agg(F.sum("c6").cast("bigint").alias("dega6"))
    )
    wb = Window.partitionBy("tgt_id").orderBy(F.col("c6").desc(), "src_id")
    db = (
        pairs.withColumn("rn", F.row_number().over(wb))
        .where(F.col("rn") <= _BITEXT_K)
        .groupBy("tgt_id")
        .agg(F.sum("c6").cast("bigint").alias("degb6"))
    )
    m = (
        pairs.join(da, "src_id")
        .join(db, "tgt_id")
        .select(
            "src_id",
            "tgt_id",
            "c6",
            snap(
                (F.col("c6") * 2 * _BITEXT_K)
                # Zero-ONLY guard (ADVICE r13): dega6/degb6 are sums of
                # SIGNED top-K cosines, so the sum can be legitimately
                # negative — greatest(..., 1) would rewrite a negative
                # denominator to 1 and flip the margin's sign (a pair
                # the formula drops would be kept). Only the exact-zero
                # point (ANSI DIVIDE_BY_ZERO) is rewritten; negative
                # denominators keep their sign, yielding a negative
                # margin for positive c6 — correctly below TAU.
                / F.when(
                    F.col("dega6") + F.col("degb6") == 0, F.lit(1)
                ).otherwise(F.col("dega6") + F.col("degb6"))
            ).alias("margin"),
        )
    )
    best = m.groupBy("src_id").agg(
        F.max(
            F.struct(
                F.col("margin").alias("m"),
                F.col("tgt_id").alias("t"),
                F.col("c6").alias("c"),
            )
        ).alias("b")
    )
    return (
        best.where(F.col("b.m") >= _BITEXT_TAU)
        .select(
            "src_id",
            F.col("b.t").alias("tgt_id"),
            (F.col("b.c") / 1e6).alias("cosine"),
            F.col("b.m").alias("margin"),
        )
    )


_RRF_K = 60  # the standard RRF constant (Cormack et al. 2009)
_RRF_POOL = 20  # fuse the top-20 list from each ranker
_RRF_TOPK = 10


def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009 — the
    standard zero-tuning hybrid-retrieval combiner, e.g. dense+sparse in
    every modern RAG stack) of two rankers over the embedding corpus:
    cosine similarity and (negative) squared L2 distance — genuinely
    different orders when vector norms vary. Each query's top-20 list
    per ranker is fused by score(d) = Σ_r 1/(K + rank_r(d)), K=60;
    output is the fused top-10.

    Determinism: per-ranker scores snap to int64 micro-units before
    ranking; the RRF term is the pure integer ``1e9 div (K + rank)``, so
    the fused score is exact int arithmetic end-to-end — no floats in
    the output at all. Both ranks are computed on the SAME row via two
    windows over one query_id shuffle (one exchange, two sorts), then
    the pool filter + fusion is row-local — no self-join of the lists.

    Scale shape (100 TB): queries are a broadcast dimension; one corpus
    pass scores both metrics; per-query state is the top-POOL heads of
    two orders. Production swaps the brute scorer for the ANN candidate
    generators (similarity_ann_*) feeding the same fusion tail.
    """
    emb = _with_vec(load(spark, sf_dir, "embeddings"))
    queries = _queries(emb)
    sq = F.aggregate(F.col("vec"), F.lit(0.0), lambda acc, x: acc + x * x)
    qsq = F.aggregate(F.col("qvec"), F.lit(0.0), lambda acc, x: acc + x * x)
    pairs = emb.join(broadcast(queries), F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        "vec_id",
        units(
            _dot(F.col("qvec"), F.col("vec"))
            / F.greatest(F.col("qnrm") * F.col("nrm"), F.lit(1e-12))
        ).alias("c6"),
        # ||q-v||^2 = ||q||^2 + ||v||^2 - 2 q·v — element-ordered sums,
        # the exact formulation the DuckDB twin mirrors term by term
        units(qsq + sq - 2.0 * _dot(F.col("qvec"), F.col("vec"))).alias("d6"),
    )
    from pyspark.sql import Window

    wa = Window.partitionBy("query_id").orderBy(F.col("c6").desc(), "vec_id")
    wb = Window.partitionBy("query_id").orderBy(F.col("d6").asc(), "vec_id")
    ranked = (
        pairs.withColumn("ra", F.row_number().over(wa))
        .withColumn("rb", F.row_number().over(wb))
        .where((F.col("ra") <= _RRF_POOL) | (F.col("rb") <= _RRF_POOL))
        .select(
            "query_id",
            "vec_id",
            (
                F.when(
                    F.col("ra") <= _RRF_POOL,
                    F.expr(f"1000000000 div ({_RRF_K} + ra)"),
                ).otherwise(F.lit(0))
                + F.when(
                    F.col("rb") <= _RRF_POOL,
                    F.expr(f"1000000000 div ({_RRF_K} + rb)"),
                ).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("rrf9"),
        )
    )
    wf = Window.partitionBy("query_id").orderBy(F.col("rrf9").desc(), "vec_id")
    return (
        ranked.withColumn("rk", F.row_number().over(wf))
        .where(F.col("rk") <= _RRF_TOPK)
        .select("query_id", "rk", F.col("vec_id").alias("neighbor_id"), "rrf9")
    )


def _query_scores(
    spark: SparkSession, sf_dir: str, raw_dot: bool = False
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The retrieval-metric corpus pass: every 100th vector is a query,
    broadcast against every OTHER corpus vector. Returns ``(emb,
    queries, scored)``; ``scored`` holds (query_id, qlabel, vec_id,
    label, c6 = cosine snapped to 1e-6) plus, with ``raw_dot``, d3 = the
    raw dot product snapped to 1e-3 from the SAME pair dot product. The
    cosine denominator takes the 1e-12 norm-product guard."""
    emb = _with_vec(load(spark, sf_dir, "embeddings"))
    queries = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.col("vec").alias("qvec"),
        F.col("nrm").alias("qnrm"),
    )
    dot = _dot(F.col("qvec"), F.col("vec"))
    snaps = [
        units(dot / F.greatest(F.col("qnrm") * F.col("nrm"), F.lit(1e-12))).alias("c6")
    ]
    if raw_dot:
        snaps.append(units(dot, 1e3).alias("d3"))
    scored = emb.join(broadcast(queries), F.col("vec_id") != F.col("query_id")).select(
        "query_id", "qlabel", "vec_id", "label", *snaps
    )
    return emb, queries, scored


def _top10(scored: DataFrame) -> DataFrame:
    """Each query's top-10 neighbours by (c6 DESC, vec_id) — unique
    ranks, so ties cannot flip between engines — with their rank rk."""
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.col("c6").desc(), "vec_id")
    return scored.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= 10)


def _ndcg_weights() -> tuple[list[int], list[int]]:
    """Per-rank DCG gain weights floor(1e6/log2(r+1)+0.5) for r=1..10 and
    their prefix sums (ideal-DCG table) — precomputed in PYTHON and
    inlined as literals on BOTH engines, so no cross-engine log2 ulp can
    ever matter."""
    import math

    w = [int(math.floor(1e6 / math.log2(r + 1) + 0.5)) for r in range(1, 11)]
    pref, acc = [], 0
    for x in w:
        acc += x
        pref.append(acc)
    return w, pref


def q_retrieval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@10 of cosine retrieval against label-match relevance
    (Järvelin & Kekäläinen 2002) — the standard graded retrieval-quality
    metric, here with binary gains: a neighbor is relevant iff it shares
    the query's label. Per query: DCG@10 = Σ rel_r · w(r) with
    w(r) = 1/log2(r+1); IDCG = the ideal prefix at min(n_rel, 10);
    nDCG = DCG/IDCG.

    Determinism: the ten w(r) values and their prefix sums are computed
    once in Python (micro-unit ints) and inlined as LITERAL arrays in
    both the Spark plan and the DuckDB twin — the only transcendentals
    in the metric never touch either engine. dcg6/idcg6 are exact int
    sums; ndcg6 is the pure integer ``dcg6 * 1e6 div idcg6``.

    Scale shape: one broadcast-query corpus pass (the similarity_topk
    shape), a top-10 window per query, a broadcast label-count join —
    no corpus-sized shuffle beyond the ranking window's query_id
    exchange.
    """
    w6, idcg6 = _ndcg_weights()
    emb, _, scored = _query_scores(spark, sf_dir)
    warr = F.array(*[F.lit(x) for x in w6])
    dcg = (
        _top10(scored)
        .groupBy("query_id", "qlabel")
        .agg(
            F.sum(
                F.when(F.col("label") == F.col("qlabel"), F.element_at(warr, F.col("rk")))
                .otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("dcg6")
        )
    )
    labcnt = emb.groupBy("label").agg(F.count("*").cast("bigint").alias("cnt"))
    iarr = F.array(*[F.lit(x) for x in idcg6])
    out = (
        dcg.join(broadcast(labcnt), dcg.qlabel == labcnt.label)
        .select(
            "query_id",
            (F.col("cnt") - 1).alias("n_rel"),
            "dcg6",
            F.when(
                F.col("cnt") - 1 >= 1,
                F.element_at(iarr, F.least(F.col("cnt") - 1, F.lit(10)).cast("int")),
            )
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("idcg6"),
        )
    )
    return out.select(
        "query_id",
        "n_rel",
        "dcg6",
        "idcg6",
        F.when(F.col("idcg6") > 0, F.expr("dcg6 * 1000000 div idcg6"))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("ndcg6"),
    )


def _mrr_weights() -> list[int]:
    """Reciprocal-rank weights floor(1e6/r + 0.5) for r=1..10 —
    precomputed in PYTHON and inlined as literals on BOTH engines (the
    nDCG-weight discipline: the only division with a non-terminating
    decimal never touches either engine)."""
    return [(1_000_000 + r // 2) // r for r in range(1, 11)]


def q_retrieval_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MRR@10 + recall@10 of cosine retrieval against label-match
    relevance (Voorhees 1999 — the TREC QA metric; the standard
    companion to nDCG for single-relevant-answer evaluation). Per
    query (every 100th vector): the rank of the FIRST relevant
    neighbor within the top-10 (0 if none), its reciprocal in
    micro-units, the number of relevant docs in the top-10, and
    recall@10 = hits / min(n_rel, 10).

    Determinism: the ten 1/r values are Python-inlined literal
    micro-unit ints (no engine divides); cosine ranks come from the
    same micro-unit-snapped scores as q_retrieval_ndcg; recall6 is the
    pure integer ``hits10 * 1e6 div min(n_rel, 10)``.

    Scale shape: identical to q_retrieval_ndcg — one broadcast-query
    corpus pass, a top-10 window per query, a broadcast label-count
    join. Production swaps the brute scorer for the ANN candidate
    generators feeding the same metric tail."""
    w6 = _mrr_weights()
    emb, _, scored = _query_scores(spark, sf_dir)
    warr = F.array(*[F.lit(x) for x in w6])
    per_q = (
        _top10(scored)
        .groupBy("query_id", "qlabel")
        .agg(
            F.coalesce(
                F.min(F.when(F.col("label") == F.col("qlabel"), F.col("rk"))),
                F.lit(0),
            )
            .cast("bigint")
            .alias("first_rel_rank"),
            F.sum(F.when(F.col("label") == F.col("qlabel"), 1).otherwise(0))
            .cast("bigint")
            .alias("hits10"),
        )
    )
    labcnt = emb.groupBy("label").agg(F.count("*").cast("bigint").alias("cnt"))
    return (
        per_q.join(broadcast(labcnt), per_q.qlabel == labcnt.label)
        .select(
            "query_id",
            (F.col("cnt") - 1).alias("n_rel"),
            "first_rel_rank",
            F.when(
                F.col("first_rel_rank") >= 1,
                F.element_at(warr, F.col("first_rel_rank").cast("int")),
            )
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("rr6"),
            "hits10",
            F.when(
                F.col("cnt") - 1 >= 1,
                F.expr("hits10 * 1000000 div least(cnt - 1, 10)"),
            )
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("recall6"),
        )
    )


def q_precision_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Macro precision@k curve for k = 1..10 of cosine retrieval
    against label-match relevance — the metric that, unlike the single
    scalar MRR, shows WHERE the ranking degrades (a cliff after k=3
    means a different index than a flat slide). One row per cutoff:
    total relevant retrieved across queries and prec@k in micro-units.

    Determinism: rides the exact q_retrieval_mrr scoring (micro-unit
    snapped cosines, unique (c6 DESC, vec_id) ranks); the curve itself
    is a cumulative join of the bounded 10-row rel-at-rank frame
    against the literal cutoffs, with prec6 = hits·10⁶ div (n_q·k) —
    pure integers.

    Scale: the corpus pass is the same broadcast-query score + top-10
    window; everything after lives on ≤10 rows."""
    _, queries, scored = _query_scores(spark, sf_dir)
    rel_at_rank = (
        _top10(scored)
        .groupBy("rk")
        .agg(
            F.sum((F.col("label") == F.col("qlabel")).cast("bigint"))
            .cast("bigint")
            .alias("rel_r")
        )
    )
    nq = queries.agg(F.count("*").cast("bigint").alias("n_q"))
    ks = nq.select(
        "n_q", F.explode(F.sequence(F.lit(1), F.lit(10))).alias("k")
    )
    return (
        ks.join(broadcast(rel_at_rank), F.col("rk") <= F.col("k"))
        .groupBy("k", "n_q")
        .agg(F.sum("rel_r").cast("bigint").alias("hits"))
        .select(
            F.col("k").cast("bigint").alias("k"),
            "hits",
            "n_q",
            F.expr("hits * 1000000 div (n_q * k)").cast("bigint").alias("prec6"),
        )
        .orderBy("k")
    )


_PREC_ORACLE = """
    WITH v AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS vec,
               sqrt(list_sum(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        FROM embeddings
    ), p AS (
        SELECT q.vec_id AS query_id, q.label AS qlabel,
               d.vec_id, d.label,
               CAST(floor(list_dot_product(q.vec, d.vec)
                          / greatest(q.nrm * d.nrm, 1e-12) * 1e6 + 0.5) AS BIGINT) AS c6
        FROM v q JOIN v d ON q.vec_id % 100 = 0 AND d.vec_id <> q.vec_id
    ), r AS (
        SELECT query_id, qlabel, label, c6,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY c6 DESC, vec_id) AS rk
        FROM p
    ), rel AS (
        SELECT rk, CAST(sum(CASE WHEN label = qlabel THEN 1 ELSE 0 END)
                        AS BIGINT) AS rel_r
        FROM r WHERE rk <= 10 GROUP BY rk
    ), nq AS (
        SELECT CAST(count(*) AS BIGINT) AS n_q FROM v WHERE vec_id % 100 = 0
    ), ks AS (SELECT unnest(generate_series(1, 10)) AS k)
    SELECT CAST(k AS BIGINT) AS k,
           CAST(sum(rel_r) AS BIGINT) AS hits,
           n_q,
           CAST(sum(rel_r) * 1000000 // (n_q * k) AS BIGINT) AS prec6
    FROM ks CROSS JOIN nq JOIN rel ON rel.rk <= ks.k
    GROUP BY k, n_q
    ORDER BY k
"""


def q_ranker_winrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired ranker comparison: cosine vs raw dot-product retrieval
    judged per query by DCG@10 against label-match relevance, reported
    as wins/ties/losses + mean DCG delta — the offline A/B readout that
    decides a ranker swap (a win-rate with per-query pairing, not two
    unpaired averages).

    Determinism: both scores snap from the SAME pair dot product
    (cosine at 1e-6 after norm division, raw dot at 1e-3), DCG weights
    are the Python-inlined literal table (no engine evaluates log2),
    and wins/deltas are pure int64. The dot-product fold is evaluated
    once per snap (2× per pair) — still one corpus pass, noted as the
    price of sharing the scan between two rankers.

    Scale: one broadcast-query corpus pass, two per-query top-10
    windows over the same exchange, then a 1-row aggregate."""
    w6, _ = _ndcg_weights()
    _, _, scored = _query_scores(spark, sf_dir, raw_dot=True)
    from pyspark.sql import Window

    wa = Window.partitionBy("query_id").orderBy(F.col("c6").desc(), "vec_id")
    wb = Window.partitionBy("query_id").orderBy(F.col("d3").desc(), "vec_id")
    warr = F.array(*[F.lit(x) for x in w6])
    rel = F.col("label") == F.col("qlabel")
    per_q = (
        scored.select(
            "query_id",
            F.when(rel, 1).otherwise(0).alias("r"),
            F.row_number().over(wa).alias("rka"),
            F.row_number().over(wb).alias("rkb"),
        )
        .groupBy("query_id")
        .agg(
            F.sum(
                F.when(
                    (F.col("r") == 1) & (F.col("rka") <= 10),
                    F.element_at(warr, F.col("rka")),
                ).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("dcga6"),
            F.sum(
                F.when(
                    (F.col("r") == 1) & (F.col("rkb") <= 10),
                    F.element_at(warr, F.col("rkb")),
                ).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("dcgb6"),
        )
    )
    return per_q.agg(
        F.count("*").cast("bigint").alias("n_queries"),
        F.sum((F.col("dcga6") > F.col("dcgb6")).cast("bigint"))
        .cast("bigint")
        .alias("a_wins"),
        F.sum((F.col("dcgb6") > F.col("dcga6")).cast("bigint"))
        .cast("bigint")
        .alias("b_wins"),
        F.sum((F.col("dcga6") == F.col("dcgb6")).cast("bigint"))
        .cast("bigint")
        .alias("ties"),
        F.sum(F.col("dcga6") - F.col("dcgb6")).cast("bigint").alias("delta_sum6"),
    ).withColumn("mean_delta6", F.expr("delta_sum6 div n_queries").cast("bigint"))


def _winrate_oracle() -> str:
    w6, _ = _ndcg_weights()
    warr = "[" + ", ".join(str(x) for x in w6) + "]"
    return f"""
        WITH v AS (
            SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS vec,
                   sqrt(list_sum(list_transform(embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
            FROM embeddings
        ), p AS (
            SELECT q.vec_id AS query_id, q.label AS qlabel,
                   d.vec_id, d.label,
                   CAST(floor(list_dot_product(q.vec, d.vec)
                              / greatest(q.nrm * d.nrm, 1e-12) * 1e6 + 0.5) AS BIGINT) AS c6,
                   CAST(floor(list_dot_product(q.vec, d.vec) * 1e3 + 0.5)
                        AS BIGINT) AS d3
            FROM v q JOIN v d ON q.vec_id % 100 = 0 AND d.vec_id <> q.vec_id
        ), r AS (
            SELECT query_id,
                   CASE WHEN label = qlabel THEN 1 ELSE 0 END AS rel,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY c6 DESC, vec_id) AS rka,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY d3 DESC, vec_id) AS rkb
            FROM p
        ), per_q AS (
            SELECT query_id,
                   CAST(sum(CASE WHEN rel = 1 AND rka <= 10
                                 THEN {warr}[CAST(rka AS INT)] ELSE 0 END)
                        AS BIGINT) AS dcga6,
                   CAST(sum(CASE WHEN rel = 1 AND rkb <= 10
                                 THEN {warr}[CAST(rkb AS INT)] ELSE 0 END)
                        AS BIGINT) AS dcgb6
            FROM r GROUP BY query_id
        )
        SELECT CAST(count(*) AS BIGINT) AS n_queries,
               CAST(sum(CASE WHEN dcga6 > dcgb6 THEN 1 ELSE 0 END) AS BIGINT)
                   AS a_wins,
               CAST(sum(CASE WHEN dcgb6 > dcga6 THEN 1 ELSE 0 END) AS BIGINT)
                   AS b_wins,
               CAST(sum(CASE WHEN dcga6 = dcgb6 THEN 1 ELSE 0 END) AS BIGINT)
                   AS ties,
               CAST(sum(dcga6 - dcgb6) AS BIGINT) AS delta_sum6,
               CAST(sum(dcga6 - dcgb6) // count(*) AS BIGINT) AS mean_delta6
        FROM per_q
    """


_JL_K = 8  # projected dimensionality (64 -> 8)
_JL_BUCKET = 50_000  # 0.05-wide distortion-ratio histogram buckets


def _jl_signs() -> list[list[int]]:
    """Rademacher ±1 projection matrix (k × d), derived from md5 in
    PYTHON so both engines consume identical literals — the same
    no-engine-evaluates-randomness discipline as the LSH plane tables.
    Achlioptas 2003: ±1 entries satisfy the JL lemma with the same
    guarantees as Gaussian projections."""
    import hashlib

    return [
        [
            1
            if int(hashlib.md5(f"jl:{i}:{j}".encode()).hexdigest()[:2], 16) < 128
            else -1
            for j in range(_DIM)
        ]
        for i in range(_JL_K)
    ]


def q_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection (Johnson & Lindenstrauss
    1984; Achlioptas 2003 sign matrix) of the 64-d embedding corpus to
    8 dims, with a norm-distortion audit: for each vector,
    ratio = ||Sx||² / (k·||x||²) has expectation 1 under the ±1
    projection; the output is the distortion histogram (0.05-wide
    buckets) with per-bucket min/max/sum — the acceptance check a real
    dim-reduction deployment runs before swapping ANN indexes onto the
    projected vectors.

    Determinism: embedding elements snap to int64 micro-units FIRST
    (one identical float op per element on both engines); the
    projection and both squared norms are then exact integer sums, and
    the only remaining float op is one double division of exact int64s
    snapped at 6dp — spelled identically on both engines.

    Scale shape (100 TB): one Arrow-batched numpy matmul pass over the
    corpus (the simhash/IVF kernel economics — a JVM zip_with
    formulation pays ~k·d interpreted ops per row and re-evaluates the
    snapped array per lambda, the documented HOF-CSE trap); the
    histogram is a bounded groupBy. The sign matrix rides into
    executors as a k×d constant. No shuffle of the corpus at all —
    partial aggregation handles the histogram."""
    import numpy as np
    import pandas as pd

    S = np.array(_jl_signs(), dtype=np.int64)  # k × d
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def kernel(it):
        for pdf in it:
            if not len(pdf):
                continue
            X = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            E6 = np.floor(X * 1e6 + 0.5).astype(np.int64)
            P = E6 @ S.T
            sq_in = (E6 * E6).sum(axis=1)
            sq_out = (P * P).sum(axis=1)
            with np.errstate(divide="ignore", invalid="ignore"):
                raw = np.floor(
                    sq_out.astype(np.float64)
                    / (_JL_K * sq_in.astype(np.float64))
                    * 1e6
                    + 0.5
                )
            ratio6 = np.where(sq_in > 0, raw, 0.0).astype(np.int64)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "sq_in": sq_in,
                    "sq_out": sq_out,
                    "ratio6": ratio6,
                }
            )

    per_vec = emb.mapInPandas(
        kernel, "vec_id bigint, sq_in bigint, sq_out bigint, ratio6 bigint"
    )
    return (
        per_vec.groupBy(F.expr(f"ratio6 div {_JL_BUCKET}").alias("bucket"))
        .agg(
            F.count("*").cast("bigint").alias("n_vecs"),
            F.min("ratio6").alias("min_r6"),
            F.max("ratio6").alias("max_r6"),
            F.sum("ratio6").cast("bigint").alias("sum_r6"),
        )
        .orderBy("bucket")
    )


def _jl_oracle() -> str:
    signs = _jl_signs()
    vals = ", ".join(
        f"({i + 1}, {j + 1}, {s})"
        for i, row in enumerate(signs)
        for j, s in enumerate(row)
    )
    return f"""
        WITH e AS (
            SELECT vec_id, list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1e6 + 0.5) AS BIGINT))
                   AS e6
            FROM embeddings
        ), ex AS (
            SELECT vec_id, generate_subscripts(e6, 1) AS j, unnest(e6) AS v
            FROM e
        ), sm(i, j, s) AS (VALUES {vals}),
        p AS (
            SELECT ex.vec_id, sm.i, CAST(sum(ex.v * sm.s) AS BIGINT) AS proj
            FROM ex JOIN sm ON sm.j = ex.j GROUP BY 1, 2
        ), so AS (
            SELECT vec_id, CAST(sum(proj * proj) AS BIGINT) AS sq_out
            FROM p GROUP BY 1
        ), si AS (
            SELECT vec_id, CAST(sum(v * v) AS BIGINT) AS sq_in
            FROM ex GROUP BY 1
        ), r AS (
            SELECT si.vec_id, si.sq_in, so.sq_out,
                   CASE WHEN si.sq_in > 0
                        THEN CAST(floor(CAST(so.sq_out AS DOUBLE)
                                        / ({_JL_K} * CAST(si.sq_in AS DOUBLE))
                                        * 1e6 + 0.5) AS BIGINT)
                        ELSE 0 END AS ratio6
            FROM si JOIN so USING (vec_id)
        )
        SELECT ratio6 // {_JL_BUCKET} AS bucket,
               CAST(count(*) AS BIGINT) AS n_vecs,
               min(ratio6) AS min_r6, max(ratio6) AS max_r6,
               CAST(sum(ratio6) AS BIGINT) AS sum_r6
        FROM r GROUP BY 1
    """


_ECE_K = 10  # kNN votes per query — bins are the 11 discrete posteriors
_ECE_QMOD = 20  # every 20th vector is a held-out query (5% sample)


def _ece_scored(spark: SparkSession, emb: DataFrame) -> DataFrame:
    """(query_id, qlabel, label, vec_id, c6) for every query×corpus pair
    (self-pairs included — callers filter), scored by _bank_pairs."""
    import numpy as np

    def ece_c6(q, d):
        (idq, qlbl, Q), (idd, lbl, D) = q, d
        return {
            "query_id": np.repeat(idq, len(idd)),
            "qlabel": np.repeat(qlbl, len(idd)).astype(np.int32),
            "label": np.tile(lbl, len(idq)).astype(np.int32),
            "vec_id": np.tile(idd, len(idq)),
            "c6": _np_cos6(Q, D).ravel(),
        }

    return _bank_pairs(
        spark, emb.where(F.col("vec_id") % _ECE_QMOD == 0), emb, ece_c6,
        "query_id bigint, qlabel int, label int, vec_id bigint, c6 bigint",
        every=(_ECE_QMOD, 1), labeled=True,
    )


def q_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability table / expected-calibration-error input (Naeini et
    al. 2015; Guo et al. 2017) for a kNN classifier on the embedding
    corpus: for each held-out query (every 20th vector), the predicted
    probability of class 0 is the fraction of its 10 nearest cosine
    neighbors with label 0 — a real, discrete 11-bin posterior. Output:
    one row per occupied bin with count, mean confidence, empirical
    accuracy and the calibration gap; ECE is Σ n_b·gap_b / N over this
    table.

    Determinism: neighbor ranks come from micro-unit-snapped cosines;
    the posterior s/10 is the exact integer s·1e5; accuracy and gap are
    pure integer divisions — no floats anywhere in the metric.

    Scale shape: the query side is a 5% broadcast sample scored in one
    corpus pass (the similarity_topk shape); everything after the top-10
    window is an 11-row aggregate. Production swaps the brute scorer for
    an ANN candidate generator, identical tail.
    """
    from pyspark.sql import Window

    scored = _ece_scored(spark, load(spark, sf_dir, "embeddings")).where(
        F.col("vec_id") != F.col("query_id")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("c6").desc(), "vec_id")
    votes = (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _ECE_K)
        .groupBy("query_id", "qlabel")
        .agg(
            F.sum(F.when(F.col("label") == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("s10")
        )
    )
    return (
        votes.groupBy("s10")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.when(F.col("qlabel") == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("pos"),
        )
        .select(
            "s10",
            "n",
            "pos",
            (F.col("s10") * 100000).cast("bigint").alias("conf6"),
            F.expr("pos * 1000000 div n").cast("bigint").alias("acc6"),
            F.abs(F.col("s10") * 100000 - F.expr("pos * 1000000 div n"))
            .cast("bigint")
            .alias("gap6"),
        )
        .orderBy("s10")
    )


def _ece_oracle() -> str:
    return f"""
        WITH v AS (
            SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS vec,
                   sqrt(list_sum(list_transform(embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
            FROM embeddings
        ), p AS (
            SELECT q.vec_id AS query_id, q.label AS qlabel, d.label,
                   CAST(floor(list_dot_product(q.vec, d.vec)
                              / greatest(q.nrm * d.nrm, 1e-12) * 1e6 + 0.5) AS BIGINT) AS c6,
                   d.vec_id
            FROM v q JOIN v d
              ON q.vec_id % {_ECE_QMOD} = 0 AND d.vec_id <> q.vec_id
        ), r AS (
            SELECT query_id, qlabel, label,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY c6 DESC, vec_id) AS rk
            FROM p
        ), votes AS (
            SELECT query_id, qlabel,
                   CAST(sum(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS BIGINT)
                       AS s10
            FROM r WHERE rk <= {_ECE_K} GROUP BY query_id, qlabel
        ), bins AS (
            SELECT s10, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CASE WHEN qlabel = 0 THEN 1 ELSE 0 END) AS BIGINT)
                       AS pos
            FROM votes GROUP BY s10
        )
        SELECT s10, n, pos,
               CAST(s10 * 100000 AS BIGINT) AS conf6,
               CAST(pos * 1000000 // n AS BIGINT) AS acc6,
               CAST(abs(s10 * 100000 - pos * 1000000 // n) AS BIGINT) AS gap6
        FROM bins
        ORDER BY s10
    """


def _rrf_oracle() -> str:
    return f"""
        WITH v AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec,
                   sqrt(list_sum(list_transform(embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm,
                   list_sum(list_transform(embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS sq
            FROM embeddings
        ), p AS (
            SELECT q.vec_id AS query_id, d.vec_id AS vec_id,
                   CAST(floor(list_dot_product(q.vec, d.vec)
                              / greatest(q.nrm * d.nrm, 1e-12) * 1e6 + 0.5) AS BIGINT) AS c6,
                   CAST(floor((q.sq + d.sq
                               - 2.0 * list_dot_product(q.vec, d.vec)) * 1e6
                              + 0.5) AS BIGINT) AS d6
            FROM v q JOIN v d ON q.vec_id % 100 = 0 AND d.vec_id <> q.vec_id
        ), r AS (
            SELECT query_id, vec_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY c6 DESC, vec_id) AS ra,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY d6 ASC, vec_id) AS rb
            FROM p
        ), s AS (
            SELECT query_id, vec_id,
                   CAST(CASE WHEN ra <= {_RRF_POOL}
                             THEN 1000000000 // ({_RRF_K} + ra) ELSE 0 END
                        + CASE WHEN rb <= {_RRF_POOL}
                               THEN 1000000000 // ({_RRF_K} + rb) ELSE 0 END
                        AS BIGINT) AS rrf9
            FROM r WHERE ra <= {_RRF_POOL} OR rb <= {_RRF_POOL}
        ), f AS (
            SELECT query_id, vec_id, rrf9,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY rrf9 DESC, vec_id) AS rk
            FROM s
        )
        SELECT query_id, rk, vec_id AS neighbor_id, rrf9
        FROM f WHERE rk <= {_RRF_TOPK}
    """


def _ndcg_oracle() -> str:
    w6, idcg6 = _ndcg_weights()
    warr = "[" + ", ".join(str(x) for x in w6) + "]"
    iarr = "[" + ", ".join(str(x) for x in idcg6) + "]"
    return f"""
        WITH v AS (
            SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS vec,
                   sqrt(list_sum(list_transform(embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
            FROM embeddings
        ), p AS (
            SELECT q.vec_id AS query_id, q.label AS qlabel,
                   d.vec_id, d.label,
                   CAST(floor(list_dot_product(q.vec, d.vec)
                              / greatest(q.nrm * d.nrm, 1e-12) * 1e6 + 0.5) AS BIGINT) AS c6
            FROM v q JOIN v d ON q.vec_id % 100 = 0 AND d.vec_id <> q.vec_id
        ), r AS (
            SELECT query_id, qlabel, label, c6,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY c6 DESC, vec_id) AS rk
            FROM p
        ), t AS (
            SELECT query_id, qlabel,
                   CAST(sum(CASE WHEN label = qlabel
                                 THEN {warr}[rk] ELSE 0 END) AS BIGINT) AS dcg6
            FROM r WHERE rk <= 10 GROUP BY query_id, qlabel
        ), lc AS (
            SELECT label, CAST(count(*) AS BIGINT) AS cnt FROM v GROUP BY label
        ), j AS (
            SELECT t.query_id, lc.cnt - 1 AS n_rel, t.dcg6,
                   CASE WHEN lc.cnt - 1 >= 1
                        THEN CAST({iarr}[CAST(least(lc.cnt - 1, 10) AS INT)]
                                  AS BIGINT)
                        ELSE 0 END AS idcg6
            FROM t JOIN lc ON lc.label = t.qlabel
        )
        SELECT query_id, n_rel, dcg6, idcg6,
               CAST(CASE WHEN idcg6 > 0 THEN dcg6 * 1000000 // idcg6
                         ELSE 0 END AS BIGINT) AS ndcg6
        FROM j
    """


def _mrr_oracle() -> str:
    warr = "[" + ", ".join(str(x) for x in _mrr_weights()) + "]"
    return f"""
        WITH v AS (
            SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS vec,
                   sqrt(list_sum(list_transform(embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
            FROM embeddings
        ), p AS (
            SELECT q.vec_id AS query_id, q.label AS qlabel,
                   d.vec_id, d.label,
                   CAST(floor(list_dot_product(q.vec, d.vec)
                              / greatest(q.nrm * d.nrm, 1e-12) * 1e6 + 0.5) AS BIGINT) AS c6
            FROM v q JOIN v d ON q.vec_id % 100 = 0 AND d.vec_id <> q.vec_id
        ), r AS (
            SELECT query_id, qlabel, label, c6,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY c6 DESC, vec_id) AS rk
            FROM p
        ), t AS (
            SELECT query_id, qlabel,
                   CAST(coalesce(min(CASE WHEN label = qlabel THEN rk END), 0)
                        AS BIGINT) AS first_rel_rank,
                   CAST(sum(CASE WHEN label = qlabel THEN 1 ELSE 0 END)
                        AS BIGINT) AS hits10
            FROM r WHERE rk <= 10 GROUP BY query_id, qlabel
        ), lc AS (
            SELECT label, CAST(count(*) AS BIGINT) AS cnt FROM v GROUP BY label
        )
        SELECT t.query_id, lc.cnt - 1 AS n_rel, t.first_rel_rank,
               CAST(CASE WHEN t.first_rel_rank >= 1
                         THEN {warr}[CAST(t.first_rel_rank AS INT)]
                         ELSE 0 END AS BIGINT) AS rr6,
               t.hits10,
               CAST(CASE WHEN lc.cnt - 1 >= 1
                         THEN t.hits10 * 1000000 // least(lc.cnt - 1, 10)
                         ELSE 0 END AS BIGINT) AS recall6
        FROM t JOIN lc ON lc.label = t.qlabel
    """


_KC_K = 8  # coreset size (greedy k-center steps)


def q_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GREEDY k-CENTER coreset selection (Gonzalez 1985; the
    "farthest-point" selector behind diversity-targeted data curation
    à la Sener & Savarese 2018): seed with the lowest vec_id, then
    k−1 times pick the point FARTHEST (squared L2) from the selected
    set — a 2-approximation of the k-center optimum and the standard
    way to pick a small maximally-diverse training subset.

    Determinism: per-center distances expand as sqx + sqs − 2·dot
    (each term a fixed-order fold), snap to int64 micro-units PER
    CENTER, then the min/argmax run in integers with vec_id
    tie-break. Each round collects exactly ONE row (the BPE 1-row
    discipline) and re-broadcasts it as literal doubles — Python never
    re-computes arithmetic, so no engine/driver drift.

    Scale: k bounded corpus passes, each a narrow map + TakeOrdered(1)
    — no shuffle beyond the top-1 reduction; the selected set lives on
    the driver (k·dim doubles). The min distance to the selected set is
    maintained INCREMENTALLY (the textbook Gonzalez formulation): each
    round evaluates only the NEWEST center's distance and folds it into
    a running least() carried by a per-round lazy localCheckpoint, so
    total distance work is O(k·n), not O(k²·n) — least() chains
    associatively over exact int64 per-center snaps, so the running min
    is value-identical to re-evaluating all centers every round (r21
    A/B: 4.3 s → 2.1 s at sf0.1). The oracle unrolls the same k steps.
    """
    emb = _with_vec(load(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("label").cast("bigint").alias("label"), "vec"
    )
    sqx = F.aggregate(F.col("vec"), F.lit(0.0), lambda acc, x: acc + x * x)
    seed = emb.orderBy("vec_id").limit(1).collect()[0]
    selected = [
        {"step": 0, "vec_id": seed["vec_id"], "label": seed["label"],
         "mind6": 0, "vec": list(seed["vec"])}
    ]
    cur = emb.select("vec_id", "label", "vec", sqx.alias("sqx"))
    for step in range(1, _KC_K):
        s = selected[-1]
        scol = F.array(*[F.lit(float(x)) for x in s["vec"]])
        sqs = F.aggregate(scol, F.lit(0.0), lambda acc, x: acc + x * x)
        dot = _dot(F.col("vec"), scol)
        d6 = units(F.col("sqx") + sqs - 2 * dot)
        mind6 = d6 if step == 1 else F.least(F.col("mind6"), d6)
        # lazy checkpoint: materialized by this round's argmax collect,
        # carrying the running min so later rounds never re-derive it
        cur = cur.select("vec_id", "label", "vec", "sqx", mind6.alias("mind6"))
        cur = store.materialize(cur, "similarity.kcenter_dist", eager=False)
        chosen = (
            cur.where(~F.col("vec_id").isin([s2["vec_id"] for s2 in selected]))
            .select("vec_id", "label", "vec", "mind6")
            .orderBy(F.col("mind6").desc(), "vec_id")
            .limit(1)
            .collect()[0]
        )
        selected.append(
            {"step": step, "vec_id": chosen["vec_id"], "label": chosen["label"],
             "mind6": chosen["mind6"], "vec": list(chosen["vec"])}
        )
    return spark.createDataFrame(
        [(s["step"], s["vec_id"], s["label"], s["mind6"]) for s in selected],
        "step bigint, vec_id bigint, label bigint, mind6 bigint",
    )


def _kcenter_oracle() -> str:
    dist = (
        "CAST(floor((v.sq + s.sq - 2 * list_dot_product(v.vec, s.vec)) * 1e6"
        " + 0.5) AS BIGINT)"
    )
    steps = "".join(
        f""", m{t} AS MATERIALIZED (
            SELECT v.vec_id, v.label, CAST(min({dist}) AS BIGINT) AS mind6
            FROM v CROSS JOIN sel{t - 1} s
            WHERE v.vec_id NOT IN (SELECT vec_id FROM sel{t - 1})
            GROUP BY v.vec_id, v.label
        ), pick{t} AS (
            SELECT vec_id, label, mind6 FROM m{t}
            ORDER BY mind6 DESC, vec_id LIMIT 1
        ), sel{t} AS MATERIALIZED (
            SELECT step, vec_id, label, mind6, vec, sq FROM sel{t - 1}
            UNION ALL
            SELECT CAST({t} AS BIGINT), p.vec_id, p.label, p.mind6, v.vec, v.sq
            FROM pick{t} p JOIN v ON v.vec_id = p.vec_id
        )"""
        for t in range(1, _KC_K)
    )
    return f"""
        WITH v AS MATERIALIZED (
            SELECT vec_id, CAST(label AS BIGINT) AS label,
                   CAST(embedding AS DOUBLE[]) AS vec,
                   list_sum(list_transform(embedding,
                       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS sq
            FROM embeddings
        ), sel0 AS (
            SELECT CAST(0 AS BIGINT) AS step, vec_id, label,
                   CAST(0 AS BIGINT) AS mind6, vec, sq
            FROM v WHERE vec_id = (SELECT min(vec_id) FROM v)
        ){steps}
        SELECT step, vec_id, label, mind6 FROM sel{_KC_K - 1}
        ORDER BY step
    """


_DBSCAN_EPS6 = 1_450_000  # squared-L2 radius on the 1e-6 grid
_DBSCAN_MINPTS = 3  # neighbors (excluding self) to qualify as core


def _dbscan_pairs(spark: SparkSession, emb3: DataFrame) -> DataFrame:
    """Eps-surviving (ida, idb, d6) squared-L2 pairs (ida < idb) scored
    by _bank_pairs over the upper bank triangle; the eps filter is an
    integer compare, applied in-kernel so only surviving pairs cross the
    Arrow boundary."""
    import numpy as np

    def dbscan_d6(a, b):
        (ida, _, A), (idb, _, B) = a, b
        d6 = _np_d6(A, B)
        ii, jj = np.nonzero(np.less.outer(ida, idb) & (d6 <= _DBSCAN_EPS6))
        return {"ida": ida[ii], "idb": idb[jj], "d6": d6[ii, jj]}

    return _bank_pairs(
        spark, emb3, None, dbscan_d6, "ida bigint, idb bigint, d6 bigint",
        every=3, upper=True,
    )


def q_dbscan_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN density clustering (Ester et al. 1996) over the embedding
    table: CORE points have ≥ minPts neighbors within eps (squared L2),
    clusters are connected components of the core-core eps-graph,
    BORDER points attach to their lowest-labeled core cluster, the rest
    is NOISE — the density-based outlier/cluster splitter used to
    carve an embedding corpus before per-cluster curation.

    Determinism: pairwise distances expand as sq_a + sq_b − 2·dot
    (fixed-order folds) and snap to int64 micro-units BEFORE the eps
    compare; components take the min vec_id label (the dedup
    _components machinery — dedup.py:1352); border assignment is
    min() over core neighbors. Pure integer end to end.

    Scale: the witness runs on the deterministic vec_id % 3 slice so
    the exact all-pairs eps-join (quadratic BY DEFINITION of exact
    DBSCAN) stays bench-cheap; at 100 TB the pair generation swaps to
    the LSH-bucketed candidate path (q_dedup_embedding_lsh /
    similarity ANN) with identical downstream core/border/noise
    logic."""
    from gasket_rs_spark.operators.dedup import _components

    emb3 = load(spark, sf_dir, "embeddings").where(F.col("vec_id") % 3 == 0)
    pairs = store.materialize(_dbscan_pairs(spark, emb3), "similarity.dbscan_pairs", eager=True)
    sym = pairs.select(F.col("ida").alias("u"), F.col("idb").alias("v")).unionAll(
        pairs.select(F.col("idb").alias("u"), F.col("ida").alias("v"))
    )
    degree = sym.groupBy("u").agg(F.count("*").cast("bigint").alias("deg"))
    core = degree.where(F.col("deg") >= _DBSCAN_MINPTS).select(F.col("u").alias("vec_id"))
    core = store.materialize(core, "similarity.dbscan_core", eager=True)
    core_edges = (
        pairs.join(core.withColumnRenamed("vec_id", "ida"), "ida")
        .join(core.withColumnRenamed("vec_id", "idb"), "idb")
        .select(F.col("ida").alias("doc_a"), F.col("idb").alias("doc_b"))
    )
    comp = _components(
        core.withColumnRenamed("vec_id", "doc_id"), core_edges
    ).select(F.col("doc_id").alias("vec_id"), F.col("component").alias("cluster"))
    core_out = comp.select(
        "vec_id", F.lit("core").alias("role"), F.col("cluster").cast("bigint")
    )
    border = (
        sym.join(core.withColumnRenamed("vec_id", "v"), "v")
        .join(core.withColumnRenamed("vec_id", "u"), "u", "left_anti")
        .join(comp.withColumnRenamed("vec_id", "v"), "v")
        .groupBy(F.col("u").alias("vec_id"))
        .agg(F.min("cluster").cast("bigint").alias("cluster"))
        .select("vec_id", F.lit("border").alias("role"), "cluster")
    )
    assigned = core_out.unionAll(border)
    noise = (
        emb3.select("vec_id")
        .join(assigned.select("vec_id"), "vec_id", "left_anti")
        .select(
            "vec_id",
            F.lit("noise").alias("role"),
            F.lit(None).cast("bigint").alias("cluster"),
        )
    )
    return assigned.unionAll(noise).orderBy("vec_id")


def _dbscan_oracle() -> str:
    return f"""
        WITH v AS MATERIALIZED (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec,
                   list_sum(list_transform(embedding,
                       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS sq
            FROM embeddings WHERE vec_id % 3 = 0
        ), pairs AS MATERIALIZED (
            SELECT a.vec_id AS ida, b.vec_id AS idb
            FROM v a JOIN v b ON a.vec_id < b.vec_id
            WHERE CAST(floor((a.sq + b.sq - 2 * list_dot_product(a.vec, b.vec))
                             * 1e6 + 0.5) AS BIGINT) <= {_DBSCAN_EPS6}
        ), sym AS MATERIALIZED (
            SELECT ida AS u, idb AS v FROM pairs
            UNION ALL
            SELECT idb AS u, ida AS v FROM pairs
        ), core AS MATERIALIZED (
            SELECT u AS vec_id FROM sym GROUP BY 1
            HAVING count(*) >= {_DBSCAN_MINPTS}
        ), core_edges AS MATERIALIZED (
            SELECT p.ida AS doc_a, p.idb AS doc_b
            FROM pairs p
            JOIN core ca ON p.ida = ca.vec_id
            JOIN core cb ON p.idb = cb.vec_id
        ), reach AS (
            WITH RECURSIVE r(id, target) AS (
                SELECT vec_id, vec_id FROM core
                UNION
                SELECT e.doc_a, r.target FROM r
                JOIN (SELECT doc_a, doc_b FROM core_edges
                      UNION ALL
                      SELECT doc_b, doc_a FROM core_edges) e
                  ON e.doc_b = r.id
            )
            SELECT * FROM r
        ), comp AS MATERIALIZED (
            SELECT id AS vec_id, CAST(min(target) AS BIGINT) AS cluster
            FROM reach GROUP BY 1
        ), border AS (
            SELECT s.u AS vec_id, 'border' AS role,
                   CAST(min(c.cluster) AS BIGINT) AS cluster
            FROM sym s
            JOIN core cv ON s.v = cv.vec_id
            JOIN comp c ON s.v = c.vec_id
            WHERE s.u NOT IN (SELECT vec_id FROM core)
            GROUP BY 1
        ), assigned AS (
            SELECT vec_id, 'core' AS role, cluster FROM comp
            UNION ALL
            SELECT vec_id, role, cluster FROM border
        )
        SELECT vec_id, role, cluster FROM assigned
        UNION ALL
        SELECT v.vec_id, 'noise' AS role, CAST(NULL AS BIGINT) AS cluster
        FROM v WHERE v.vec_id NOT IN (SELECT vec_id FROM assigned)
        ORDER BY vec_id
    """


_MMD_LABEL_A = 0
_MMD_LABEL_B = 1


def q_embedding_mmd_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-kernel MMD² between two label groups of the embedding
    corpus — MMD²_lin = ‖μ_A − μ_B‖², the two-sample separation test a
    representation audit runs to ask "are these classes actually
    distinguishable in embedding space?" (Gretton et al. 2012; the
    linear kernel makes it the squared mean-gap, computable in one
    pass).

    Determinism: embedding values snap to int64 micro-units BEFORE any
    sum (the cross-engine float-sum-order killer), per-dimension sums
    are integers, the mean gap per dim is the exact integer
    cross-multiplication S_A·n_B − S_B·n_A over denominator
    greatest(n_A·n_B, 1.0) (one label entirely absent → 0, the
    zero-denominator class — guarded identically on both engines),
    and each dim's squared term is two IEEE ops (divide, square)
    snapped to an integer. Output: one row per dimension + the total
    on every row.

    Scale: posexplode → (dim, label) integer sums — map-side
    combinable, dim-bounded everything after."""
    emb = load(spark, sf_dir, "embeddings").where(
        F.col("label").isin(_MMD_LABEL_A, _MMD_LABEL_B)
    )
    e6 = emb.select(
        "label",
        F.posexplode(
            F.transform(
                F.col("embedding"),
                lambda x: units(x.cast("double")),
            )
        ).alias("dim", "v6"),
    )
    sums = e6.groupBy("dim").agg(
        F.sum(F.when(F.col("label") == _MMD_LABEL_A, F.col("v6")).otherwise(0))
        .cast("bigint")
        .alias("sa"),
        F.sum(F.when(F.col("label") == _MMD_LABEL_B, F.col("v6")).otherwise(0))
        .cast("bigint")
        .alias("sb"),
    )
    ns = emb.agg(
        F.sum((F.col("label") == _MMD_LABEL_A).cast("bigint"))
        .cast("bigint")
        .alias("na"),
        F.sum((F.col("label") == _MMD_LABEL_B).cast("bigint"))
        .cast("bigint")
        .alias("nb"),
    )
    per = (
        sums.crossJoin(F.broadcast(ns))
        .select(
            "dim",
            (F.col("sa") * F.col("nb") - F.col("sb") * F.col("na")).alias("gap_num"),
            "na",
            "nb",
        )
        .select(
            "dim",
            "gap_num",
            units(
                (
                    F.col("gap_num").cast("double")
                    / F.greatest((F.col("na") * F.col("nb")).cast("double"), F.lit(1.0))
                )
                * (
                    F.col("gap_num").cast("double")
                    / F.greatest((F.col("na") * F.col("nb")).cast("double"), F.lit(1.0))
                ),
                1,
            ).alias("gap_sq12"),
        )
    )
    total = per.agg(F.sum("gap_sq12").cast("bigint").alias("mmd12"))
    return (
        per.crossJoin(F.broadcast(total))
        .select("dim", "gap_num", "gap_sq12", "mmd12")
        .orderBy("dim")
    )


_SIL_MOD = 4  # deterministic sample: vec_id % 4 == 0 (pairs are O(n²))


def _sil_pairs(spark: SparkSession, emb4: DataFrame) -> DataFrame:
    """Labeled (ida, la, lb, d6) squared-L2 pairs (ida != idb) scored by
    _bank_pairs; the ida != idb predicate is an in-kernel mask."""
    import numpy as np

    def sil_d6(a, b):
        (ida, la, A), (idb, lb, B) = a, b
        d6 = _np_d6(A, B)
        ii, jj = np.nonzero(np.not_equal.outer(ida, idb))
        return {"ida": ida[ii], "la": la[ii], "lb": lb[jj], "d6": d6[ii, jj]}

    return _bank_pairs(
        spark, emb4, None, sil_d6, "ida bigint, la bigint, lb bigint, d6 bigint",
        every=_SIL_MOD, labeled=True,
    )


def q_silhouette_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SILHOUETTE coefficient per label cluster (Rousseeuw 1987) over a
    deterministic embedding sample — the standard "are these clusters
    real?" readout: per point, a = mean intra-cluster distance,
    b = min over other clusters of the mean distance, and
    s = (b − a)/max(a, b); reported as the per-cluster mean silhouette
    (near 0 here — the fixture labels are not geometric clusters, and
    the hash PINS that honest readout).

    Determinism: pairwise distances snap to int64 micro-units (the
    DBSCAN spelling); each mean is ONE IEEE division of exact ints;
    a/b comparisons and (b−a)/max(a,b) are fixed-order float ops on
    those identically-derived values, snapped to 1e-6; the final
    per-cluster mean is an integer division. Scale: quadratic by
    definition — bounded by the vec_id % 4 sample; the production path
    samples per cluster exactly like this."""
    emb4 = load(spark, sf_dir, "embeddings").where(
        F.col("vec_id") % _SIL_MOD == 0
    )
    pairs = _sil_pairs(spark, emb4)
    per_cluster = pairs.groupBy("ida", "la", "lb").agg(
        F.sum("d6").cast("bigint").alias("sum6"),
        F.count("*").cast("bigint").alias("cnt"),
    )
    mean_d = per_cluster.select(
        "ida",
        "la",
        "lb",
        (F.col("sum6").cast("double") / F.col("cnt").cast("double")).alias("m"),
    )
    a_side = mean_d.where(F.col("la") == F.col("lb")).select(
        "ida", "la", F.col("m").alias("a_m")
    )
    b_side = (
        mean_d.where(F.col("la") != F.col("lb"))
        .groupBy("ida", "la")
        .agg(F.min("m").alias("b_m"))
    )
    # Third guard audit (r14): max(a_m, b_m) = 0 is legal — duplicate
    # vectors across labels make every sampled distance 0 — and Spark's
    # ANSI session raises DIVIDE_BY_ZERO on it (DuckDB: NULL). The
    # 1e-12 floor (far below any real mean distance) makes the
    # degenerate point read s = (0 − 0)/1e-12 = 0, matching sklearn's
    # silhouette convention (s := 0 when max(a, b) = 0); a_m/b_m are
    # mean squared distances, non-negative by construction, so the
    # greatest() floor cannot flip a sign (the bitext lesson).
    s = a_side.join(b_side, ["ida", "la"]).select(
        "ida",
        "la",
        units(
            (F.col("b_m") - F.col("a_m"))
            / F.greatest(F.col("a_m"), F.col("b_m"), F.lit(1e-12))
        ).alias("s6"),
    )
    return (
        s.groupBy(F.col("la").alias("label"))
        .agg(
            F.count("*").cast("bigint").alias("n_points"),
            F.expr("sum(s6) div count(*)").cast("bigint").alias("mean_s6"),
            F.min("s6").cast("bigint").alias("min_s6"),
            F.max("s6").cast("bigint").alias("max_s6"),
        )
        .orderBy("label")
    )


_RAG_QMOD = 100  # query set: every 100th doc (the similarity convention)
_RAG_TERMS = 8  # rarest distinct terms per query for the sparse probe
_RAG_POOL = 20  # per-ranker candidate pool fed to RRF
_RAG_TOPK = 10  # fused pool size re-ranked by MaxSim
_RAG_K1 = 1.2  # BM25 k1/b — match text.q_text_bm25_topk
_RAG_B = 0.75


def q_rag_retrieval_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END RAG retrieval pipeline as ONE lazy plan (VERDICT r11
    #4) — the retrieval mirror of q_llm_corpus_pipeline, composing the
    oracle-checked building blocks from their home modules: BM25 sparse
    retrieval (text.q_text_bm25_topk's scoring) and dense brute cosine
    (q_similarity_topk's shape) each produce a top-20 pool per query,
    the pools are fused by reciprocal-rank fusion (q_rrf_fusion's
    integer RRF), and the fused top-10 is re-ranked by MaxSim
    late-interaction (q_maxsim_late_interaction's int64 kernel) — the
    standard hybrid-retrieval serving stack (sparse+dense → RRF →
    late-interaction re-rank) in every modern RAG deployment.

    The retrievable index is the EMBEDDED corpus: documents are
    semi-joined to embedding ids up front (at sf0.1 the documents table
    outgrows the embeddings table, and a late-interaction stack can only
    serve docs it has vectors for — restricting the index beats the
    accidental alternative of fusing unembedded docs and silently
    dropping them at the re-rank join). Queries are every 100th embedded
    document present in documents — the dense query set is semi-joined
    to the same index as the sparse side's, so an embedding row without
    a documents row can't become a dense-only query (ADVICE r12) — each
    probing with its _RAG_TERMS rarest distinct terms
    (df ascending, token tiebreak — the informative ones; this also
    bounds the postings join); BM25 statistics (N, avgdl, df) are
    likewise index-relative, as a real index's would be.

    Determinism: every ranker score snaps to int64 micro-units BEFORE
    ranking (BM25 per-term contributions snap then integer-sum, the
    DoReMi discipline, so float reduction order can't flip a rank);
    RRF terms are the pure-integer ``1e9 div (K + rank)``; MaxSim is the
    integer max/sum kernel. Every window is partitioned by query_id with
    doc_id tiebreaks — nothing in the output is a float. Every norm
    product (dense cosine's qnrm·nrm, MaxSim's qn[i]·nrm8[j]) carries
    greatest(..., 1e-12) identically on both engines (ADVICE r12): a
    zero embedding or zero 8-dim sub-vector would otherwise produce NaN
    and a divergent BIGINT cast — the zero-denominator class, swept
    across the whole similarity/dedup cosine family this round.

    Scale shape: each corpus side is scanned ONCE — the slim per-side
    bases (tf postings; vec+norms) are shared across their consumers via
    lazy localCheckpoint (the multi-consumer storage rule), so the plan
    re-reads neither parquet (pinned:
    tests/test_plans.py::test_rag_retrieval_pipeline_plan_shape). The
    query side (1%) broadcasts everywhere; per-query state is bounded by
    the pools. At 100 TB the brute dense scorer swaps for the ANN
    candidate generators (similarity_ann_*) feeding the same fusion +
    re-rank tail — ColBERT's own two-stage serving design."""
    from pyspark.sql import Window

    # ---- dense base first: its ids define the retrievable index -------
    sub_norms = F.expr(
        f"transform(sequence(0, {_MS_SUBS - 1}), i -> "
        f" sqrt(aggregate(slice(vec, i * 8 + 1, 8), CAST(0.0 AS DOUBLE),"
        f"  (a, x) -> a + x * x)))"
    )
    v = store.materialize(
        load(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            _as_double(F.col("embedding")).alias("vec"),
            _norm(F.col("embedding")).alias("nrm"),
        )
        .withColumn("nrm8", sub_norms),
        "similarity.rag_vectors", eager=False,
    )
    # ---- sparse side: BM25 over the EMBEDDED documents (one scan) -----
    toks = (
        load(spark, sf_dir, "documents")
        .join(v.select(F.col("vec_id").alias("doc_id")), "doc_id", "semi")
        .select("doc_id", F.explode(keys.tokens()).alias("tok"))
    )
    tf = store.materialize(
        toks.groupBy("doc_id", "tok")
        .agg(F.count("*").cast("bigint").alias("tf")),
        "similarity.rag_tf", eager=False,
    )
    doclen = tf.groupBy("doc_id").agg(F.sum("tf").cast("bigint").alias("dl"))
    stats = doclen.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.avg("dl").alias("avg_dl"),
    )
    df_t = tf.groupBy("tok").agg(F.count("*").cast("bigint").alias("df"))
    wq = Window.partitionBy("query_id").orderBy(F.col("df").asc(), "tok")
    qterms = (
        tf.where(F.col("doc_id") % _RAG_QMOD == 0)
        .select(F.col("doc_id").alias("query_id"), "tok")
        .join(df_t, "tok")
        .withColumn("tr", F.row_number().over(wq))
        .where(F.col("tr") <= _RAG_TERMS)
        .select("query_id", "tok", "df")
    )
    contrib = (
        tf.join(broadcast(qterms), "tok")
        .where(F.col("doc_id") != F.col("query_id"))
        .join(doclen, "doc_id")
        .crossJoin(broadcast(stats))
        .select(
            "query_id",
            "doc_id",
            units(
                F.log(
                    (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                    + 1.0
                )
                * F.col("tf")
                * (_RAG_K1 + 1)
                / (
                    F.col("tf")
                    + _RAG_K1
                    * (1 - _RAG_B + _RAG_B * F.col("dl") / F.col("avg_dl"))
                )
            ).alias("c6"),
        )
    )
    ws = Window.partitionBy("query_id").orderBy(F.col("s6").desc(), "doc_id")
    sparse_pool = (
        contrib.groupBy("query_id", "doc_id")
        .agg(F.sum("c6").cast("bigint").alias("s6"))
        .withColumn("rb", F.row_number().over(ws))
        .where(F.col("rb") <= _RAG_POOL)
        .select("query_id", "doc_id", "rb")
    )
    # ---- dense side: brute cosine over the shared embedding base ------
    # Queries are restricted to embedded docs PRESENT IN documents (the
    # semi-joined index, via the already-checkpointed tf base — no extra
    # scan): the sparse side's qterms carries that restriction implicitly
    # through tf, and an embedding row without a documents row must not
    # become a dense-only query the sparse ranker (and the pure-Python
    # pin) never sees (ADVICE r12).
    qv = (
        v.where(F.col("vec_id") % _RAG_QMOD == 0)
        .join(
            tf.select(F.col("doc_id").alias("vec_id")).distinct(),
            "vec_id",
            "semi",
        )
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("vec").alias("qv"),
            F.col("nrm").alias("qnrm"),
            F.col("nrm8").alias("qn"),
        )
    )
    wd = Window.partitionBy("query_id").orderBy(F.col("c6").desc(), "doc_id")
    dense_pool = (
        v.join(broadcast(qv), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("doc_id"),
            units(
                _dot(F.col("qv"), F.col("vec"))
                / F.greatest(F.col("qnrm") * F.col("nrm"), F.lit(1e-12))
            ).alias("c6"),
        )
        .withColumn("ra", F.row_number().over(wd))
        .where(F.col("ra") <= _RAG_POOL)
        .select("query_id", "doc_id", "ra")
    )
    # ---- RRF fusion of the two pools (integer arithmetic) -------------
    wf = Window.partitionBy("query_id").orderBy(F.col("rrf9").desc(), "doc_id")
    pool = (
        dense_pool.join(sparse_pool, ["query_id", "doc_id"], "full")
        .select(
            "query_id",
            "doc_id",
            (
                F.coalesce(
                    F.expr(f"1000000000 div ({_RRF_K} + ra)"), F.lit(0)
                )
                + F.coalesce(
                    F.expr(f"1000000000 div ({_RRF_K} + rb)"), F.lit(0)
                )
            )
            .cast("bigint")
            .alias("rrf9"),
        )
        .withColumn("fused_rank", F.row_number().over(wf))
        .where(F.col("fused_rank") <= _RAG_TOPK)
    )
    # ---- MaxSim late-interaction re-rank of the fused pool ------------
    maxsim6 = F.expr(
        f"aggregate(transform(sequence(0, {_MS_SUBS - 1}), i -> "
        f" array_max(transform(sequence(0, {_MS_SUBS - 1}), j -> "
        f"  CAST(floor("
        f"   aggregate(zip_with(slice(qv, i * 8 + 1, 8),"
        f"                      slice(vec, j * 8 + 1, 8),"
        f"                      (x, y) -> x * y),"
        f"             CAST(0.0 AS DOUBLE), (a, x) -> a + x)"
        f"   / greatest(element_at(qn, i + 1) * element_at(nrm8, j + 1), 1e-12)"
        f"   * 1e6 + 0.5) AS BIGINT)))),"
        f" CAST(0 AS BIGINT), (a, x) -> a + x)"
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("maxsim6").desc(), "doc_id"
    )
    return (
        pool.join(
            v.select(F.col("vec_id").alias("doc_id"), "vec", "nrm8"), "doc_id"
        )
        .join(broadcast(qv.select("query_id", "qv", "qn")), "query_id")
        .select("query_id", "doc_id", "fused_rank", "rrf9", maxsim6.alias("maxsim6"))
        .withColumn("rerank", F.row_number().over(wr))
        .select("query_id", "rerank", "doc_id", "fused_rank", "rrf9", "maxsim6")
    )


def _pq_distortion_oracle() -> str:
    """DuckDB replay of q_embedding_pq_distortion's ENTIRE pipeline —
    ordered bounded sample, fixed-point quantization, stride init, the
    _PQ_ITERS integer k-means iterations UNROLLED as CTE triples
    (distance / first-min assign / truncating-// mean with empty-code
    carry-forward), full-corpus encode, per-subspace distortion. All 8
    subspaces ride ONE keyed unroll (sp = (d-1)//8 joins everywhere),
    so the CTE count is the same as a single k-means. Integer
    sufficient statistics are what make this oracle possible (the
    SemDeDup/BPE unrolled-training trick; see _sem_clustered_oracle).
    Every multi-referenced CTE is AS MATERIALIZED — DuckDB otherwise
    inlines and re-evaluates the whole prefix per reference (2^iters
    blowup, verify-skill trap)."""
    iters = []
    for n in range(1, _PQ_ITERS + 1):
        iters.append(f"""pqdist{n} AS MATERIALIZED (
            SELECT sq.sp, sq.i, c.c,
                   sum((sq.q - c.v) * (sq.q - c.v)) AS dist
            FROM pqsq sq JOIN pqcent{n - 1} c
              ON sq.sp = c.sp AND sq.dl = c.dl
            GROUP BY sq.sp, sq.i, c.c
        ), pqassign{n} AS MATERIALIZED (
            SELECT sp, i, c FROM (
                SELECT sp, i, c,
                       row_number() OVER (PARTITION BY sp, i
                                          ORDER BY dist, c) AS rn
                FROM pqdist{n}
            ) WHERE rn = 1
        ), pqcent{n} AS MATERIALIZED (
            SELECT p.c, p.sp, p.dl, COALESCE(u.v, p.v) AS v
            FROM pqcent{n - 1} p
            LEFT JOIN (
                SELECT a.c, sq.sp, sq.dl, sum(sq.q) // count(*) AS v
                FROM pqsq sq JOIN pqassign{n} a
                  ON sq.i = a.i AND sq.sp = a.sp
                GROUP BY a.c, sq.sp, sq.dl
            ) u ON u.c = p.c AND u.sp = p.sp AND u.dl = p.dl
        )""")
    return f"""
        WITH emb0 AS MATERIALIZED (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec
            FROM embeddings
        ), dims AS MATERIALIZED (
            SELECT unnest(range(1,
                (SELECT max(len(embedding)) FROM embeddings) + 1)) AS d
        ), samp0 AS (
            SELECT vec_id, vec FROM emb0
            WHERE ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 2))::BIGINT
                  % 16 < 4
            ORDER BY vec_id LIMIT 2000
        ), samp AS (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS i, vec
            FROM samp0
        ), pqsq AS MATERIALIZED (
            SELECT s.i, (d.d - 1) // {_SUBDIM} AS sp, (d.d - 1) % {_SUBDIM} AS dl,
                   CAST(floor(s.vec[d.d] * {_PQ_QUANT} + 0.5) AS BIGINT) AS q
            FROM samp s, dims d
        ), mcnt AS (
            SELECT count(*) AS m FROM samp
        ), pqks AS (
            SELECT unnest(range({_PQ_K})) AS c
        ), pqcent0 AS MATERIALIZED (
            SELECT k2.c, sq.sp, sq.dl, sq.q AS v
            FROM pqks k2 JOIN pqsq sq
              ON sq.i = (k2.c * (SELECT m FROM mcnt)) // {_PQ_K}
        ), {", ".join(iters)}, pqcq AS MATERIALIZED (
            SELECT e.vec_id, (d.d - 1) // {_SUBDIM} AS sp,
                   (d.d - 1) % {_SUBDIM} AS dl,
                   CAST(floor(e.vec[d.d] * {_PQ_QUANT} + 0.5) AS BIGINT) AS q
            FROM emb0 e, dims d
        ), pqcdist AS MATERIALIZED (
            SELECT cq.sp, cq.vec_id, c.c,
                   sum((cq.q - c.v) * (cq.q - c.v)) AS dist
            FROM pqcq cq JOIN pqcent{_PQ_ITERS} c
              ON cq.sp = c.sp AND cq.dl = c.dl
            GROUP BY cq.sp, cq.vec_id, c.c
        ), pqenc AS MATERIALIZED (
            SELECT sp, vec_id, c, dist FROM (
                SELECT sp, vec_id, c, dist,
                       row_number() OVER (PARTITION BY sp, vec_id
                                          ORDER BY dist, c) AS rn
                FROM pqcdist
            ) WHERE rn = 1
        )
        SELECT CAST(sp AS BIGINT) AS subspace,
               CAST(count(*) AS BIGINT) AS n_vectors,
               CAST(count(DISTINCT c) AS BIGINT) AS n_codes_used,
               floor(CAST(sum(dist) AS DOUBLE) / count(*)
                     / 1000000000000.0 * 1000000000.0 + 0.5)
                   / 1000000000.0 AS mse
        FROM pqenc GROUP BY sp
    """


def _pca_power_oracle() -> str:
    """DuckDB replay of q_embedding_pca's ENTIRE pipeline — integer Gram
    of the (j+1)²-weighted quantized corpus, truncating rescale, the
    _PCA_SQUARINGS matrix squarings and _PCA_ITERS power iterations
    UNROLLED as CTE triples (matvec / max-abs scale / truncating //),
    Rayleigh quotient on the original Gram (HUGEINT intermediates, BIGINT
    output), and the truncation-rescaled projection moments. Integer
    sufficient statistics are what make this oracle possible (the
    PQ/SemDeDup unrolled-training trick). Every multi-referenced CTE is
    AS MATERIALIZED — DuckDB otherwise inlines and re-evaluates the
    whole prefix per reference (2^iters blowup, verify-skill trap).
    Dimension-generic: dims/weights derive from the fixture, matching
    the Spark side."""
    sq = []
    for k in range(1, _PCA_SQUARINGS + 1):
        sq.append(f"""pcb{k}r AS MATERIALIZED (
            SELECT a.i AS i, b.j AS j, CAST(sum(a.v * b.v) AS BIGINT) AS v
            FROM pcb{k - 1} a JOIN pcb{k - 1} b ON a.j = b.i GROUP BY 1, 2
        ), pcb{k}s AS MATERIALIZED (
            SELECT max(abs(v)) // {_PCA_CAP} + 1 AS s FROM pcb{k}r
        ), pcb{k} AS MATERIALIZED (
            SELECT i, j, v // (SELECT s FROM pcb{k}s) AS v FROM pcb{k}r
        )""")
    it = []
    for t in range(1, _PCA_ITERS + 1):
        it.append(f"""pcu{t} AS MATERIALIZED (
            SELECT b.i AS j, CAST(sum(b.v * v.v) AS BIGINT) AS u
            FROM pcb{_PCA_SQUARINGS} b JOIN pcv{t - 1} v ON b.j = v.j
            GROUP BY 1
        ), pcu{t}s AS MATERIALIZED (
            SELECT max(abs(u)) // {_PCA_VCAP} + 1 AS s FROM pcu{t}
        ), pcv{t} AS MATERIALIZED (
            SELECT j, u // (SELECT s FROM pcu{t}s) AS v FROM pcu{t}
        )""")
    return f"""
        WITH pcdims AS MATERIALIZED (
            SELECT unnest(range(1,
                (SELECT max(len(embedding)) FROM embeddings) + 1)) AS d
        ), pcq AS MATERIALIZED (
            SELECT e.vec_id, d.d - 1 AS j,
                   CAST(floor(CAST(e.embedding[d.d] AS DOUBLE)
                              * {_PCA_GRID}.0 + 0.5) AS BIGINT)
                   * (d.d * d.d) AS qw
            FROM embeddings e, pcdims d
        ), pcgram AS MATERIALIZED (
            SELECT a.j AS i, b.j AS j, CAST(sum(a.qw * b.qw) AS BIGINT) AS g
            FROM pcq a JOIN pcq b USING (vec_id) GROUP BY 1, 2
        ), pcb0s AS MATERIALIZED (
            SELECT max(abs(g)) // {_PCA_CAP} + 1 AS s FROM pcgram
        ), pcb0 AS MATERIALIZED (
            SELECT i, j, g // (SELECT s FROM pcb0s) AS v FROM pcgram
        ), {", ".join(sq)}, pcv0 AS MATERIALIZED (
            SELECT d - 1 AS j, CAST(d * d AS BIGINT) AS v FROM pcdims
        ), {", ".join(it)}, pcray AS MATERIALIZED (
            SELECT sum(CAST(vi.v AS HUGEINT) * g.g * vj.v) AS num
            FROM pcgram g JOIN pcv{_PCA_ITERS} vi ON g.i = vi.j
                          JOIN pcv{_PCA_ITERS} vj ON g.j = vj.j
        ), pcden AS MATERIALIZED (
            SELECT sum(CAST(v AS HUGEINT) * v) AS den FROM pcv{_PCA_ITERS}
        ), pcn AS MATERIALIZED (
            SELECT CAST(count(*) AS HUGEINT) AS n FROM embeddings
        ), pclam AS MATERIALIZED (
            SELECT CAST((r.num * 1000000)
                        // (d.den * (SELECT n FROM pcn)
                            * {_PCA_GRID * _PCA_GRID}) AS BIGINT)
                   AS lam_micro
            FROM pcray r, pcden d
        ), pcproj AS MATERIALIZED (
            SELECT p.vec_id,
                   CAST(sum(p.qw * v.v) AS BIGINT) // {_PCA_PROJ_DIV} AS pr
            FROM pcq p JOIN pcv{_PCA_ITERS} v ON p.j = v.j GROUP BY 1
        ), pcprojm AS MATERIALIZED (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(pr) AS BIGINT) AS proj_s,
                   CAST(sum(pr * pr) AS BIGINT) AS proj_ss
            FROM pcproj
        )
        SELECT CAST(v.j AS INT) AS component,
               CAST(v.v AS BIGINT) AS loading_scaled,
               l.lam_micro, m.n, m.proj_s, m.proj_ss
        FROM pcv{_PCA_ITERS} v, pclam l, pcprojm m
        ORDER BY component
    """


ORACLES: dict[str, str] = {
    "embedding_pca": _pca_power_oracle(),
    "embedding_pq_distortion": _pq_distortion_oracle(),
    "rag_retrieval_pipeline": f"""
        WITH tf AS MATERIALIZED (
            SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                  FROM documents
                  WHERE doc_id IN (SELECT vec_id FROM embeddings))
            GROUP BY 1, 2
        ), doclen AS MATERIALIZED (
            SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1
        ), stats AS (
            SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avg_dl
            FROM doclen
        ), df_t AS MATERIALIZED (
            SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
        ), qterms AS (
            SELECT query_id, tok, df FROM (
                SELECT t.doc_id AS query_id, t.tok, d.df,
                       row_number() OVER (PARTITION BY t.doc_id
                                          ORDER BY d.df ASC, t.tok) AS tr
                FROM tf t JOIN df_t d USING (tok)
                WHERE t.doc_id % {_RAG_QMOD} = 0
            ) WHERE tr <= {_RAG_TERMS}
        ), contrib AS (
            SELECT q.query_id, t.doc_id,
                   CAST(floor(ln((s.n_docs - q.df + 0.5) / (q.df + 0.5) + 1.0)
                              * t.tf * ({_RAG_K1} + 1)
                              / (t.tf + {_RAG_K1}
                                 * (1 - {_RAG_B} + {_RAG_B} * l.dl / s.avg_dl))
                              * 1e6 + 0.5) AS BIGINT) AS c6
            FROM tf t JOIN qterms q USING (tok)
                      JOIN doclen l ON l.doc_id = t.doc_id
                      CROSS JOIN stats s
            WHERE t.doc_id <> q.query_id
        ), sparse_pool AS (
            SELECT query_id, doc_id, rb FROM (
                SELECT query_id, doc_id,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY s6 DESC, doc_id) AS rb
                FROM (SELECT query_id, doc_id,
                             CAST(sum(c6) AS BIGINT) AS s6
                      FROM contrib GROUP BY 1, 2)
            ) WHERE rb <= {_RAG_POOL}
        ), v AS MATERIALIZED (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec,
                   sqrt(list_sum(list_transform(embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm,
                   list_transform(range(0, {_MS_SUBS}), i ->
                       sqrt(list_sum(list_transform(
                           list_transform(embedding[i * 8 + 1 : i * 8 + 8],
                                          x -> CAST(x AS DOUBLE)),
                           x -> x * x)))) AS nrm8
            FROM embeddings
        ), dense_pool AS (
            SELECT query_id, doc_id, ra FROM (
                SELECT q.vec_id AS query_id, d.vec_id AS doc_id,
                       row_number() OVER (PARTITION BY q.vec_id ORDER BY
                           CAST(floor(list_dot_product(q.vec, d.vec)
                                      / greatest(q.nrm * d.nrm, 1e-12) * 1e6 + 0.5)
                                AS BIGINT) DESC, d.vec_id) AS ra
                FROM v q JOIN v d ON q.vec_id % {_RAG_QMOD} = 0
                                 AND q.vec_id IN (SELECT doc_id FROM tf)
                                 AND d.vec_id <> q.vec_id
            ) WHERE ra <= {_RAG_POOL}
        ), pool AS (
            SELECT query_id, doc_id, rrf9, fused_rank FROM (
                SELECT query_id, doc_id, rrf9,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY rrf9 DESC, doc_id)
                           AS fused_rank
                FROM (
                    SELECT COALESCE(a.query_id, b.query_id) AS query_id,
                           COALESCE(a.doc_id, b.doc_id) AS doc_id,
                           CAST(COALESCE(1000000000 // ({_RRF_K} + a.ra), 0)
                                + COALESCE(1000000000 // ({_RRF_K} + b.rb), 0)
                                AS BIGINT) AS rrf9
                    FROM dense_pool a FULL OUTER JOIN sparse_pool b
                      ON a.query_id = b.query_id AND a.doc_id = b.doc_id
                )
            ) WHERE fused_rank <= {_RAG_TOPK}
        ), reranked AS (
            SELECT p.query_id, p.doc_id, p.fused_rank, p.rrf9,
                   CAST(list_sum(list_transform(range(0, {_MS_SUBS}), i ->
                       list_max(list_transform(range(0, {_MS_SUBS}), j ->
                           CAST(floor(
                               list_dot_product(q.vec[i * 8 + 1 : i * 8 + 8],
                                                d.vec[j * 8 + 1 : j * 8 + 8])
                               / greatest(q.nrm8[i + 1] * d.nrm8[j + 1], 1e-12)
                               * 1e6 + 0.5) AS BIGINT)))))
                        AS BIGINT) AS maxsim6
            FROM pool p JOIN v d ON d.vec_id = p.doc_id
                        JOIN v q ON q.vec_id = p.query_id
        )
        SELECT query_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY maxsim6 DESC, doc_id) AS rerank,
               doc_id, fused_rank, rrf9, maxsim6
        FROM reranked
    """,
    "silhouette_score": f"""
        WITH v AS MATERIALIZED (
            SELECT vec_id, CAST(label AS BIGINT) AS label,
                   CAST(embedding AS DOUBLE[]) AS vec,
                   list_sum(list_transform(embedding,
                       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS sq
            FROM embeddings WHERE vec_id % {_SIL_MOD} = 0
        ), pairs AS MATERIALIZED (
            SELECT a.vec_id AS ida, a.label AS la, b.label AS lb,
                   CAST(floor((a.sq + b.sq
                               - 2 * list_dot_product(a.vec, b.vec))
                              * 1e6 + 0.5) AS BIGINT) AS d6
            FROM v a JOIN v b ON a.vec_id <> b.vec_id
        ), mean_d AS (
            SELECT ida, la, lb,
                   CAST(sum(d6) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS m
            FROM pairs GROUP BY 1, 2, 3
        ), a_side AS (
            SELECT ida, la, m AS a_m FROM mean_d WHERE la = lb
        ), b_side AS (
            SELECT ida, la, min(m) AS b_m FROM mean_d
            WHERE la <> lb GROUP BY 1, 2
        ), s AS (
            SELECT a.ida, a.la,
                   CAST(floor((b.b_m - a.a_m)
                              / greatest(a.a_m, b.b_m, 1e-12)
                              * 1e6 + 0.5) AS BIGINT) AS s6
            FROM a_side a JOIN b_side b ON a.ida = b.ida AND a.la = b.la
        )
        SELECT la AS label,
               CAST(count(*) AS BIGINT) AS n_points,
               CAST(sum(s6) // count(*) AS BIGINT) AS mean_s6,
               CAST(min(s6) AS BIGINT) AS min_s6,
               CAST(max(s6) AS BIGINT) AS max_s6
        FROM s GROUP BY 1 ORDER BY 1
    """,
    "embedding_mmd_labels": f"""
        WITH emb AS (
            SELECT label, embedding FROM embeddings
            WHERE label IN ({_MMD_LABEL_A}, {_MMD_LABEL_B})
        ), e6 AS (
            SELECT label, u.dim - 1 AS dim, u.v6
            FROM emb, LATERAL (
                SELECT unnest(generate_series(1, len(embedding))) AS dim,
                       unnest(list_transform(embedding,
                           x -> CAST(floor(CAST(x AS DOUBLE) * 1e6 + 0.5)
                                     AS BIGINT))) AS v6
            ) u
        ), sums AS (
            SELECT dim,
                   CAST(sum(CASE WHEN label = {_MMD_LABEL_A} THEN v6 ELSE 0
                            END) AS BIGINT) AS sa,
                   CAST(sum(CASE WHEN label = {_MMD_LABEL_B} THEN v6 ELSE 0
                            END) AS BIGINT) AS sb
            FROM e6 GROUP BY 1
        ), ns AS (
            SELECT CAST(sum(CASE WHEN label = {_MMD_LABEL_A} THEN 1 ELSE 0
                            END) AS BIGINT) AS na,
                   CAST(sum(CASE WHEN label = {_MMD_LABEL_B} THEN 1 ELSE 0
                            END) AS BIGINT) AS nb
            FROM emb
        ), per AS (
            SELECT dim, sa * nb - sb * na AS gap_num,
                   CAST(floor((CAST(sa * nb - sb * na AS DOUBLE)
                               / greatest(CAST(na * nb AS DOUBLE), 1.0))
                              * (CAST(sa * nb - sb * na AS DOUBLE)
                                 / greatest(CAST(na * nb AS DOUBLE), 1.0))
                              + 0.5)
                        AS BIGINT) AS gap_sq12
            FROM sums CROSS JOIN ns
        )
        SELECT dim, gap_num, gap_sq12,
               (SELECT CAST(sum(gap_sq12) AS BIGINT) FROM per) AS mmd12
        FROM per ORDER BY dim
    """,
    "dbscan_clusters": _dbscan_oracle(),
    "kcenter_coreset": _kcenter_oracle(),
    "calibration_ece": _ece_oracle(),
    "rrf_fusion": _rrf_oracle(),
    "retrieval_ndcg": _ndcg_oracle(),
    "retrieval_mrr": _mrr_oracle(),
    "precision_at_k": _PREC_ORACLE,
    "ranker_winrate": _winrate_oracle(),
    "jl_projection": _jl_oracle(),
    "maxsim_late_interaction": f"""
        WITH v AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec
            FROM embeddings
        ), vn AS (
            SELECT vec_id, vec,
                   list_transform(range(0, {_MS_SUBS}), i ->
                       sqrt(list_sum(list_transform(
                           vec[i * 8 + 1 : i * 8 + 8], x -> x * x))))
                       AS nrm8
            FROM v
        ), pairs AS (
            SELECT q.vec_id AS query_id, d.vec_id AS doc_id,
                   CAST(list_sum(list_transform(range(0, {_MS_SUBS}), i ->
                       list_max(list_transform(range(0, {_MS_SUBS}), j ->
                           CAST(floor(
                               list_dot_product(q.vec[i * 8 + 1 : i * 8 + 8],
                                                d.vec[j * 8 + 1 : j * 8 + 8])
                               / greatest(q.nrm8[i + 1] * d.nrm8[j + 1], 1e-12)
                               * 1e6 + 0.5) AS BIGINT)))))
                        AS BIGINT) AS score6
            FROM vn q JOIN vn d ON q.vec_id % 100 = 0
                              AND d.vec_id <> q.vec_id
        ), ranked AS (
            SELECT query_id, doc_id, score6,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY score6 DESC, doc_id) AS rk
            FROM pairs
        )
        SELECT query_id, rk, doc_id,
               score6 / 1e6 AS maxsim
        FROM ranked WHERE rk <= {_MS_TOPK}
    """,
    "bitext_margin_mine": f"""
        WITH v AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec,
                   sqrt(list_sum(list_transform(embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
            FROM embeddings
        ), p AS (
            SELECT a.vec_id AS src_id, b.vec_id AS tgt_id,
                   CAST(floor(list_dot_product(a.vec, b.vec)
                              / greatest(a.nrm * b.nrm, 1e-12) * 1e6 + 0.5) AS BIGINT) AS c6
            FROM v a, v b
            WHERE a.vec_id % 2 = 0 AND b.vec_id % 2 = 1
        ), da AS (
            SELECT src_id, CAST(sum(c6) AS BIGINT) AS dega6
            FROM (SELECT src_id, c6,
                         row_number() OVER (PARTITION BY src_id
                                            ORDER BY c6 DESC, tgt_id) AS rn
                  FROM p)
            WHERE rn <= {_BITEXT_K} GROUP BY src_id
        ), db AS (
            SELECT tgt_id, CAST(sum(c6) AS BIGINT) AS degb6
            FROM (SELECT tgt_id, c6,
                         row_number() OVER (PARTITION BY tgt_id
                                            ORDER BY c6 DESC, src_id) AS rn
                  FROM p)
            WHERE rn <= {_BITEXT_K} GROUP BY tgt_id
        ), m AS (
            SELECT p.src_id, p.tgt_id, p.c6,
                   floor((p.c6 * 2 * {_BITEXT_K})
                         / (CASE WHEN da.dega6 + db.degb6 = 0 THEN 1
                                 ELSE da.dega6 + db.degb6 END)
                         * 1e6 + 0.5) / 1e6 AS margin
            FROM p JOIN da USING (src_id) JOIN db USING (tgt_id)
        ), best AS (
            SELECT src_id,
                   max({{'m': margin, 't': tgt_id, 'c': c6}}) AS b
            FROM m GROUP BY src_id
        )
        SELECT src_id, (b).t AS tgt_id, (b).c / 1e6 AS cosine,
               (b).m AS margin
        FROM best
        WHERE (b).m >= {_BITEXT_TAU}
    """,
    "embedding_covariance": """
        WITH ex AS (
            SELECT vec_id,
                   generate_subscripts(embedding, 1) - 1 AS i,
                   CAST(unnest(embedding) AS DOUBLE) AS v
            FROM embeddings
        ), cells AS (
            SELECT a.i AS i, b.i AS j, sum(a.v * b.v) AS gram
            FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND b.i >= a.i
            GROUP BY 1, 2
        ), m AS (
            SELECT i, sum(v) / count(*) AS mu, count(*) AS cnt
            FROM ex GROUP BY i
        )
        SELECT c.i, c.j,
               round(c.gram, 4) + 0.0 AS gram,
               round(c.gram / mi.cnt - mi.mu * mj.mu, 6) + 0.0 AS cov
        FROM cells c
        JOIN m mi ON mi.i = c.i
        JOIN m mj ON mj.i = c.j
    """,
    "embedding_quantize": """
        WITH v AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
        ), s AS (
            SELECT vec_id, vec,
                   list_max(list_transform(vec, x -> abs(x))) / 127.0 AS scale
            FROM v
        ), e AS (
            SELECT vec_id, scale,
                   list_transform(vec, x -> CASE WHEN scale = 0 THEN 0.0
                        ELSE abs(x - scale * floor(x / scale + 0.5)) END) AS errs,
                   len(vec) AS d
            FROM s
        )
        SELECT vec_id,
               floor(scale * 1000000 + 0.5) / 1000000 AS scale,
               floor(list_max(errs) * 1000000 + 0.5) / 1000000 AS max_abs_err,
               floor(list_sum(errs) / d * 1000000 + 0.5) / 1000000 AS mean_abs_err
        FROM e
    """,
    "similarity_topk": """
        WITH v AS (
            SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS vec,
                   sqrt(list_sum(list_transform(embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
            FROM embeddings
        ), q AS (
            SELECT vec_id AS query_id, vec AS qvec, nrm AS qnrm FROM v
            WHERE vec_id % 100 = 0
        ), scored AS (
            SELECT q.query_id, v.vec_id AS neighbor_id, v.label,
                   round(list_dot_product(q.qvec, v.vec) / greatest(q.qnrm * v.nrm, 1e-12), 6) AS cosine
            FROM q JOIN v ON v.vec_id <> q.query_id
        )
        SELECT query_id, rk, neighbor_id, cosine, label
        FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY cosine DESC, neighbor_id) AS rk
            FROM scored
        ) t
        WHERE rk <= 5
    """,
    "hard_negative_mining": """
        WITH v AS (
            SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS vec,
                   sqrt(list_sum(list_transform(embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
            FROM embeddings
        ), q AS (
            SELECT vec_id AS query_id, vec AS qvec, nrm AS qnrm,
                   label AS anchor_label
            FROM v WHERE vec_id % 100 = 0
        ), scored AS (
            SELECT q.query_id, q.anchor_label,
                   v.vec_id AS negative_id, v.label AS negative_label,
                   round(list_dot_product(q.qvec, v.vec) / greatest(q.qnrm * v.nrm, 1e-12), 6)
                       AS cosine
            FROM q JOIN v
              ON v.vec_id <> q.query_id AND v.label <> q.anchor_label
        )
        SELECT query_id, anchor_label, rk, negative_id, negative_label, cosine
        FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY cosine DESC, negative_id) AS rk
            FROM scored
        ) t
        WHERE rk <= 5
    """,
    "similarity_label_centroids": """
        WITH ex AS (
            SELECT label,
                   generate_subscripts(embedding, 1) - 1 AS dim,
                   CAST(unnest(embedding) AS DOUBLE) AS v
            FROM embeddings
        ), cent AS (
            SELECT label, dim, avg(v) AS c FROM ex GROUP BY label, dim
        )
        SELECT label,
               round(sqrt(sum(c * c)), 6) AS centroid_norm,
               count(*) AS n_dims
        FROM cent
        GROUP BY label
    """,
}

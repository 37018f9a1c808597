"""End-to-end training-data curation pipeline (north-star composite).

One query chaining the stages a 100 TB corpus actually goes through
before training: quality gate → exact dedup → near-dup clustering →
canonical-document selection → corpus stats. Every stage is the
oracle-checked building block from its home module (text filters, hash
dedup, Jaccard pair graph, min-label components), composed into a single
lazy plan so Catalyst sees the whole thing (filters push into the scan;
the expensive pair stage runs only on the filtered+deduped survivor set).

Scale notes: the quality gate and exact dedup shrink the corpus before
any pairwise work; the pair stage here is the exact-Jaccard witness so
the driver can value-check the composite end to end — the LSH swap-in
(q_dedup_components_lsh) is the 100 TB path and is verified separately.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gasket_rs_spark import keys, store
from gasket_rs_spark.grid import snap, units
from gasket_rs_spark.operators.dedup import (
    _JACCARD_THRESHOLD,
    _components,
    _minhash_pairs,
    _minhash_sigs,
    _shingle_pairs,
    _shingles,
)
from gasket_rs_spark.operators.text import _decontam_grams, _eval_doc
from gasket_rs_spark.tables import load

_MIN_CHARS = 100
_MIN_TOKENS = 20


def _gated_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality gate (≥ _MIN_CHARS characters and ≥ _MIN_TOKENS
    whitespace tokens), then exact dedup: min doc_id per text
    (hash-keyed shuffle, text never moves)."""
    docs = load(spark, sf_dir, "documents")
    kept = docs.where(
        (F.length("text") >= _MIN_CHARS)
        & (F.size(keys.tokens()) >= _MIN_TOKENS)
    )
    exact_keep = (
        kept.groupBy(F.xxhash64("text").alias("_h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    return kept.join(exact_keep, "doc_id")


def _canonical_stats(survivors: DataFrame, pairs: DataFrame) -> DataFrame:
    """Near-dup canonical keep — min-label components of the (doc_a,
    doc_b) pair graph, one survivor (the component minimum) per cluster —
    then the per-language corpus stats of the kept training set."""
    comp = _components(survivors.select("doc_id"), pairs)
    canonical = comp.where(F.col("doc_id") == F.col("component")).select("doc_id")
    final = survivors.join(canonical, "doc_id")
    return (
        final.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            snap(F.avg(F.length("text")), 10000).alias("avg_len"),
        )
        .select("lang", "n_docs", "total_chars", "avg_len")
    )


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → quality filter → exact dedup → near-dup canonicalize →
    per-language corpus stats of the surviving training set."""
    survivors = _gated_survivors(spark, sf_dir)
    # Near-dup clustering on the (already shrunken) survivor set: exact
    # Jaccard pair graph → min-label components → keep cluster minimum.
    sh = survivors.select("doc_id", _shingles().alias("sh")).withColumn(
        "n_sh", F.size("sh")
    )
    pairs = (
        _shingle_pairs(sh)
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(F.count("*").alias("n_common"))
        .where(
            F.round(
                F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6
            )
            >= _JACCARD_THRESHOLD
        )
        .select("doc_a", "doc_b")
    )
    return _canonical_stats(survivors, pairs)


def q_curation_pipeline_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The literal 100 TB curation recipe, end to end in one lazy plan:
    quality gate → exact dedup → MinHash-LSH near-dup components →
    canonical keep → per-language corpus stats.

    Identical staging to q_curation_pipeline except the near-dup pair
    graph comes from the bucketed MinHash-LSH generator (signatures in one
    Arrow/numpy pass, 32×4 banding, exact-Jaccard verify on bucket-mates
    only) instead of the quadratic all-pairs witness — O(n·sig +
    Σ bucket²) where the witness is O(n²). Every LSH pair passes the same
    Jaccard≥0.5 verify, so the pair graph is a SUBSET of the witness's:
    components can only be finer, never merge docs the exact composite
    keeps apart. On the fixtures the two graphs are equal at every SF,
    so the witness is checked EXACT against q_curation_pipeline's
    oracle; equality-modulo-recall vs the exact composite plus a
    no-cartesian plan pin live in tests/test_curation_lsh.py.
    """
    survivors = _gated_survivors(spark, sf_dir)
    pairs = _minhash_pairs(
        _minhash_sigs(
            survivors.select("doc_id", "text").repartition(
                spark.sparkContext.defaultParallelism
            )
        )
    ).select("doc_a", "doc_b")
    return _canonical_stats(survivors, pairs)


def q_llm_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full LLM training-corpus preparation story as ONE lazy plan,
    EXACT-oracled end to end: quality gate → benchmark decontamination
    (drop docs sharing any 3-gram with the eval set) → exact dedup (min
    doc_id per identical text) → domain-mixture sampling → chunk/token
    accounting per source.

    Every stage is the oracle-checked building block from its home
    module (text/dedup/stats), composed so Catalyst sees the whole
    pipeline: the quality predicate reaches the scan; each stage shrinks
    the corpus before the next pays for it; the only corpus-wide
    shuffles are the decontamination gram aggregate, the dedup window on
    text, and the final per-source rollup. Chunk counts use integer
    (n + 47) div 48 — never float ceil, which could flap on exact
    multiples between engines."""
    docs = load(spark, sf_dir, "documents")
    n_tokens = F.size(keys.tokens())
    quality = docs.where(
        (F.col("n_chars") >= _MIN_CHARS) & (n_tokens >= _MIN_TOKENS)
    )
    # decontamination: eval grams from the RAW corpus, broadcast probe
    corpus_grams, eval_grams = _decontam_grams(docs)
    contaminated = (
        corpus_grams.join(F.broadcast(eval_grams), "gram").select("doc_id").distinct()
    )
    clean = quality.where(~_eval_doc()).join(contaminated, "doc_id", "left_anti")
    # exact dedup: survivor = min doc_id per identical text
    w = Window.partitionBy("text").orderBy("doc_id")
    deduped = (
        clean.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    # domain-mixture sampling (same md5/rate contract as
    # q_mixture_weighted_sample)
    rate = ((F.substring(F.col("source"), 4, 10).cast("int") % 4) + 1) / F.lit(4.0)
    frac1024 = keys.hex_int(F.md5(F.col("doc_id").cast("string")), 4) % 1024
    kept = deduped.where(frac1024 < rate * 1024)
    return kept.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.call_function("div", n_tokens + 47, F.lit(48))).alias("n_chunks"),
        F.sum(n_tokens.cast("bigint")).alias("n_tokens"),
    )


def q_quality_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter FUNNEL — per-rule attrition accounting, the
    diagnostic every corpus curation run ships alongside its filtered
    output (Gopher/FineWeb-style rule suites report exactly this): for
    each rule, how many documents fail it INDEPENDENTLY, and how many
    survive the rules applied CUMULATIVELY in pipeline order. Rules are
    the standard heuristic battery: min length, min word count, mean
    word length in [3, 12], alphabetic-character ratio ≥ 0.6, distinct-
    word ratio ≥ 0.3 (repetition gate).

    Scale shape: every rule is a row-local boolean computed in ONE scan
    (no per-rule passes — the funnel is a single wide aggregate over the
    flag columns), and the row-per-stage output is an explode of the
    1-row aggregate. Ratios are int/int → IEEE double, bit-identical
    cross-engine, so threshold comparisons agree exactly; the regex
    char-class is spelled identically (DuckDB needs the explicit 'g'
    flag to match Spark's replace-all default). The alpha-ratio
    denominator carries greatest(len(text), 1) on both engines: an
    empty document must read b4 = false, not raise under Spark's
    default-ANSI division (the ADVICE-r11 class)."""
    docs = load(spark, sf_dir, "documents")
    words = F.filter(keys.tokens(), lambda x: x != F.lit(""))
    n_words = F.size(words)
    n_alpha = F.length(F.regexp_replace("text", "[^A-Za-z]", ""))
    mean_wlen = F.aggregate(
        words, F.lit(0).cast("bigint"), lambda acc, x: acc + F.length(x)
    ).cast("double") / n_words
    flags = docs.select(
        (F.col("n_chars") >= 100).alias("b1"),
        (n_words >= 20).alias("b2"),
        ((mean_wlen >= 3.0) & (mean_wlen <= 12.0)).alias("b3"),
        (
            n_alpha.cast("double") / F.greatest(F.length("text"), F.lit(1))
            >= 0.6
        ).alias("b4"),
        (
            F.size(F.array_distinct(words)).cast("double") / n_words >= 0.3
        ).alias("b5"),
    )
    cnt = lambda c: F.sum(c.cast("bigint")).cast("bigint")  # noqa: E731
    agg = flags.agg(
        F.count("*").alias("n0"),
        cnt(~F.col("b1")).alias("f1"),
        cnt(~F.col("b2")).alias("f2"),
        cnt(~F.col("b3")).alias("f3"),
        cnt(~F.col("b4")).alias("f4"),
        cnt(~F.col("b5")).alias("f5"),
        cnt(F.col("b1")).alias("c1"),
        cnt(F.col("b1") & F.col("b2")).alias("c2"),
        cnt(F.col("b1") & F.col("b2") & F.col("b3")).alias("c3"),
        cnt(F.col("b1") & F.col("b2") & F.col("b3") & F.col("b4")).alias("c4"),
        cnt(
            F.col("b1") & F.col("b2") & F.col("b3") & F.col("b4") & F.col("b5")
        ).alias("c5"),
    )
    rules = ["min_chars", "min_words", "mean_word_len", "alpha_ratio", "distinct_ratio"]
    stages = F.array(
        F.struct(
            F.lit(0).alias("stage"),
            F.lit("(input)").alias("rule"),
            F.lit(0).cast("bigint").alias("n_fail_rule"),
            F.col("n0").cast("bigint").alias("n_pass_cumulative"),
        ),
        *[
            F.struct(
                F.lit(i + 1).alias("stage"),
                F.lit(rules[i]).alias("rule"),
                F.col(f"f{i + 1}").alias("n_fail_rule"),
                F.col(f"c{i + 1}").alias("n_pass_cumulative"),
            )
            for i in range(5)
        ],
    )
    return agg.select(F.explode(stages).alias("s")).select(
        "s.stage", "s.rule", "s.n_fail_rule", "s.n_pass_cumulative"
    )


# keep at most 60% (= _CAP_NUM/_CAP_DEN) of the largest domain's count.
# Kept as an exact integer ratio, never a float literal: ceil(n * 0.6)
# computed in IEEE doubles on Spark vs DECIMAL(2,1) in DuckDB can disagree
# exactly when n*0.6 lands on an integer (ADVICE r10) — so both engines
# compute ceil(n·3/5) as (n*3 + 4) DIV 5 in pure int64 arithmetic.
_CAP_NUM = 3
_CAP_DEN = 5


def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document capping — the web-corpus curation step that
    stops a handful of giant domains from dominating the mixture (C4,
    RefinedWeb, FineWeb all apply a per-domain cap before sampling):
    every source keeps at most ``ceil(3/5 · max domain size)`` documents
    (computed as ``(n*3 + 4) DIV 5`` in int64 on BOTH engines — never a
    float/DECIMAL ``0.6`` literal, whose rounding grids differ),
    chosen in deterministic md5(doc_id) priority order — the same
    engine-independent pseudo-random order as the reservoir/shard
    witnesses, so the SELECTION (not just the count) is reproducible
    across runs, engines, and re-ingests; kept_docid_sum pins exact
    membership at the driver.

    The cap is data-derived (a fraction of the LARGEST domain) so it
    stays binding at every SF regardless of fixture growth — a fixed
    count would degenerate to a no-op as SF grows.

    Scale shape: one count agg for the cap (broadcast 1-row), one
    row_number window PARTITIONED by source (parallel per-domain sort of
    n/|domains| rows — never a global one), one final per-source agg.
    At 100 TB the md5 sort key is computed in-scan (whole-stage codegen)
    and the window shuffle is the only corpus-sized exchange."""
    docs = load(spark, sf_dir, "documents").select("source", "doc_id")
    cap = docs.groupBy("source").agg(F.count("*").alias("n")).agg(
        # integer-exact ceil(max_n · 3/5): (n*3 + 4) DIV 5 — identical
        # int64 arithmetic on both engines, no float/DECIMAL grid
        F.expr(
            f"CAST((max(n) * {_CAP_NUM} + {_CAP_DEN - 1}) DIV {_CAP_DEN}"
            " AS BIGINT)"
        ).alias("cap")
    )
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    ranked = docs.withColumn("rn", F.row_number().over(w))
    return (
        ranked.crossJoin(F.broadcast(cap))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_total"),
            F.sum(F.when(F.col("rn") <= F.col("cap"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
            F.sum(F.when(F.col("rn") <= F.col("cap"), F.col("doc_id")))
            .cast("bigint")
            .alias("kept_docid_sum"),
        )
    )


_DSIR_B = 1024  # hashed feature buckets (unigram+bigram -> md5 % B)
_DSIR_K = 200  # resample size (Gumbel top-k)
_DSIR_TARGET_LANG = "en"  # target distribution: the English slice
_DSIR_U_DEN = 281474976710658.0  # 2^48 + 2: md5-48bit -> open-interval u


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling"):
    select raw-corpus documents that look like a TARGET distribution by
    (1) hashed n-gram features, (2) per-feature log-likelihood ratio
    between target and raw bag-of-feature models (add-1 smoothed),
    (3) per-doc importance log-weights, (4) Gumbel top-k resampling
    without replacement. Target here = the corpus' English slice; the
    published use case is "select web text that looks like Wikipedia".

    Determinism engineering: features are md5-hash-bucketed (engine-
    independent, unlike xxhash/duckdb-hash); each feature's log-ratio is
    snapped to int64 MICRO-UNITS so the per-doc sum Σ c_f·λ_f runs in
    exact integer arithmetic (float-sum order can differ between
    engines); the Gumbel noise g = -ln(-ln(u)) uses md5(doc_id:dsir)
    48-bit uniforms on an open interval and is 6dp-snapped before the
    key addition. Ties are impossible up to the doc_id tiebreak.

    Scale shape: one corpus explode (≈2L features/doc), a
    groupBy(doc_id, feature) count (map-side combinable), ONE bounded
    B-row feature table (B = 1024 regardless of corpus size) broadcast
    back, an integer weighted sum per doc, and a global top-k that
    compiles to TakeOrderedAndProject (plan-pinned) — no corpus-sized
    sort, no driver loop. At 100 TB: identical, with B raised to ~1e5
    (still broadcast-sized)."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "lang",
        F.filter(keys.tokens(), lambda x: x != "").alias("ts"),
    )
    grams = toks.select(
        "doc_id",
        "lang",
        F.explode(F.concat(F.col("ts"), keys.grams(F.col("ts"), 2))).alias("g"),
    )
    # dc feeds TWO consumers — the feature table (under lam's broadcast
    # subtree) and the per-doc weighted sum — so without materialization
    # the corpus explode + per-gram md5 ran twice (§2.4
    # pruning-defeats-reuse). Lazy: one materialization per action (r21
    # interleaved A/B min 2.132 → 1.568 s at sf0.1, identical rows).
    dc = store.materialize(
        grams.select(
            "doc_id",
            "lang",
            (keys.hex_int(F.md5("g"), 4) % _DSIR_B).alias("f"),
        )
        .groupBy("doc_id", "lang", "f")
        .agg(F.count("*").cast("bigint").alias("c")),
        "curation.dsir_counts", eager=False,
    )
    ft = dc.groupBy("f").agg(
        F.sum(F.when(F.col("lang") == _DSIR_TARGET_LANG, F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("ct"),
        F.sum("c").cast("bigint").alias("cr"),
    )
    tot = ft.agg(
        F.sum("ct").cast("bigint").alias("tt"),
        F.sum("cr").cast("bigint").alias("tr"),
    )
    lam = ft.crossJoin(F.broadcast(tot)).select(
        "f",
        units(
            F.log(
                (F.col("ct") + 1).cast("double")
                / (F.col("tt") + _DSIR_B).cast("double")
            )
            - F.log(
                (F.col("cr") + 1).cast("double")
                / (F.col("tr") + _DSIR_B).cast("double")
            )
        ).alias("lam6"),
    )
    dw = (
        dc.join(F.broadcast(lam), "f")
        .groupBy("doc_id")
        .agg(F.sum(F.col("c") * F.col("lam6")).cast("bigint").alias("logw6"))
    )
    u = (
        keys.hex_int(F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":dsir"))), 12)
        .cast("double")
        + F.lit(1.0)
    ) / F.lit(_DSIR_U_DEN)
    g = snap(-F.log(-F.log(u)))
    keyed = dw.select(
        "doc_id",
        (F.col("logw6") / 1e6).alias("log_weight"),
        g.alias("gumbel"),
    )
    return (
        keyed.join(docs.select("doc_id", "lang", "source"), "doc_id")
        .select(
            "doc_id",
            "lang",
            "source",
            "log_weight",
            (F.col("log_weight") + F.col("gumbel")).alias("sel_key"),
        )
        .orderBy(F.col("sel_key").desc(), "doc_id")
        .limit(_DSIR_K)
    )


_LQC_BUCKETS = 64


def _lqc_weights() -> list[int]:
    """Pseudo-trained per-bucket weights in [-500, 499], derived from
    md5 of the bucket index in PYTHON so both engines consume identical
    literal ints (the JL-signs convention). Production replaces these
    with real logistic-regression weights; the Spark plumbing — hashed
    features, row-local dot product, thresholded keep — is the same."""
    import hashlib

    return [
        int(hashlib.md5(f"w{b}".encode()).hexdigest()[:4], 16) % 1000 - 500
        for b in range(_LQC_BUCKETS)
    ]


def q_linear_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FastText-style linear quality classifier applied at corpus
    scale: score(doc) = Σ_tokens w[h(token) mod 64] with a literal
    weight table, keep iff score > 0 — the hashed-bag-of-words scorer
    behind CCNet/fastText-quality filtering, minus the training (the
    weight table is a deterministic md5 fixture; see _lqc_weights).

    Per language: docs, kept docs, total score, keep-rate in
    micro-units. Determinism: weights and scores are pure int64; the
    per-token bucket is the engine-identical md5-hex-prefix integer.

    Scale: scoring is ROW-LOCAL — one higher-order fold over the
    token array inside whole-stage codegen (no explode shuffle, no
    UDF); the only exchange is the |langs|-row final aggregate. At
    100 TB this is the cheapest possible classifier pass: one scan,
    one narrow map."""
    warr = F.array(*[F.lit(w) for w in _lqc_weights()])
    score = F.aggregate(
        keys.tokens(),
        F.lit(0).cast("bigint"),
        lambda acc, t: acc
        + F.element_at(
            F.col("warr"), (keys.hex_int(F.md5(t), 4) % _LQC_BUCKETS).cast("int") + 1
        ),
    )
    docs = load(spark, sf_dir, "documents").withColumn(
        "warr", warr
    ).select("lang", score.alias("score"))
    return (
        docs.groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum((F.col("score") > 0).cast("bigint")).cast("bigint").alias("n_keep"),
            F.sum("score").cast("bigint").alias("sum_score"),
        )
        .withColumn("keep6", F.expr("n_keep * 1000000 div n_docs").cast("bigint"))
        .orderBy("lang")
    )


def _lqc_oracle() -> str:
    warr = "[" + ", ".join(str(w) for w in _lqc_weights()) + "]"
    return f"""
        WITH scored AS (
            SELECT lang,
                   CAST(list_sum(list_transform(string_split(text, ' '),
                        t -> {warr}[CAST(('0x' || substr(md5(t), 1, 4))::BIGINT
                                         % {_LQC_BUCKETS} AS INT) + 1]))
                        AS BIGINT) AS score
            FROM documents
        )
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN score > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_keep,
               CAST(sum(score) AS BIGINT) AS sum_score,
               CAST(sum(CASE WHEN score > 0 THEN 1 ELSE 0 END) * 1000000
                    // count(*) AS BIGINT) AS keep6
        FROM scored
        GROUP BY lang
        ORDER BY lang
    """


_APPORTION_SHARDS = 360  # total output shards to apportion across sources


def q_mixture_apportionment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LARGEST-REMAINDER (Hamilton) apportionment of a fixed shard
    budget across sources — the writer-side twin of the mixture
    policies: given per-source doc counts and a 360-shard budget, each
    source gets floor(n_i·S/N) shards plus one bonus shard for the
    largest fractional remainders until the budget is exact. This is
    how a layout planner turns fractional mixture weights into an
    integer shard manifest with Σ shards ≡ S (no rounding drift).

    Pure int64 arithmetic (quota numerators, remainders, ranks);
    remainder ties break by source name on both engines. Scale: one
    corpus pass → bounded source frame; the remainder ranking runs via
    sort_array over the collected ≤k-row struct list (the
    shard_balance_audit bounded-rank pattern — no single-partition
    window on the Spark side)."""
    docs = load(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs")
    )
    tot = counts.agg(F.sum("n_docs").cast("bigint").alias("n_total"))
    quota = counts.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        F.expr(f"n_docs * {_APPORTION_SHARDS} div n_total")
        .cast("bigint")
        .alias("base"),
        F.expr(f"(n_docs * {_APPORTION_SHARDS}) % n_total")
        .cast("bigint")
        .alias("rem"),
    )
    one = quota.agg(
        F.sum("base").cast("bigint").alias("base_sum"),
        F.sort_array(
            F.collect_list(
                F.struct(
                    (-F.col("rem")).alias("nr"),
                    F.col("source").alias("source"),
                    F.col("n_docs").alias("n_docs"),
                    F.col("base").alias("base"),
                    F.col("rem").alias("rem"),
                )
            )
        ).alias("arr"),
    )
    return (
        one.select("base_sum", F.posexplode("arr").alias("pos", "s"))
        .select(
            F.col("s.source").alias("source"),
            F.col("s.n_docs").alias("n_docs"),
            F.col("s.base").alias("base_shards"),
            F.col("s.rem").alias("rem_num"),
            (
                F.col("s.base")
                + F.when(
                    F.col("pos") < F.lit(_APPORTION_SHARDS) - F.col("base_sum"), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("shards"),
        )
        .orderBy("source")
    )


ORACLES: dict[str, str] = {
    "mixture_apportionment": f"""
        WITH counts AS (
            SELECT source, CAST(count(*) AS BIGINT) AS n_docs
            FROM documents GROUP BY 1
        ), tot AS (
            SELECT CAST(sum(n_docs) AS BIGINT) AS n_total FROM counts
        ), quota AS (
            SELECT source, n_docs,
                   CAST(n_docs * {_APPORTION_SHARDS} // n_total AS BIGINT)
                       AS base,
                   CAST((n_docs * {_APPORTION_SHARDS}) % n_total AS BIGINT)
                       AS rem
            FROM counts CROSS JOIN tot
        ), ranked AS (
            SELECT *,
                   row_number() OVER (ORDER BY rem DESC, source) AS rk,
                   CAST(sum(base) OVER () AS BIGINT) AS base_sum
            FROM quota
        )
        SELECT source, n_docs, base AS base_shards, rem AS rem_num,
               CAST(base + CASE WHEN rk <= {_APPORTION_SHARDS} - base_sum
                                THEN 1 ELSE 0 END AS BIGINT) AS shards
        FROM ranked ORDER BY source
    """,
    "linear_quality_classifier": _lqc_oracle(),
    "dsir_select": f"""
        WITH toks AS (
            SELECT doc_id, lang,
                   list_filter(string_split(text, ' '), x -> x <> '') AS ts
            FROM documents
        ), grams AS (
            SELECT doc_id, lang, unnest(ts) AS g FROM toks
            UNION ALL
            SELECT doc_id, lang,
                   unnest(list_transform(range(1, len(ts)),
                                         i -> ts[i] || ' ' || ts[i + 1])) AS g
            FROM toks
        ), dc AS (
            SELECT doc_id, lang,
                   ('0x' || substr(md5(g), 1, 4))::BIGINT % {_DSIR_B} AS f,
                   CAST(count(*) AS BIGINT) AS c
            FROM grams GROUP BY 1, 2, 3
        ), ft AS (
            SELECT f,
                   CAST(sum(CASE WHEN lang = '{_DSIR_TARGET_LANG}'
                            THEN c ELSE 0 END) AS BIGINT) AS ct,
                   CAST(sum(c) AS BIGINT) AS cr
            FROM dc GROUP BY f
        ), tot AS (
            SELECT CAST(sum(ct) AS BIGINT) AS tt,
                   CAST(sum(cr) AS BIGINT) AS tr
            FROM ft
        ), lam AS (
            SELECT f,
                   CAST(floor((ln(CAST(ct + 1 AS DOUBLE)
                                  / CAST(tt + {_DSIR_B} AS DOUBLE))
                               - ln(CAST(cr + 1 AS DOUBLE)
                                    / CAST(tr + {_DSIR_B} AS DOUBLE)))
                              * 1e6 + 0.5) AS BIGINT) AS lam6
            FROM ft CROSS JOIN tot
        ), dw AS (
            SELECT d.doc_id, CAST(sum(d.c * l.lam6) AS BIGINT) AS logw6
            FROM dc d JOIN lam l USING (f)
            GROUP BY d.doc_id
        ), keyed AS (
            SELECT doc_id, logw6 / 1e6 AS log_weight,
                   floor((-ln(-ln((CAST(('0x' || substr(
                           md5(CAST(doc_id AS VARCHAR) || ':dsir'), 1, 12))
                           ::BIGINT AS DOUBLE) + 1.0) / {_DSIR_U_DEN!r})))
                         * 1e6 + 0.5) / 1e6 AS gumbel
            FROM dw
        )
        SELECT k.doc_id, d.lang, d.source, k.log_weight,
               k.log_weight + k.gumbel AS sel_key
        FROM keyed k JOIN documents d USING (doc_id)
        ORDER BY sel_key DESC, k.doc_id
        LIMIT {_DSIR_K}
    """,
    "quality_filter_funnel": """
        WITH flags AS (
            SELECT n_chars >= 100 AS b1,
                   nw >= 20 AS b2,
                   (mwl >= 3.0 AND mwl <= 12.0) AS b3,
                   na / CAST(greatest(len(text), 1) AS DOUBLE) >= 0.6 AS b4,
                   nd / CAST(nw AS DOUBLE) >= 0.3 AS b5
            FROM (
                SELECT text, n_chars,
                       len(list_filter(string_split(text, ' '), x -> x <> ''))
                           AS nw,
                       CAST(list_sum(list_transform(
                           list_filter(string_split(text, ' '), x -> x <> ''),
                           x -> len(x))) AS DOUBLE)
                       / len(list_filter(string_split(text, ' '), x -> x <> ''))
                           AS mwl,
                       len(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS na,
                       len(list_distinct(list_filter(string_split(text, ' '),
                                                     x -> x <> ''))) AS nd
                FROM documents
            )
        ), a AS (
            SELECT CAST(count(*) AS BIGINT) AS n0,
                   CAST(sum(CASE WHEN NOT b1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
                   CAST(sum(CASE WHEN NOT b2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
                   CAST(sum(CASE WHEN NOT b3 THEN 1 ELSE 0 END) AS BIGINT) AS f3,
                   CAST(sum(CASE WHEN NOT b4 THEN 1 ELSE 0 END) AS BIGINT) AS f4,
                   CAST(sum(CASE WHEN NOT b5 THEN 1 ELSE 0 END) AS BIGINT) AS f5,
                   CAST(sum(CASE WHEN b1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
                   CAST(sum(CASE WHEN b1 AND b2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
                   CAST(sum(CASE WHEN b1 AND b2 AND b3 THEN 1 ELSE 0 END)
                        AS BIGINT) AS c3,
                   CAST(sum(CASE WHEN b1 AND b2 AND b3 AND b4 THEN 1 ELSE 0 END)
                        AS BIGINT) AS c4,
                   CAST(sum(CASE WHEN b1 AND b2 AND b3 AND b4 AND b5
                            THEN 1 ELSE 0 END) AS BIGINT) AS c5
            FROM flags
        )
        SELECT 0 AS stage, '(input)' AS rule,
               CAST(0 AS BIGINT) AS n_fail_rule, n0 AS n_pass_cumulative FROM a
        UNION ALL SELECT 1, 'min_chars', f1, c1 FROM a
        UNION ALL SELECT 2, 'min_words', f2, c2 FROM a
        UNION ALL SELECT 3, 'mean_word_len', f3, c3 FROM a
        UNION ALL SELECT 4, 'alpha_ratio', f4, c4 FROM a
        UNION ALL SELECT 5, 'distinct_ratio', f5, c5 FROM a
    """,
    "domain_cap": f"""
        WITH cap AS (
            -- integer-exact ceil(max_n * {_CAP_NUM}/{_CAP_DEN}), matching
            -- the Spark side's (n*{_CAP_NUM} + {_CAP_DEN - 1}) DIV {_CAP_DEN}
            SELECT CAST((max(n) * {_CAP_NUM} + {_CAP_DEN - 1}) // {_CAP_DEN}
                        AS BIGINT) AS cap
            FROM (SELECT count(*) AS n FROM documents GROUP BY source)
        ), ranked AS (
            SELECT source, doc_id,
                   row_number() OVER (
                       PARTITION BY source
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                   ) AS rn
            FROM documents
        )
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_total,
               CAST(sum(CASE WHEN rn <= cap THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_kept,
               CAST(sum(CASE WHEN rn <= cap THEN doc_id END) AS BIGINT)
                   AS kept_docid_sum
        FROM ranked CROSS JOIN cap
        GROUP BY source
    """,
    "llm_corpus_pipeline": """
        WITH base AS (
            SELECT doc_id, text, source, n_chars,
                   len(string_split(text, ' ')) AS n_tokens
            FROM documents
        ), quality AS (
            SELECT * FROM base WHERE n_chars >= 100 AND n_tokens >= 20
        ), toks AS (
            SELECT doc_id,
                   unnest(string_split(text, ' ')) AS tok,
                   generate_subscripts(string_split(text, ' '), 1) AS pos
            FROM documents
        ), grams AS (
            SELECT DISTINCT a.doc_id, a.tok || ' ' || b.tok || ' ' || c.tok AS gram
            FROM toks a
            JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
            JOIN toks c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
        ), eval_grams AS (
            SELECT DISTINCT gram FROM grams WHERE doc_id % 53 = 0
        ), contaminated AS (
            SELECT DISTINCT g.doc_id
            FROM grams g JOIN eval_grams e ON g.gram = e.gram
            WHERE g.doc_id % 53 <> 0
        ), clean AS (
            SELECT q.* FROM quality q
            WHERE q.doc_id % 53 <> 0
              AND NOT EXISTS (SELECT 1 FROM contaminated c WHERE c.doc_id = q.doc_id)
        ), deduped AS (
            SELECT * FROM (
                SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
                FROM clean
            ) t WHERE rn = 1
        ), kept AS (
            SELECT * FROM deduped
            WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 1024
                  < ((CAST(substr(source, 4) AS INT) % 4 + 1) / 4.0) * 1024
        )
        SELECT source,
               count(*) AS n_docs,
               CAST(sum((n_tokens + 47) // 48) AS BIGINT) AS n_chunks,
               CAST(sum(n_tokens) AS BIGINT) AS n_tokens
        FROM kept
        GROUP BY source
    """,
    "curation_pipeline": """
        WITH kept AS (
            SELECT doc_id, text, lang, n_chars
            FROM documents
            WHERE length(text) >= 100 AND len(string_split(text, ' ')) >= 20
        ), exact_keep AS (
            SELECT min(doc_id) AS doc_id FROM kept GROUP BY text
        ), survivors AS (
            SELECT k.* FROM kept k JOIN exact_keep e ON k.doc_id = e.doc_id
        ), sh AS (
            SELECT doc_id,
                   list_distinct(list_transform(
                       range(1, len(string_split(text, ' ')) - 1),
                       i -> string_split(text, ' ')[i] || ' ' ||
                            string_split(text, ' ')[i+1] || ' ' ||
                            string_split(text, ' ')[i+2]
                   )) AS shingles
            FROM survivors
        ), ex AS (
            SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS shingle FROM sh
        ), pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id, a.n_sh, b.n_sh
            HAVING round(count(*) * 1.0 / (a.n_sh + b.n_sh - count(*)), 6) >= 0.5
        ), edges AS (
            SELECT doc_a, doc_b FROM pairs
            UNION ALL
            SELECT doc_b, doc_a FROM pairs
        ), reach AS (
            WITH RECURSIVE r(id, target) AS (
                SELECT doc_id, doc_id FROM survivors
                UNION
                SELECT e.doc_a, r.target FROM r JOIN edges e ON e.doc_b = r.id
            )
            SELECT * FROM r
        ), comp AS (
            SELECT id AS doc_id, min(target) AS component FROM reach GROUP BY id
        ), final AS (
            SELECT s.* FROM survivors s JOIN comp c
              ON s.doc_id = c.doc_id AND s.doc_id = c.component
        )
        SELECT lang,
               count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               floor(avg(length(text)) * 10000 + 0.5) / 10000 AS avg_len
        FROM final
        GROUP BY lang
    """,
}
# The LSH pair graph equals the exact one on the fixtures.
ORACLES["curation_pipeline_lsh"] = ORACLES["curation_pipeline"]

"""Text-analysis operators over the ``documents`` table (SURVEY.md §2.2 X27
plus the mandated training-data-pipeline text ops: language-ID, quality
scoring, token counting, document fingerprinting).

All tokenization is ``keys.tokens`` + ``explode``/higher-order functions —
JVM-side, codegen-friendly. Nothing here leaves the JVM; at 100 TB these are
narrow projections plus one hash-partitioned aggregation each.

The driver's documents corpus is whitespace-tokenized lowercase text, so
``split(text, ' ')`` IS the tokenizer; the BPE-ish regex counter shows the
regex path used for real corpora.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gasket_rs_spark import keys, store
from gasket_rs_spark.grid import snap, units
from gasket_rs_spark.tables import load

# Marker tokens for the heuristic language scorer: English function words.
# (The synthetic corpus shares one vocabulary across langs; the witness
# demonstrates deterministic marker-ratio scoring, not real lang-ID.)
_EN_MARKERS = ("the", "a")


def _w1_w2(a, b):
    """A bigram as its (w1, w2) tokens: the ``pair`` of ``keys.grams``."""
    return F.struct(a.alias("w1"), b.alias("w2"))


def q_text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global term frequencies: tokenize → explode → hash-agg count."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(keys.tokens()).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
    )


def q_text_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token stats: counts, distinct, type-token ratio."""
    docs = load(spark, sf_dir, "documents")
    toks = keys.tokens()
    return docs.select(
        "doc_id",
        "lang",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_distinct"),
        snap(F.size(F.array_distinct(toks)) / F.size(toks), 1000000).alias("ttr"),
        F.length("text").cast("bigint").alias("n_chars_computed"),
    )


def q_text_stats_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus breakdown by language label."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            F.round(F.avg(F.size(keys.tokens())), 4).alias("avg_tokens"),
            F.countDistinct("source").alias("n_sources"),
        )
    )


def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: ratio of English marker tokens per doc."""
    docs = load(spark, sf_dir, "documents")
    toks = keys.tokens()
    markers = F.filter(toks, lambda t: t.isin(*_EN_MARKERS))
    ratio = F.size(markers) / F.size(toks)
    return docs.select(
        "doc_id",
        "lang",
        snap(ratio, 1000000).alias("marker_ratio"),
        F.when(ratio >= 0.08, F.lit("en")).otherwise(F.lit("other")).alias("pred_lang"),
    )


def q_lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation as a query: the heuristic language-ID's
    confusion matrix against the labeled lang column, with per-cell
    share of the true class — the precision/recall raw material every
    model-in-the-loop pipeline monitors. Binarized truth ('en' vs
    'other') matches the predictor's output space; int/int shares
    floor-snapped."""
    docs = load(spark, sf_dir, "documents")
    toks = keys.tokens()
    markers = F.filter(toks, lambda t: t.isin(*_EN_MARKERS))
    ratio = F.size(markers) / F.size(toks)
    labeled = docs.select(
        F.when(F.col("lang") == "en", F.lit("en")).otherwise(F.lit("other")).alias("true_lang"),
        F.when(ratio >= 0.08, F.lit("en")).otherwise(F.lit("other")).alias("pred_lang"),
    )
    cells = labeled.groupBy("true_lang", "pred_lang").agg(F.count("*").alias("n"))
    class_tot = labeled.groupBy("true_lang").agg(F.count("*").alias("class_n"))
    return cells.join(class_tot, "true_lang").select(
        "true_lang",
        "pred_lang",
        "n",
        snap(F.col("n") / F.col("class_n")).alias(
            "share_of_true"
        ),
    )


def q_text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length, mean token length, stopword ratio → score.

    Mirrors the usual pretraining-corpus filters (length bounds, symbol /
    stopword ratios) with a deterministic arithmetic combination.
    """
    docs = load(spark, sf_dir, "documents")
    toks = keys.tokens()
    n_tokens = F.size(toks)
    stop_ratio = F.size(F.filter(toks, lambda t: t.isin(*_EN_MARKERS))) / n_tokens
    mean_tok_len = (F.length("text") - (n_tokens - 1)) / n_tokens
    score = (
        F.least(n_tokens / 50.0, F.lit(1.0)) * 0.5
        + (1.0 - F.least(stop_ratio * 4.0, F.lit(1.0))) * 0.3
        + F.least(mean_tok_len / 8.0, F.lit(1.0)) * 0.2
    )
    return docs.select(
        "doc_id",
        n_tokens.cast("bigint").alias("n_tokens"),
        snap(stop_ratio, 1000000).alias("stop_ratio"),
        snap(mean_tok_len, 1000000).alias("mean_tok_len"),
        snap(score, 1000000).alias("quality_score"),
        (score >= 0.5).alias("keep"),
    )


def q_text_token_regex_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex token counting (letters / digits / other runs)."""
    docs = load(spark, sf_dir, "documents")
    pat = "[a-z]+|[0-9]+"
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(pat), 0)).cast("bigint").alias("n_regex_tokens"),
        F.size(keys.tokens()).cast("bigint").alias("n_ws_tokens"),
    )


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional rolling-hash document fingerprint.

    fp = sum_i( i * (31*len(tok_i) + unicode(tok_i[0])) ) mod 2^31-1, with
    i 1-based. Cheap, deterministic, order-sensitive — and expressible in
    both engines (posexplode ↔ generate_subscripts), so the oracle checks
    values exactly. Real deployments would swap in xxhash64 per token; the
    shape (explode → weighted sum → mod) is identical.
    """
    docs = load(spark, sf_dir, "documents")
    exploded = docs.select("doc_id", F.posexplode(keys.tokens()).alias("pos", "tok"))
    term = (F.col("pos") + 1) * (
        F.length("tok") * 31 + F.ascii(F.substring("tok", 1, 1))
    )
    return (
        exploded.groupBy("doc_id")
        .agg((F.sum(term.cast("bigint")) % F.lit(2147483647)).alias("fingerprint"))
    )


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition signals per document — the Gopher-style quality filter
    for degenerate/templated text: distinct-token ratio and the share of
    the most frequent bigram in all bigram slots. High top-bigram share
    means looping/boilerplate generation; training pipelines drop or
    down-weight those docs.

    Plan shape: one narrow projection computes n_tokens/distinct ratio
    from the token array in place (no explode); bigrams explode once and
    hash-aggregate per (doc, bigram) then per doc — two partial-agg
    shuffles keyed by doc_id, no window, no UDF. Bigrams keep duplicates
    (``keys.grams`` without distinct — counting repeats IS the point,
    unlike the dedup module's shingle sets).
    """
    docs = load(spark, sf_dir, "documents")
    toks = keys.tokens()
    base = docs.select(
        "doc_id",
        toks.alias("toks"),
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
    ).where(F.col("n_tokens") >= 2)
    bigrams = base.select(
        "doc_id", F.explode(keys.grams(F.col("toks"), 2)).alias("bigram")
    )
    per_doc = (
        bigrams.groupBy("doc_id", "bigram")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("mx"), F.sum("c").alias("nb"))
    )
    return (
        base.join(per_doc, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            (
                F.floor(F.col("n_distinct") * 1000000.0 / F.col("n_tokens") + 0.5)
                / 1000000
            ).alias("distinct_ratio"),
            (F.floor(F.col("mx") * 1000000.0 / F.col("nb") + 0.5) / 1000000).alias(
                "top_bigram_frac"
            ),
        )
    )


def q_text_tfidf_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF: top-scoring token per document.

    tf = in-doc count, idf = ln(N / df) with df = docs containing the
    token. Two hash aggregations plus an idf join. The idf side is NOT
    force-broadcast: a web-scale corpus's vocabulary (typos, numbers,
    code) can exceed any broadcast threshold, so the join strategy is
    left to AQE — it picks broadcast when the measured df table is small
    (asserted at test SF in tests/test_plans.py) and degrades to a
    shuffle join instead of OOMing when it isn't. N arrives via a
    broadcast 1-row count aggregate folded into the plan — no separate
    driver-side count job.
    """
    docs = load(spark, sf_dir, "documents")
    n_df = docs.agg(F.count("*").alias("n_docs"))
    tokens = docs.select("doc_id", F.explode(keys.tokens()).alias("token"))
    tf = tokens.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    # df derived FROM tf instead of a second explode+distinct branch over
    # the raw tokens: tf has exactly one row per (doc_id, token), so
    # counting tf rows per token IS the document frequency (r21; guide
    # §2.4). ReuseExchange alone cannot fuse the two consumers — column
    # pruning drops the tf count from the df branch's copy of the
    # subtree, making the exchanges physically different — so tf is
    # shared through a lazy checkpoint, the same
    # single-scan-composite pattern as rag_retrieval_pipeline. Under
    # adaptive execution building it still runs tf's shuffle-map stage
    # (2 build-time jobs for text_tfidf_top at sf0.1, counted by job
    # group); the action computes its final stage once. Plan: 2 scans +
    # 2 explodes → 1 scan + 1 explode; measured interleaved at sf0.1 min 0.515 s vs
    # 0.842 s, identical rows; oracle EXACT ×3 SFs.
    tf = store.materialize(tf, "text.tfidf_tf", eager=False)
    df_ = tf.groupBy("token").agg(F.count("*").alias("df"))
    from pyspark.sql import Window

    scored = (
        tf.join(df_, "token")
        .crossJoin(F.broadcast(n_df))
        .withColumn(
            "tfidf",
            F.round(F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("token"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("doc_id", "token", "tf", "df", "tfidf")
    )


_HH_K = 30


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters (tokens with global share > 1/k) via the
    two-pass Misra-Gries pattern — sketch candidates, then exact verify.

    Pass 1: per-partition Misra-Gries summaries with k−1 counters in one
    ``mapInPandas`` sweep (the iterator spans the partition, so counters
    persist across Arrow batches). Union-of-candidates guarantee by an
    averaging argument: a token with global share > 1/k must have local
    share > 1/k in at least one partition, where MG provably retains it —
    so candidates ⊇ truth and the exact recount (a broadcast-filtered
    aggregation, pass 2) makes the final answer EXACT, not approximate.
    Candidate volume is ≤ (k−1) × partitions regardless of corpus size —
    the sketch is what makes pass 2's broadcast safe at 100 TB.
    """
    docs = load(spark, sf_dir, "documents")
    tokens = docs.select(F.explode(keys.tokens()).alias("token"))

    def mg(batches):
        # Vectorized MG via the mergeable-summaries formulation (Agarwal
        # et al.): each Arrow batch's value_counts() is an error-free
        # summary; merging = pointwise add, then if more than k−1
        # counters survive, subtract the k-th largest count from all and
        # drop non-positives. Every subtraction of c removes ≥ k·c total
        # mass, so cumulative undercount ≤ n/k — a token with local share
        # > 1/k still ends positive, preserving the union-of-candidates
        # guarantee. Replaces the round-5 per-token Python loop
        # (interpreter-speed over the full corpus) with one value_counts
        # + one nlargest per Arrow batch.
        import pandas as pd

        counters = pd.Series(dtype="int64")
        for pdf in batches:
            counters = counters.add(pdf["token"].value_counts(), fill_value=0)
            if len(counters) > _HH_K - 1:
                kth = counters.nlargest(_HH_K).iloc[-1]
                counters = counters[counters > kth] - kth
        yield pd.DataFrame({"token": counters.index.astype(str)})

    candidates = tokens.mapInPandas(mg, "token string").distinct()
    total = tokens.agg(F.count("*").alias("total"))
    return (
        tokens.join(F.broadcast(candidates), "token")
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .crossJoin(F.broadcast(total))
        .where(F.col("cnt") > F.col("total") / _HH_K)
        .select(
            "token",
            "cnt",
            snap(F.col("cnt") / F.col("total"), 1000000).alias(
                "share"
            ),
        )
    )


_VOCAB_SIZE = 20


def q_text_vocab_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage: build the top-V global vocabulary (by term
    frequency, token tiebreak), then per-document out-of-vocabulary token
    rate — the tokenizer-fit diagnostic run before committing to a vocab.

    The top-V selection is orderBy+limit — TakeOrderedAndProject (per-
    partition heap + driver merge of V rows), NOT a global sort or an
    unpartitioned window; the V-row vocabulary broadcasts back onto the
    token stream. V is small here because the synthetic corpus has ~31
    distinct tokens; the plan shape is V-independent.
    """
    docs = load(spark, sf_dir, "documents")
    tokens = docs.select("doc_id", F.explode(keys.tokens()).alias("token"))
    vocab = (
        tokens.groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "token")
        .limit(_VOCAB_SIZE)
        .select("token", F.lit(1).alias("in_vocab"))
    )
    return (
        tokens.join(F.broadcast(vocab), "token", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_oov"),
        )
        .withColumn(
            "oov_rate",
            snap(F.col("n_oov") / F.col("n_tokens"), 1000000),
        )
    )


_CHUNK_TOKENS = 64
_CHUNK_STRIDE = 48


def q_text_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size token chunking with overlap — the pre-tokenization step
    every LLM training pipeline runs before packing.

    Chunk i covers tokens [i·stride, i·stride + chunk); starts run while
    i·stride < n, so every token is covered and consecutive chunks
    overlap by chunk − stride = 16 tokens. Same transform-over-sequence +
    slice shape as the shingle builder (JVM higher-order fns, narrow
    map); output volume is ~chunk/stride ≈ 1.33× the corpus tokens,
    which is the operator's intrinsic cost at any scale.
    """
    docs = load(spark, sf_dir, "documents")
    toks = keys.tokens()
    starts = F.sequence(
        F.lit(0), F.floor((F.size(toks) - 1) / _CHUNK_STRIDE).cast("int")
    )
    chunks = F.transform(
        starts,
        lambda i: F.concat_ws(
            " ", F.slice(toks, i * _CHUNK_STRIDE + 1, _CHUNK_TOKENS)
        ),
    )
    return (
        docs.select("doc_id", F.posexplode(chunks).alias("chunk_id", "chunk_text"))
        .select(
            "doc_id",
            F.col("chunk_id").cast("bigint").alias("chunk_id"),
            "chunk_text",
            F.size(keys.tokens("chunk_text")).cast("bigint").alias("n_tokens"),
        )
    )


_PACK_BUDGET = 2048
_PACK_BUCKETS = 64


def _with_md5_key(df: DataFrame, key: str, n: int) -> DataFrame:
    """``df`` (holding an md5 hex column ``h``) plus ``key`` = its first
    md5 byte mod ``n`` — the deterministic shuffle of the packers."""
    return df.withColumn(key, keys.hex_int("h", 2) % n)


def _doc_tokens(docs: DataFrame, key: str, n: int) -> DataFrame:
    """(doc_id, n_tokens, h = md5(doc_id), ``key``) per document."""
    h = F.md5(F.col("doc_id").cast("string"))
    return _with_md5_key(
        docs.select("doc_id", F.size(keys.tokens()).cast("bigint").alias("n_tokens"), h.alias("h")),
        key,
        n,
    )


def _running_tokens(base: DataFrame, key: str, *ids: str) -> DataFrame:
    """``base`` plus ``cum``: the inclusive running n_tokens within each
    ``key`` in (h, *ids) order — one window partitioned by ``key``."""
    w = (
        Window.partitionBy(key)
        .orderBy("h", *ids)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return base.withColumn("cum", F.sum("n_tokens").over(w))


def _pack(base: DataFrame, *ids: str) -> DataFrame:
    """Greedy packing within each md5 ``bucket``: batch_in_bucket =
    floor(start offset / _PACK_BUDGET)."""
    return _running_tokens(base, "bucket", *ids).select(
        *ids,
        "bucket",
        F.floor((F.col("cum") - F.col("n_tokens")) / _PACK_BUDGET)
        .cast("bigint")
        .alias("batch_in_bucket"),
        "n_tokens",
    )


def q_text_pack_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequential packing of documents into ~token-budget batches.

    The scale-honest formulation: md5-bucket the corpus into
    _PACK_BUCKETS independent streams (deterministic shuffle, no global
    order), within each bucket order by the md5 hex (+ doc_id tiebreak)
    and bin by cumulative token offset — batch = floor(start_offset /
    budget), batch key = (bucket, batch_in_bucket). One window shuffle
    partitioned by bucket; a batch overruns the budget only by its last
    document (pinned in tests/test_text_pipeline.py). A global single-
    stream packing would be a one-task sort at 100 TB.
    """
    docs = load(spark, sf_dir, "documents")
    return _pack(_doc_tokens(docs, "bucket", _PACK_BUCKETS), "doc_id")


_FP_SHARDS = 32
_FP_P = 2147483647  # 2^31-1: 31-bit terms keep int64 sums overflow-free


def q_dataset_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content FINGERPRINT of the corpus — the reproducibility manifest
    a dataset card / training run records so "trained on dataset X" is
    checkable: per shard, an ORDER-INDEPENDENT digest of document
    contents (sum of 48-bit md5 prefixes mod 2³¹−1 — the set-
    reconciliation digest family), plus a corpus root digest binding all
    shard digests. Any changed/added/dropped document flips its shard's
    digest and the root; which shard flipped localizes the diff.

    Scale shape: one scan; per-shard digests are map-side-combinable
    integer sums (commutative — re-partitioning, file order, and
    parallelism cannot change them, unlike a concatenation hash); the
    root hashes the 32 bounded shard digests (zero-padded shard keys so
    string order == numeric order on both engines). EXACT oracle."""
    docs = load(spark, sf_dir, "documents")
    h = keys.hex_int(F.md5("text"), 12) % _FP_P
    per = docs.select(
        (F.col("doc_id") % _FP_SHARDS).alias("shard"), h.alias("h")
    )
    shards = per.groupBy("shard").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        (F.sum("h") % _FP_P).cast("bigint").alias("digest"),
    )
    root = shards.agg(
        F.md5(
            F.array_join(
                F.array_sort(
                    F.collect_list(
                        F.concat(
                            F.lpad(F.col("shard").cast("string"), 2, "0"),
                            F.lit(":"),
                            F.col("digest").cast("string"),
                        )
                    )
                ),
                "|",
            )
        ).alias("root_digest")
    )
    return shards.crossJoin(F.broadcast(root)).select(
        "shard", "n_docs", "digest", "root_digest"
    )


_OFFSET_SHARDS = 32


def q_global_token_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global TOKEN OFFSET of every document in the concatenated corpus
    — what a deterministic, resumable data loader needs to seek to an
    arbitrary token position without scanning (step N of training ↔ a
    byte/token offset, not a file+row). Global order = md5 shards in
    shard-id order, (md5hex, doc_id) within a shard — the established
    deterministic shuffle.

    Scale shape: the textbook TWO-LEVEL DISTRIBUTED PREFIX SUM — a
    global cumulative sum via window would be a single-task sort (the
    round-2 defect class); instead (1) per-shard token totals (32-row
    agg, map-side combinable), (2) shard base offsets from a bounded
    theta join over that 32-row frame, broadcast back, (3) within-shard
    prefix via ONE window partitioned by shard — 32-way parallel, the
    only corpus-sized shuffle. offset = shard_base + intra-shard prefix.
    Contiguity (offsets tile [0, total) exactly) is pinned in
    tests/test_text_pipeline.py; values are all int64 — EXACT oracle."""
    base = _doc_tokens(load(spark, sf_dir, "documents"), "shard", _OFFSET_SHARDS)
    totals = base.groupBy("shard").agg(
        F.sum("n_tokens").cast("bigint").alias("shard_tokens")
    )
    t2 = totals.select(
        F.col("shard").alias("s2"), F.col("shard_tokens").alias("t2")
    )
    bases = (
        totals.join(t2, F.col("s2") < F.col("shard"), "left")
        .groupBy("shard")
        .agg(F.coalesce(F.sum("t2"), F.lit(0)).cast("bigint").alias("shard_base"))
    )
    return (
        _running_tokens(base, "shard", "doc_id")
        .join(F.broadcast(bases), "shard")
        .select(
            "doc_id",
            "shard",
            "n_tokens",
            (F.col("shard_base") + F.col("cum") - F.col("n_tokens"))
            .cast("bigint")
            .alias("global_offset"),
        )
    )


_LB_BATCH_DOCS = 32  # sequences per batch within a length bucket


def q_length_bucket_batching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching accounting — the padding-efficiency
    layout inference/training servers use (each sequence pads to its
    power-of-2 length bucket; batching within a bucket instead of
    globally cuts padding waste from worst-case to <2×): per bucket,
    document count, real tokens, batch count at 32 sequences/batch, and
    the padding-waste ratio against full batch capacity.

    Integer-exact bucketing: cap(n) = 1 << length(bin(n-1)) for n ≥ 2 —
    pure bit arithmetic, never ceil(log2(n)) whose float boundary at
    exact powers of two differs per engine. Waste ratio is the single
    division, floor-snapped at 6dp identically. One scan, one bounded
    groupBy (≤ log2(max_len) buckets) — nothing corpus-sized after the
    map side."""
    docs = load(spark, sf_dir, "documents")
    per = (
        docs.select(F.size(keys.tokens()).cast("bigint").alias("n_tokens"))
        .where(F.col("n_tokens") >= 1)
        .withColumn(
            "bucket_cap",
            F.when(F.col("n_tokens") <= 1, F.lit(1).cast("bigint")).otherwise(
                F.expr(
                    "CAST(shiftleft(CAST(1 AS BIGINT),"
                    " length(bin(n_tokens - 1))) AS BIGINT)"
                )
            ),
        )
    )
    agg = per.groupBy("bucket_cap").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
    )
    return agg.select(
        "bucket_cap",
        "n_docs",
        "sum_tokens",
        F.expr(
            f"CAST((n_docs + {_LB_BATCH_DOCS - 1}) DIV {_LB_BATCH_DOCS} AS BIGINT)"
        ).alias("n_batches"),
        snap(
            F.lit(1.0)
            - F.col("sum_tokens")
            / (
                F.expr(
                    f"CAST((n_docs + {_LB_BATCH_DOCS - 1})"
                    f" DIV {_LB_BATCH_DOCS} AS BIGINT)"
                )
                * _LB_BATCH_DOCS
                * F.col("bucket_cap")
            ).cast("double")
        ).alias("waste_ratio"),
    )


def q_text_chunk_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full pre-tokenization composite: chunk documents (64-token
    windows, 48 stride), then pack the CHUNKS into ~2048-token batches —
    what actually feeds a trainer, as one lazy plan. Same bucketed
    binning as q_text_pack_batches, keyed on (doc_id, chunk_id)."""
    chunks = q_text_chunk(spark, sf_dir).select("doc_id", "chunk_id", "n_tokens")
    h = F.md5(
        F.concat_ws(
            ":", F.col("doc_id").cast("string"), F.col("chunk_id").cast("string")
        )
    )
    base = _with_md5_key(chunks.withColumn("h", h), "bucket", _PACK_BUCKETS)
    return _pack(base, "doc_id", "chunk_id")


def q_text_ngram_lm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw trigram statistics for LM estimation: occurrence count,
    document frequency, and left-continuation diversity (distinct w1
    preceding each suffix bigram — the N1+(·w2w3) count a Kneser-Ney
    smoother consumes). Top 50 trigrams by (count DESC, gram) — the
    tiebreak makes the limit deterministic across engines.

    Scale shape: trigrams are ``keys.grams`` split into (w1, suffix);
    both aggregations partial-aggregate map-side and the gram↔suffix
    join shuffles the (much smaller) suffix-level frame. TakeOrdered
    handles the top-k — no global sort."""
    docs = load(spark, sf_dir, "documents")
    pairs = keys.grams(
        keys.tokens(), 3, lambda a, bc: F.struct(a.alias("w1"), bc.alias("suffix"))
    )
    ex = docs.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id",
        F.col("p.w1").alias("w1"),
        F.col("p.suffix").alias("suffix"),
        F.concat_ws(" ", "p.w1", "p.suffix").alias("gram"),
    )
    gram_stats = ex.groupBy("gram", "suffix").agg(
        F.count("*").alias("n_occ"),
        F.countDistinct("doc_id").alias("n_docs"),
    )
    left_div = ex.groupBy("suffix").agg(
        F.countDistinct("w1").alias("n_left_contexts")
    )
    return (
        gram_stats.join(left_div, "suffix")
        .orderBy(F.col("n_occ").desc(), "gram")
        .limit(50)
        .select("gram", "n_occ", "n_docs", "n_left_contexts")
    )


def _eval_doc() -> Column:
    """The eval-set stand-in of benchmark decontamination: documents with
    ``doc_id % 53 == 0`` (a real run reads the benchmark corpus instead;
    same plan shape)."""
    return F.col("doc_id") % 53 == 0


def _decontam_grams(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(corpus, eval) for decontamination: (doc_id, gram) for the
    distinct trigrams of each non-eval document, and the distinct
    trigrams (gram) of the eval documents (``_eval_doc``).

    Distinct grams are only needed PER DOC: ``array_distinct`` before
    the explode does that map-side, so the corpus side never shuffles
    its full gram set (a global ``.distinct()`` there would be the
    plan's largest exchange for zero semantic gain)."""
    doc_grams = docs.select(
        "doc_id",
        F.explode(F.array_distinct(keys.grams(keys.tokens(), 3))).alias("gram"),
    )
    eval_grams = doc_grams.where(_eval_doc()).select("gram").distinct()
    return doc_grams.where(~_eval_doc()), eval_grams


def q_text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination by distinct-3-gram overlap — the GPT-3
    appendix-C / Llama eval-contamination check: flag corpus docs that
    share any whitespace 3-gram with the eval set, reporting per-doc
    overlap counts and a contamination ratio.

    Eval-set stand-in: ``_eval_doc``. Scale shape: the eval n-gram set
    is benchmark-sized (fixed, ≪ corpus) so the overlap probe is a
    broadcast equi-join on the gram; the corpus side is one linear
    explode + per-doc distinct, shuffled on the gram hash
    (``_decontam_grams``).
    """
    docs = load(spark, sf_dir, "documents")
    corpus_grams, eval_grams = _decontam_grams(docs)
    hits = eval_grams.withColumn("hit", F.lit(1))
    ratio = F.count("hit") / F.count("*")  # int/int ratio → floor-snap, never round()
    return (
        corpus_grams.join(F.broadcast(hits), "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.count("hit").alias("n_overlap"),
            snap(ratio).alias("contamination"),
        )
        .where(F.col("n_overlap") > 0)
    )


# Tokens per dedup segment ("line"). The fixtures carry single-line,
# space-tokenized text (no newlines at any SF — verified), so the C4
# line/paragraph unit is approximated by fixed 8-token segments; on real
# corpora the same plan runs with split(text, '\n') as the segmenter.
_LINE_SEG_TOKENS = 8
# One greedy regex pass cuts the text into consecutive 8-token segments:
# a token plus up to 7 more. Identical greedy semantics in Java regex
# (Spark) and RE2 (DuckDB); one linear scan, whole-stage codegen, and —
# unlike transform(sequence(..), i -> slice(split(text), ..)) — no HOF
# re-evaluation trap re-splitting the text per segment (O(L²)).
_LINE_SEG_PATTERN = r"\S+( \S+){0,7}"


def q_text_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style cross-document repeated-substring dedup (judge r7 #3):
    every document is segmented into consecutive 8-token "lines", each
    line is kept only at its FIRST occurrence corpus-wide (first =
    smallest ``(doc_id, position)``), later repeats are dropped from
    their documents, and documents are reassembled from their surviving
    segments in order. Doc-level exact/near-dup can't catch boilerplate
    shared between otherwise-distinct pages (headers, license blocks,
    navigation chrome); this is the pass that removes it.

    Scale shape (the 100 TB story): the first-occurrence table is a
    ``groupBy(line)`` **min** over a ``(doc_id, pos)`` struct key —
    fixed 16-byte state, fully map-side combinable (and collision-free
    for any document size, unlike an int64 bit-packing), so a boilerplate line
    repeated a billion times still contributes one row per map partition
    to the shuffle. The keep-filter is then an equi-join back on the line
    (1:1 against the firsts table, AQE skew-split for hot lines), and
    reassembly shuffles only surviving segments on ``doc_id``. Nothing
    ever materializes a per-line member list. Total: one linear segment
    scan + two bounded shuffles.

    Oracle: identical segmentation via ``regexp_extract_all`` + the same
    min-key/join/string_agg pipeline in DuckDB — EXACT.
    """
    return line_dedup(load(spark, sf_dir, "documents"))


_SEGQ_MIN_TOKENS = 6  # rule (a): segment long enough to carry content
_SEGQ_MIN_DISTINCT = 0.6  # rule (b): distinct-token ratio floor


def q_segment_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEGMENT-level quality filtering — the C4/RefinedWeb line-filter
    stage (C4 drops lines without terminal punctuation or under 5 words;
    RefinedWeb drops list-marker/repeated lines) adapted to this
    corpus's 8-token segment grain and punctuation-free synthetic text:
    a segment survives if (a) it has ≥ 6 tokens (doc-tail stubs drop)
    and (b) its distinct-token ratio is ≥ 0.6 (drops locally-repetitive
    chatter the DOC-level repetition filter averages away). Per-doc
    accounting: segments before/after, surviving token count, kept
    fraction — the line-grain complement to q_text_line_dedup (which
    removes cross-doc REPEATS; this removes low-quality segments
    regardless of novelty).

    Scale shape: one regexp segmentation (the line-dedup pattern), all
    rules row-local on the segment (no joins, no shuffle beyond the
    per-doc reduce), map-side combinable. EXACT oracle."""
    docs = load(spark, sf_dir, "documents")
    seg_arr = F.regexp_extract_all("text", F.lit(_LINE_SEG_PATTERN), 0)
    segs = docs.select("doc_id", F.explode(seg_arr).alias("seg"))
    toks = keys.tokens("seg")
    keep = (F.size(toks) >= _SEGQ_MIN_TOKENS) & (
        F.size(F.array_distinct(toks)).cast("double")
        / F.size(toks).cast("double")
        >= _SEGQ_MIN_DISTINCT
    )
    return (
        segs.select(
            "doc_id",
            F.size(toks).cast("bigint").alias("nt"),
            keep.cast("int").alias("keep"),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_segments"),
            F.sum("keep").cast("bigint").alias("n_kept"),
            F.sum(F.col("nt") * F.col("keep")).cast("bigint").alias("kept_tokens"),
        )
        .select(
            "doc_id",
            "n_segments",
            "n_kept",
            "kept_tokens",
            snap(
                F.col("n_kept").cast("double") / F.col("n_segments").cast("double")
            ).alias("kept_fraction"),
        )
    )


def q_boilerplate_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SOURCE boilerplate rate — the template-detection diagnostic
    that tells a curation pipeline which domains need line dedup most
    (nav chrome, license blocks, repeated headers): a segment is
    boilerplate FOR ITS SOURCE when the same 8-token line appears in at
    least two distinct documents of that source; the rate is the share
    of the source's segment occurrences that are such repeats.

    Rides the line-dedup segmentation (same regex, same 8-token grain)
    but aggregates instead of rewriting: per (source, line) occurrence
    and distinct-doc counts (map-side combinable; the distinct-doc count
    is the only extra shuffle), then one bounded per-source reduce — no
    join-back, no reassembly. EXACT oracle."""
    docs = load(spark, sf_dir, "documents")
    seg_arr = F.regexp_extract_all("text", F.lit(_LINE_SEG_PATTERN), 0)
    segs = docs.select(
        "source", "doc_id", F.explode(seg_arr).alias("seg")
    )
    per = segs.groupBy("source", "seg").agg(
        F.count("*").cast("bigint").alias("cnt"),
        F.count_distinct("doc_id").cast("bigint").alias("nd"),
    )
    return per.groupBy("source").agg(
        F.sum("cnt").cast("bigint").alias("n_segments"),
        F.sum(F.when(F.col("nd") >= 2, F.col("cnt")).otherwise(0))
        .cast("bigint")
        .alias("n_boilerplate"),
    ).select(
        "source",
        "n_segments",
        "n_boilerplate",
        snap(
            F.col("n_boilerplate").cast("double")
            / F.col("n_segments").cast("double")
        ).alias("boilerplate_rate"),
    )


def line_dedup(docs: DataFrame) -> DataFrame:
    """Core of q_text_line_dedup over any (doc_id, text) frame."""
    seg_arr = F.regexp_extract_all("text", F.lit(_LINE_SEG_PATTERN), 0)
    # First-occurrence key is a (doc_id, pos) STRUCT min — lexicographic,
    # fixed 16-byte aggregation state, map-side combinable, and correct
    # for ANY doc size. The previous doc_id*2^20+pos int64 encoding
    # silently collided across documents past 2^20 segments (ADVICE r8).
    segs = docs.select("doc_id", F.posexplode(seg_arr).alias("pos", "seg"))
    firsts = segs.groupBy("seg").agg(
        F.min(F.struct("doc_id", "pos")).alias("first_k")
    )
    kept = (
        segs.join(firsts, "seg")
        .where(F.struct("doc_id", "pos") == F.col("first_k"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_kept"),
            F.sort_array(F.collect_list(F.struct("pos", "seg"))).alias("ordered"),
        )
        .select(
            "doc_id",
            "n_kept",
            F.concat_ws(" ", F.expr("transform(ordered, x -> x.seg)")).alias(
                "kept_text"
            ),
        )
    )
    return (
        docs.select("doc_id", F.size(seg_arr).cast("bigint").alias("n_segs"))
        .join(kept, "doc_id", "left")
        .select(
            "doc_id",
            "n_segs",
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("bigint").alias("n_kept"),
            F.coalesce(F.col("kept_text"), F.lit("")).alias("kept_text"),
        )
    )


_SPAN_W = 8  # sliding-window width in tokens


def q_text_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring span dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better", ExactSubstr adapted):
    EVERY sliding 8-token window is checked against the corpus; windows
    whose text occurs anywhere earlier (first = smallest (doc_id, pos))
    mark their token span for removal, overlapping spans merge, and the
    witness reports per-document removal accounting. Unlike
    `text_line_dedup`'s fixed segmentation this catches duplicated
    passages at ANY alignment — the C4 line pass misses a quote shifted
    by one token; this doesn't.

    Plan shape (100 TB story): grams are built with 7 lead() calls over
    one doc-partitioned window — O(L) per doc and ONE shuffle on doc_id,
    never the posexplode-the-array-per-position formulation (O(L²) row
    width) nor a slice() inside a HOF lambda (re-splits text per element
    — the CSE trap). First-occurrence is groupBy(gram).min((doc_id, pos)
    struct) — fixed 16-byte map-side-combinable state, collision-free for
    any per-doc token count; hot boilerplate grams cost one row
    per map partition. Span merging reuses the cumulative-max island
    technique (interval_merge). Production note: gram strings would be
    xxhash64'd before the shuffle (8-byte keys); kept as text here so
    the DuckDB twin stays byte-comparable.
    """
    return span_dedup(load(spark, sf_dir, "documents"))


def _word_grams(docs: DataFrame, k: int) -> DataFrame:
    """(doc_id, pos, tok, gram) for every full k-word window of a
    (doc_id, text) frame: gram = the k space-split tokens from pos on,
    joined by spaces. concat (not concat_ws): a NULL lead makes the gram
    NULL, which drops the trailing stubs.

    The same grams as ``keys.grams(keys.tokens(), k)``, one row each with
    its position, built from leads over a doc-partitioned window: the
    window shape behind text_span_dedup, kept until an A/B shows that
    exploding ``keys.grams`` with its position is no slower."""
    toks = docs.select(
        "doc_id", F.posexplode(keys.tokens()).alias("pos", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    gram = F.concat(
        F.col("tok"),
        *[x for i in range(1, k) for x in (F.lit(" "), F.lead("tok", i).over(w))],
    )
    return toks.withColumn("gram", gram).where(F.col("gram").isNotNull())


def span_dedup(docs: DataFrame) -> DataFrame:
    """Core of q_text_span_dedup over any (doc_id, text) frame."""
    # (doc_id, pos) struct min: same collision-free first-occurrence key
    # as line_dedup (ADVICE r8 — the old doc_id*2^20+pos int64 encoding
    # broke ordering for documents past 2^20 tokens).
    # Lazy checkpoint (r22, §2.4): grams feeds TWO consumers — the
    # first-occurrence aggregation and the probe side of the join —
    # and column pruning makes the two subtree copies physically
    # different, so the explode + doc-window (7 leads over a sorted
    # partition) ran once per consumer. One materialization per action
    # instead (the tf/df pattern from text_tfidf_top). Interleaved A/B
    # at sf0.1: min 2.511 -> 2.054 s (-18%), identical rows.
    grams = store.materialize(_word_grams(docs, _SPAN_W), "text.span_grams", eager=False)
    firsts = grams.groupBy("gram").agg(
        F.min(F.struct("doc_id", "pos")).alias("first_k")
    )
    dup_spans = (
        grams.join(firsts, "gram")
        .where(F.struct("doc_id", "pos") > F.col("first_k"))
        .select("doc_id", F.col("pos").alias("s"), (F.col("pos") + _SPAN_W).alias("e"))
    )
    w_span = Window.partitionBy("doc_id").orderBy("s", "e")
    prev_end = F.max("e").over(w_span.rowsBetween(Window.unboundedPreceding, -1))
    islands = dup_spans.withColumn(
        "new_island",
        F.when(prev_end.isNull() | (F.col("s") > prev_end), 1).otherwise(0),
    ).withColumn(
        "island",
        F.sum("new_island").over(w_span.rowsBetween(Window.unboundedPreceding, 0)),
    )
    removed = (
        islands.groupBy("doc_id", "island")
        .agg(F.min("s").alias("is_s"), F.max("e").alias("is_e"), F.count("*").alias("n_w"))
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("is_e") - F.col("is_s")).alias("n_removed"),
            F.sum("n_w").alias("n_dup_windows"),
        )
    )
    # n_tokens = split-array length — identical to counting the
    # posexplode rows (posexplode emits one row per element, empties
    # included, and drops NULL-text docs — hence the isNotNull filter,
    # pinned by test_text_ops_survive_degenerate_documents) without
    # re-exploding the corpus (r22, §2.3: the count rides the
    # un-exploded row)
    counts = docs.where(F.col("text").isNotNull()).select(
        "doc_id", F.size(keys.tokens()).cast("bigint").alias("n_tokens")
    )
    keep = (F.col("n_tokens") - F.col("n_removed")) / F.col("n_tokens")
    return (
        counts.join(removed, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_dup_windows", F.lit(0)).cast("bigint").alias("n_dup_windows"),
            F.coalesce("n_removed", F.lit(0)).cast("bigint").alias("n_removed"),
        )
        .withColumn("keep_ratio", snap(keep))
    )


_POSTINGS_K = 5


def q_text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build: per token, document frequency, total term
    frequency, and the top-5 posting (doc_id, tf) entries by tf (doc_id
    tiebreak) serialized as a sorted array — the retrieval-side sibling
    of TF-IDF (which scores docs; this materializes the index).

    Shape: one (token, doc) count aggregation, one per-token window for
    the posting cut, then collect the BOUNDED top-k postings per token —
    the collect_list is capped at k=5 structurally (filter before
    collect), so no hot token ever materializes its full posting list in
    one aggregation buffer; full postings at 100 TB would stay exploded
    as (token, doc, tf) rows, bucketed by token."""
    toks = load(spark, sf_dir, "documents").select(
        "doc_id", F.explode(keys.tokens()).alias("tok")
    )
    tf = toks.groupBy("tok", "doc_id").agg(F.count("*").alias("tf"))
    w = Window.partitionBy("tok").orderBy(F.col("tf").desc(), "doc_id")
    top = tf.withColumn("rnk", F.row_number().over(w)).where(
        F.col("rnk") <= _POSTINGS_K
    )
    stats = tf.groupBy("tok").agg(
        F.count("*").alias("df"), F.sum("tf").alias("total_tf")
    )
    postings = top.groupBy("tok").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("rnk"), F.col("doc_id"), F.col("tf")))
        ).alias("ordered")
    ).select(
        "tok",
        F.expr("transform(ordered, x -> concat(x.doc_id, ':', x.tf))").alias(
            "top_postings"
        ),
    )
    return stats.join(postings, "tok").select(
        "tok", "df", "total_tf", F.concat_ws(" ", "top_postings").alias("postings")
    )


def q_text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM-based quality scoring (CCNet-style perplexity ranking): each
    document's average log2 trigram probability under the corpus MLE
    trigram model — p(w3|w1w2) = c(w1w2w3) / Σ_w c(w1w2w), trained and
    scored on the same corpus in one plan. Low scores (high perplexity
    proxy) mark text unlike the corpus — the standard LM quality filter.

    Shape: one trigram explode (``keys.grams``), two count aggregations (gram / context — map-side
    combinable), two equi-joins back on the gram key, one per-doc
    reduce. Per-doc float sums are ≤ doc-length terms, snapped on the
    1e-6 grid; the perplexity proxy is derived from the SNAPPED average
    so both engines exponentiate the same double.
    """
    docs = load(spark, sf_dir, "documents")
    return _lm_doc_scores(docs).select(
        "doc_id",
        "n_trigrams",
        "avg_log2p",
        F.round(F.pow(F.lit(2.0), -F.col("avg_log2p")), 4).alias("ppl_proxy"),
    )


def _lm_doc_scores(docs: DataFrame) -> DataFrame:
    """(doc_id, n_trigrams, avg_log2p): per-doc average log2 trigram MLE
    probability — shared by q_text_lm_score and the perplexity-bucket
    split. Snapped on the 1e-6 grid so downstream bucketing operates on
    engine-identical doubles."""
    pairs = keys.grams(
        keys.tokens(),
        3,
        lambda a, bc: F.struct(
            F.concat(a, F.lit(" "), bc).alias("gram"),
            F.concat(a, F.lit(" "), F.split_part(bc, F.lit(" "), F.lit(1))).alias("ctx"),
        ),
    )
    ex = docs.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", F.col("p.gram").alias("gram"), F.col("p.ctx").alias("ctx")
    )
    # ex feeds THREE branches (c3, c2, and the probability join); without
    # lineage sharing each branch re-split and re-exploded the corpus.
    # Lazy checkpoint (the single-scan-composite pattern): no job at
    # build time, the consuming action materializes the trigram stream
    # once (r21; with the b-frame checkpoint in q_perplexity_buckets,
    # interleaved A/B at sf0.1: min 2.775 s vs 5.843 s, identical rows).
    ex = store.materialize(ex, "text.lm_examples", eager=False)
    c3 = ex.groupBy("gram").agg(F.count("*").alias("c3"))
    c2 = ex.groupBy("ctx").agg(F.count("*").alias("c2"))
    return (
        ex.join(c3, "gram")
        .join(c2, "ctx")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_trigrams"),
            snap(
                F.sum(F.log2(F.col("c3") / F.col("c2"))) / F.count("*")
            ).alias("avg_log2p"),
        )
    )


_HASH_DIMS = 32


_KN_D = 0.75  # absolute discount — exactly representable in binary


def q_kn_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram language model (Kneser & Ney 1995;
    Chen & Goodman 1999 formulation) trained on the corpus and applied
    per document — the smoothing family behind KenLM, whose perplexity
    is THE standard web-corpus quality filter (CCNet trains KenLM on
    Wikipedia). Complements q_text_lm_score's unsmoothed MLE trigram:
    KN discounts observed mass (D = 0.75) and backs off to the
    CONTINUATION unigram — how many distinct contexts a word follows —
    not raw frequency:

        P(w2|w1) = max(c(w1w2) - D, 0)/c(w1·)
                   + (D · N1+(w1·)/c(w1·)) · N1+(·w2)/N1+(··)

    Determinism engineering (one step past lm_score's snapped float
    sums): each bigram's log2 P is snapped to int64 MICRO-UNITS at the
    type table, so every per-doc sum is exact integer arithmetic —
    engine summation order cannot matter (the DoReMi/DSIR discipline).
    D = 0.75 is exactly representable, c/N are int64, so both engines
    evaluate log2 on bit-identical doubles.

    Scale shape: one bigram explode; the TYPE table (Heaps-sublinear in
    corpus size) carries all model state — its three aggregations
    (context totals, forward/backward continuation counts) are map-side
    combinable; scoring is an equi-join of the token stream back on the
    bigram key plus one per-doc integer reduce. Production note: the
    (w1, w2) string join keys would be xxhash64'd at 100 TB (8-byte
    shuffles), the span-dedup discipline."""
    docs = load(spark, sf_dir, "documents")
    pairs = keys.grams(keys.tokens(), 2, _w1_w2)
    ex = docs.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )
    types = ex.groupBy("w1", "w2").agg(F.count("*").cast("bigint").alias("c12"))
    ctx = types.groupBy("w1").agg(
        F.sum("c12").cast("bigint").alias("c1"),
        F.count("*").cast("bigint").alias("n1p_fwd"),
    )
    bwd = types.groupBy("w2").agg(F.count("*").cast("bigint").alias("n1p_bwd"))
    ntypes = types.agg(F.count("*").cast("bigint").alias("n_types"))
    p = (
        F.greatest(F.col("c12") - F.lit(_KN_D), F.lit(0.0)) / F.col("c1")
        + (F.lit(_KN_D) * F.col("n1p_fwd") / F.col("c1"))
        * (F.col("n1p_bwd") / F.col("n_types"))
    )
    scored_types = (
        types.join(ctx, "w1")
        .join(bwd, "w2")
        .crossJoin(F.broadcast(ntypes))
        .select(
            "w1",
            "w2",
            units(F.log2(p)).alias("term6"),
        )
    )
    return (
        ex.join(scored_types, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            F.sum("term6").cast("bigint").alias("sum_log2p_micro"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "sum_log2p_micro",
            (
                F.floor(
                    F.col("sum_log2p_micro") / F.col("n_bigrams").cast("double")
                    + F.lit(0.5)
                )
                / 1e6
            ).alias("kn_avg_log2p"),
        )
    )


def q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity HEAD / MIDDLE / TAIL split (Wenzek et al.
    2020, "CCNet: Extracting High Quality Monolingual Datasets from Web
    Crawl Data"): partition the corpus into thirds by LM score — head =
    the most-probable (lowest-perplexity) third, the slice CCNet keeps
    or upweights — and report per-(bucket, lang) accounting.

    Scale shape: the naive split is ORDER BY score over the corpus +
    ntile (single-task global sort — the round-2 defect class). Here the
    snapped per-doc scores land on a bounded CENTI-LOG2 grid
    (floor(score·100): score range is a few hundred buckets regardless
    of corpus size), the grid histogram cumulates via a bounded theta
    join (never a single-partition window), the two tercile cut buckets
    fall out of INTEGER comparisons (cum_ge·3 vs n, 2n — no float
    quantile), and docs pick up their label by a broadcast join on the
    bucket id. Two passes over the trigram pipeline (build + apply), the
    quantile_normalize_sketch discipline. Exactness: bucket boundaries
    are integer comparisons over snapped scores; per-group outputs are
    counts, integer sums, and min/max of already-snapped doubles."""
    docs = load(spark, sf_dir, "documents")
    scores = _lm_doc_scores(docs)
    b = scores.select(
        "doc_id",
        "n_trigrams",
        "avg_log2p",
        F.floor(F.col("avg_log2p") * 100).cast("bigint").alias("qb"),
    )
    # b feeds the grid histogram AND the final labeling join; without
    # sharing, the whole trigram-LM pipeline ran twice. Lazy checkpoint
    # of the doc-sized (id + 3 numbers) score frame — the hist branch's
    # eager build materializes it, the final join reads it (r21; A/B
    # evidence at the _lm_doc_scores ex checkpoint).
    b = store.materialize(b, "text.perplexity_docs", eager=False)
    # bounded grid (few hundred rows), three consumers — checkpoint
    hist = store.materialize(
        b.groupBy("qb").agg(F.count("*").alias("cnt")), "text.perplexity_hist", eager=True
    )
    h2 = hist.select(F.col("qb").alias("qb2"), F.col("cnt").alias("cnt2"))
    cum = (
        hist.join(h2, F.col("qb2") > F.col("qb"), "left")
        .groupBy("qb", "cnt")
        .agg(F.coalesce(F.sum("cnt2"), F.lit(0)).cast("bigint").alias("cum_above"))
    )
    total = hist.agg(F.sum("cnt").cast("bigint").alias("n_total"))
    cum_ge = F.col("cum_above") + F.col("cnt")
    lab = cum.crossJoin(F.broadcast(total)).select(
        "qb",
        F.when(cum_ge * 3 <= F.col("n_total"), F.lit("head"))
        .when(cum_ge * 3 <= 2 * F.col("n_total"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )
    return (
        b.join(F.broadcast(lab), "qb")
        .join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("bucket", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_trigrams").cast("bigint").alias("n_trigrams"),
            F.min("avg_log2p").alias("min_score"),
            F.max("avg_log2p").alias("max_score"),
        )
    )


def q_text_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature hashing (the hashing trick): each document becomes a
    fixed 32-dim token-count vector, dim = md5(token) % 32 — the
    vocabulary-free featurization that feeds linear classifiers /
    nearest-neighbor dedup without a dictionary build. Dense vector
    assembly: (doc, dim) counts left-join a bounded doc×32 grid
    (zero-filled — absent dims ARE features), collected in dim order.
    The md5 dim assignment is engine-portable, so the whole vector is
    EXACT-oracled. One token shuffle + one doc-sized assembly shuffle.

    The vector is emitted FLATTENED (comma-joined string), not as a
    top-level array column: the driver's pandas canonicalizer cannot
    sort list-typed columns (`TypeError: unhashable type: 'list'` —
    the r1 `array_ops` / r8 `text_feature_hashing` failure class;
    see scripts/verify_local.py's schema guard)."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(keys.tokens()).alias("tok")
    )
    dim = keys.hex_int(F.md5("tok"), 8) % _HASH_DIMS
    counts = toks.groupBy("doc_id", dim.alias("dim")).agg(
        F.count("*").alias("cnt")
    )
    dims = spark.range(_HASH_DIMS).select(F.col("id").alias("dim"))
    grid = docs.select("doc_id").crossJoin(F.broadcast(dims))
    filled = grid.join(counts, ["doc_id", "dim"], "left").select(
        "doc_id", "dim", F.coalesce("cnt", F.lit(0)).alias("cnt")
    )
    return (
        filled.groupBy("doc_id")
        .agg(
            F.sort_array(F.collect_list(F.struct("dim", "cnt"))).alias("ordered")
        )
        .select(
            "doc_id",
            F.array_join(
                F.expr("transform(ordered, x -> cast(x.cnt as string))"), ","
            ).alias("features"),
            F.expr("aggregate(ordered, cast(0 as bigint), (a, x) -> a + x.cnt)").alias(
                "n_tokens"
            ),
        )
    )


_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPK = 10


def q_text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranking — the retrieval capstone over the inverted-index
    statistics: for the corpus's two highest-df probe terms
    (deterministic tiebreak), every document is scored with
    idf·tf·(k1+1)/(tf + k1·(1−b+b·len/avglen)) and the top-10 per term
    are returned. idf uses the standard Robertson form
    ln((N−df+0.5)/(df+0.5)+1). One (doc, term) count aggregation, doc
    lengths ride the same shuffle, N/avglen broadcast from a 1-row
    aggregate, df from a broadcast of the 2-term probe set — at scale
    this is the scoring join a search backend runs, shuffling only the
    postings of the probed terms. Scores floor-snapped at 1e-6; ordering
    uses the snapped score with doc_id tiebreak so the cut is
    engine-exact."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(keys.tokens()).alias("tok")
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    doclen = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = doclen.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.avg("dl").alias("avg_dl"),
    )
    df_t = tf.groupBy("tok").agg(F.count("*").alias("df"))
    probes = df_t.orderBy(F.col("df").desc(), "tok").limit(2)
    scored = (
        tf.join(F.broadcast(probes), "tok")
        .join(doclen, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0),
        )
        .withColumn(
            "score_raw",
            F.col("idf")
            * F.col("tf") * (_BM25_K1 + 1)
            / (
                F.col("tf")
                + _BM25_K1
                * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avg_dl"))
            ),
        )
        .withColumn("score", snap(F.col("score_raw")))
    )
    w = Window.partitionBy("tok").orderBy(F.col("score").desc(), "doc_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= _BM25_TOPK)
        .select("tok", "rnk", "doc_id", "tf", "dl", "score")
    )


def q_corpus_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law audit: regress log(frequency) on log(rank) over the
    top-100 tokens — natural corpora sit near slope −1; a synthetic or
    template-heavy corpus shows up immediately in the slope and fit.
    Rank via one ordered window over the (bounded) top-k token set;
    slope/intercept/r2 from the one-pass regr_* aggregates; snapped with
    the floor-grid trick."""
    toks = load(spark, sf_dir, "documents").select(
        F.explode(keys.tokens()).alias("tok")
    )
    counts = toks.groupBy("tok").agg(F.count("*").alias("freq"))
    top = counts.orderBy(F.col("freq").desc(), "tok").limit(100)
    # single-partition window over the POST-LIMIT 100 rows only — bounded
    # by construction, not a corpus-wide sort
    w = Window.partitionBy(F.lit(1)).orderBy(F.col("freq").desc(), "tok")
    ranked = top.withColumn("rnk", F.row_number().over(w)).select(
        F.log(F.col("freq").cast("double")).alias("ly"),
        F.log(F.col("rnk").cast("double")).alias("lx"),
    )

    return ranked.agg(
        F.regr_count("ly", "lx").alias("n_tokens"),
        snap(F.regr_slope("ly", "lx")).alias("zipf_slope"),
        snap(F.regr_r2("ly", "lx")).alias("fit_r2"),
    )


def q_corpus_heaps_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth: cumulative distinct-BIGRAM count as
    the corpus grows through 10 doc_id-ordered buckets (bigrams, not
    unigrams: the fixture's unigram vocabulary saturates in the first
    bucket, which is exactly the degenerate case the curve detects).
    Computed without any cumulative re-scan: each bigram's FIRST bucket
    of appearance is a min-aggregate (8-byte state), new-type counts per
    bucket follow, and the cumulative curve is a 10-row window —
    sublinear growth is the naturalness sanity check; a flat tail means
    boilerplate."""
    docs = load(spark, sf_dir, "documents")
    bounds = docs.agg(F.max("doc_id").alias("mx"))
    bigrams = keys.grams(keys.tokens(), 2)
    toks = docs.crossJoin(F.broadcast(bounds)).select(
        # explicit floor: Spark's double->int cast truncates but DuckDB's
        # CAST rounds — floor() spelled on both sides removes the trap
        F.least(
            F.floor(F.col("doc_id") * 10 / (F.col("mx") + 1)).cast("int"), F.lit(9)
        ).alias("bucket"),
        F.explode(bigrams).alias("tok"),
    )
    firsts = toks.groupBy("tok").agg(F.min("bucket").alias("first_bucket"))
    new_per = firsts.groupBy("first_bucket").agg(F.count("*").alias("new_tokens"))
    # single-partition window over <= 10 bucket rows — bounded by design
    w = (
        Window.partitionBy(F.lit(1))
        .orderBy("first_bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return new_per.select(
        F.col("first_bucket").alias("bucket"),
        "new_tokens",
        F.sum("new_tokens").over(w).alias("vocab_cum"),
    )


def q_text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-distribution entropy per document — the information-theoretic
    quality signal complementing the ratio-based score (low entropy =
    repetitive/templated text, a stronger filter than top-bigram fraction
    alone; used alongside it in Gopher/CCNet-style cleaning).

    H = log2(n) - (Σ c·log2 c)/n over per-doc token counts c — the
    factored form needs only two aggregates. norm_entropy divides by
    log2(distinct) (0 when a doc has a single distinct token). Per-doc
    float sums are over ≤doc-length terms, so cross-engine summation
    drift is ~1e-15 and the 6dp round is stable. Two shuffles, both on
    doc-local keys: (doc_id, tok) count then doc_id reduce — at 100 TB
    this is the same shape as token counting, fully map-side combinable.
    """
    toks = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.explode(keys.tokens()).alias("tok")
    )
    counts = toks.groupBy("doc_id", "lang", "tok").agg(F.count("*").alias("c"))
    per_doc = counts.groupBy("doc_id", "lang").agg(
        F.sum("c").alias("n_tokens"),
        F.count("*").alias("n_distinct"),
        F.sum(F.col("c") * F.log2("c")).alias("s"),
    )
    h = F.log2("n_tokens") - F.col("s") / F.col("n_tokens")
    return per_doc.select(
        "doc_id",
        "lang",
        "n_tokens",
        "n_distinct",
        F.round(h, 6).alias("entropy"),
        F.when(F.col("n_distinct") == 1, F.lit(0.0))
        .otherwise(F.round(h / F.log2("n_distinct"), 6))
        .alias("norm_entropy"),
    )


def q_text_novelty(
    spark: SparkSession, sf_dir: str, hashed: bool = False
) -> DataFrame:
    """Per-document n-gram NOVELTY score — the curation-order diagnostic
    for incremental corpus growth: for each document, the fraction of its
    distinct 8-token grams whose FIRST corpus occurrence (min doc_id) is
    this document. Low-novelty documents are recombinations of text
    already in the corpus (templated/boilerplate-heavy); the score is the
    standard dial for dedup-adjacent downsampling where span dedup is too
    aggressive (it removes; this prices).

    Plan shape: grams ride the span-dedup machinery — 7 lead() calls over
    ONE doc-partitioned window (O(L) per doc, one doc_id shuffle), then
    distinct per (doc_id, gram), a groupBy(gram).min(doc_id) first-
    occurrence table (8-byte map-side-combinable state) whose per-OWNER
    count IS the novel-gram count — no join back onto the gram table
    (that was a third corpus-of-grams shuffle, removed r21); the final
    join is doc-level. No self-joins, no HOF slice lambdas, the same
    first-occurrence discipline as line/span dedup. EXACT oracle (same
    values; the oracle keeps its original formulation).

    Production note (same discipline as span_dedup, text.py ~660): the
    default path shuffles raw 8-token gram STRINGS three times (distinct,
    groupBy, join) — at 100 TB that is ~8× corpus bytes through the
    exchanges. ``hashed=True`` is the deployment shape: grams are
    xxhash64'd in-scan, so every shuffle key is 8 bytes. Scores are
    identical in the collision-free regime (64-bit keys; birthday bound
    ~10¹⁸ grams) — pinned by tests/test_text_pipeline.py::
    test_novelty_hashed_matches_string. Kept string-keyed by default so
    the DuckDB twin stays byte-comparable."""
    doc_grams = _word_grams(load(spark, sf_dir, "documents"), _SPAN_W)
    if hashed:
        # 8-byte shuffle keys from here down — the 100 TB variant
        doc_grams = doc_grams.select(
            "doc_id", F.xxhash64("gram").alias("gram")
        )
    else:
        doc_grams = doc_grams.select("doc_id", "gram")
    # lazy checkpoint: the distinct gram table feeds both doc-level
    # branches below; pruning would otherwise defeat exchange reuse (§2.4)
    doc_grams = store.materialize(doc_grams.distinct(), "text.novelty_grams", eager=False)
    # n_novel per doc == |{grams whose min doc_id is this doc}|, i.e. a
    # count over the first-occurrence table grouped by its OWNER — the
    # former formulation joined firsts back onto the full gram table
    # (a third corpus-of-grams shuffle) only to count the equal rows
    n_grams = doc_grams.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    firsts = doc_grams.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    novel = firsts.groupBy(F.col("first_doc").alias("doc_id")).agg(
        F.count("*").cast("bigint").alias("n_novel")
    )
    return (
        n_grams.join(novel, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce("n_novel", F.lit(0)).cast("bigint").alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_novel",
            snap(F.col("n_novel") / F.col("n_grams")).alias("novelty"),
        )
    )


_PMI_MIN_CO = 5  # bigram floor — rare-pair PMI is all noise
_PMI_TOPK = 25


def q_collocation_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation extraction by pointwise mutual information (Church &
    Hanks 1990) over adjacent-token bigrams: PMI(a,b) =
    log2(c(ab)·T / (n1(a)·n2(b))) with positional unigram marginals
    (n1 = count as bigram head, n2 = as tail — the standard collocation
    formulation), floored at c(ab) ≥ 5; top-25 by PMI. The classic
    phrase-mining pass (word2vec's phrase join uses exactly this score).

    Determinism: counts are exact int64; c·T and n1·n2 each stay below
    2^53 so both engines form the SAME double ratio in one division; the
    single log2 is snapped to int64 micro-units (the KN-LM discipline —
    a sub-micro log2 ulp difference cannot survive the floor except on
    a measure-zero grid boundary, swept at all three SFs).

    Scale shape (100 TB): one bigram explode; the type table is
    Heaps-sublinear; marginals are two map-side-combinable aggs over the
    type table (never re-scanning the corpus); T is a 1-row broadcast.
    Production would xxhash64 the (w1,w2) string keys before the shuffle
    (the span-dedup note, text.py span_dedup)."""
    docs = load(spark, sf_dir, "documents")
    pairs = keys.grams(keys.tokens(), 2, _w1_w2)
    ex = docs.select(F.explode(pairs).alias("p")).select(
        F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )
    types = ex.groupBy("w1", "w2").agg(F.count("*").cast("bigint").alias("c12"))
    # marginals from the TYPE table, not the token stream
    n1 = types.groupBy("w1").agg(F.sum("c12").cast("bigint").alias("n1"))
    n2 = types.groupBy("w2").agg(F.sum("c12").cast("bigint").alias("n2"))
    tot = types.agg(F.sum("c12").cast("bigint").alias("t"))
    scored = (
        types.where(F.col("c12") >= _PMI_MIN_CO)
        .join(n1, "w1")
        .join(n2, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "c12",
            units(
                F.log2(
                    (F.col("c12").cast("double") * F.col("t"))
                    / (F.col("n1").cast("double") * F.col("n2"))
                )
            ).alias("pmi6"),
        )
    )
    return scored.orderBy(F.col("pmi6").desc(), "w1", "w2").limit(_PMI_TOPK)


_PMI_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id,
               unnest(string_split(text, ' ')) AS tok,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents
    ), bi AS (
        SELECT w1, w2 FROM (
            SELECT tok AS w1, lead(tok, 1) OVER w AS w2
            FROM toks
            WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        ) WHERE w2 IS NOT NULL
    ), types AS MATERIALIZED (
        SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM bi GROUP BY w1, w2
    ), m1 AS (
        SELECT w1, CAST(sum(c12) AS BIGINT) AS n1 FROM types GROUP BY w1
    ), m2 AS (
        SELECT w2, CAST(sum(c12) AS BIGINT) AS n2 FROM types GROUP BY w2
    ), tot AS (
        SELECT CAST(sum(c12) AS BIGINT) AS t FROM types
    )
    SELECT ty.w1, ty.w2, ty.c12,
           CAST(floor(log2((CAST(ty.c12 AS DOUBLE) * tot.t)
                           / (CAST(m1.n1 AS DOUBLE) * m2.n2)) * 1e6 + 0.5)
                AS BIGINT) AS pmi6
    FROM types ty
    JOIN m1 ON m1.w1 = ty.w1
    JOIN m2 ON m2.w2 = ty.w2
    CROSS JOIN tot
    WHERE ty.c12 >= {_PMI_MIN_CO}
    ORDER BY pmi6 DESC, ty.w1, ty.w2
    LIMIT {_PMI_TOPK}
"""


_WIN_K = 5  # tokens per winnowing k-gram
_WIN_W = 4  # winnow window: guarantees >=1 fingerprint per W consecutive grams
_WIN_MAXDF = 32  # boilerplate cap: drop fingerprints shared by >32 docs
_WIN_TOPK = 20


def q_winnowing_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken
    2003 — the MOSS local-fingerprinting algorithm): hash every sliding
    5-token gram, select the MINIMUM hash in each window of
    4 consecutive grams, and report the top-20 document pairs by
    shared-fingerprint count. Winnowing guarantees any match of
    ≥ k+w-1 tokens is detected while storing only ~2/(w+1) of the gram
    hashes — the overlap detector plagiarism/mirror-hunting pipelines
    use where span-dedup (which needs the full gram table) is too
    expensive.

    Determinism: the gram hash is md5 (identical hex on both engines);
    window-min over lexicographic hex strings is engine-independent;
    everything downstream is exact integer counting. Fingerprints
    shared by >32 docs are boilerplate and dropped (the MOSS
    convention), which also bounds the pair join at ≤ C(32,2) pairs
    per fingerprint.

    Scale shape (100 TB): grams via 4 lead() calls over ONE
    doc-partitioned window (the span-dedup O(L) discipline — never
    posexplode-per-position); the winnow min rides the SAME window
    spec (one shuffle, one sort). The selected-fingerprint frame is
    ~corpus/(w+1)/2 and df-capped before the self-join; it is
    localCheckpointed because two join branches consume it (the
    persist-compact-kernel-output rule). Production would xxhash64 the
    gram before the shuffle; md5 strings are kept so the DuckDB twin
    is byte-comparable."""
    return winnow_pairs(load(spark, sf_dir, "documents"))


def winnow_fingerprints(docs: DataFrame) -> DataFrame:
    """Selected winnowing fingerprints ``(doc_id, mh)``, distinct, full
    windows only — the core of q_winnowing_fingerprint over any
    (doc_id, text) frame."""
    h = _word_grams(docs, _WIN_K).select("doc_id", "pos", F.md5("gram").alias("h"))
    wwin = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, _WIN_W - 1)
    fp = (
        h.select(
            "doc_id",
            F.min("h").over(wwin).alias("mh"),
            F.count("*").over(wwin).alias("wn"),
        )
        .where(F.col("wn") == _WIN_W)
        .select("doc_id", "mh")
        .distinct()
    )
    return fp


def winnow_pairs(docs: DataFrame) -> DataFrame:
    """Top-20 doc pairs by shared winnowing fingerprints —
    see q_winnowing_fingerprint."""
    fp = winnow_fingerprints(docs)
    df = (
        fp.groupBy("mh")
        .agg(F.count("*").alias("df"))
        .where((F.col("df") >= 2) & (F.col("df") <= _WIN_MAXDF))
        .select("mh")
    )
    fpk = store.materialize(fp.join(df, "mh"), "text.winnow_fingerprints", eager=True)
    a = fpk.select("mh", F.col("doc_id").alias("doc_a"))
    b = fpk.select("mh", F.col("doc_id").alias("doc_b"))
    pairs = (
        a.join(b, "mh")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("bigint").alias("n_shared"))
    )
    return pairs.orderBy(F.col("n_shared").desc(), "doc_a", "doc_b").limit(_WIN_TOPK)


_WINNOW_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id,
               generate_subscripts(string_split(text, ' '), 1) AS pos,
               unnest(string_split(text, ' ')) AS tok
        FROM documents
    ), g AS (
        SELECT doc_id, pos,
               tok {"".join(
                   f"|| ' ' || lead(tok, {i}) OVER (PARTITION BY doc_id ORDER BY pos) "
                   for i in range(1, _WIN_K)
               )} AS gram
        FROM toks
    ), h AS (
        SELECT doc_id, pos, md5(gram) AS h FROM g WHERE gram IS NOT NULL
    ), wm AS (
        SELECT doc_id,
               min(h) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW
                            AND {_WIN_W - 1} FOLLOWING) AS mh,
               count(*) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS BETWEEN CURRENT ROW
                              AND {_WIN_W - 1} FOLLOWING) AS wn
        FROM h
    ), fp AS (
        SELECT DISTINCT doc_id, mh FROM wm WHERE wn = {_WIN_W}
    ), df AS (
        SELECT mh FROM fp GROUP BY mh
        HAVING count(*) >= 2 AND count(*) <= {_WIN_MAXDF}
    ), fpk AS MATERIALIZED (
        SELECT fp.doc_id, fp.mh FROM fp JOIN df USING (mh)
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM fpk a JOIN fpk b ON a.mh = b.mh AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    ORDER BY n_shared DESC, doc_a, doc_b LIMIT {_WIN_TOPK}
"""


def q_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-Kincaid grade-level readability (Kincaid et al. 1975), a
    standard pretraining quality signal (e.g. in the C4/FineWeb
    filtering literature): FK = 0.39·(words/sentences) +
    11.8·(syllables/word) − 15.59, bucketed per language.

    Corpus conventions (documented, deterministic): words = whitespace
    tokens (the repo-wide convention); the synthetic corpus carries no
    terminal punctuation, so sentences = the repo's standard 8-token
    segments, S = ceil(W/8) — a real deployment swaps in
    ``regexp_count(text, '[.!?]+')``; syllables = vowel-group runs
    ``[aeiouy]+`` in the lowercased text (the classic heuristic).

    Determinism: W, S, Y are exact int64 counts; the three FK terms
    are pure integer division in micro-units (DuckDB ``//`` ≡ Spark
    ``DIV``, both truncate toward zero — the verified-safe spelling);
    no engine touches a float anywhere.

    Scale shape (100 TB): entirely row-local expressions in one scan +
    one bounded groupBy(lang, grade) with map-side partial aggregation
    — no shuffle beyond the ~|langs × grades| histogram."""
    docs = load(spark, sf_dir, "documents")
    per_doc = docs.select(
        "lang",
        F.size(keys.tokens()).cast("bigint").alias("w"),
        F.size(F.regexp_extract_all(F.lower(F.col("text")), F.lit("[aeiouy]+"), 0))
        .cast("bigint")
        .alias("y"),
    ).select(
        "lang",
        "w",
        "y",
        F.expr("(w + 7) DIV 8").alias("s"),
    ).select(
        "lang",
        F.expr(
            "(390000 * w) DIV greatest(s, 1)"
            " + (11800000 * y) DIV greatest(w, 1) - 15590000"
        )
        .cast("bigint")
        .alias("fk6"),
    )
    return (
        per_doc.groupBy(
            "lang", F.expr("fk6 DIV 1000000").cast("bigint").alias("fk_grade")
        )
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.min("fk6").alias("min_fk6"),
            F.max("fk6").alias("max_fk6"),
            F.sum("fk6").cast("bigint").alias("sum_fk6"),
        )
        .orderBy("lang", "fk_grade")
    )


_READABILITY_ORACLE = """
    WITH d AS (
        SELECT lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
               CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                    AS BIGINT) AS y
        FROM documents
    ), f AS (
        SELECT lang,
               CAST((390000 * w) // greatest((w + 7) // 8, 1)
                    + (11800000 * y) // greatest(w, 1)
                    - 15590000 AS BIGINT) AS fk6
        FROM d
    )
    SELECT lang, CAST(fk6 // 1000000 AS BIGINT) AS fk_grade,
           CAST(count(*) AS BIGINT) AS n_docs,
           min(fk6) AS min_fk6, max(fk6) AS max_fk6,
           CAST(sum(fk6) AS BIGINT) AS sum_fk6
    FROM f GROUP BY 1, 2
    ORDER BY lang, fk_grade
"""


def q_source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary Jaccard between sources — the domain-
    similarity matrix a mixture designer reads before merging or
    reweighting corpora (two sources with 0.9 vocab overlap are not two
    domains). For every source pair (sa < sb): |A∩B|, |A|, |B| and
    Jaccard in micro-units.

    Determinism: pure set counts (distinct (source, token)) and the
    integer micro ratio inter·10⁶ div (na + nb − inter).

    Scale: the corpus collapses to the distinct (source, token) frame
    in one combinable agg; the intersection join shuffles on the token
    (linear in vocab × source-incidence, never docs²); per-source sizes
    broadcast onto the bounded |sources|² output."""
    vocab = (
        load(spark, sf_dir, "documents")
        .select("source", F.explode(keys.tokens()).alias("tok"))
        .distinct()
    )
    sizes = vocab.groupBy(F.col("source").alias("sz_src")).agg(
        F.count("*").cast("bigint").alias("sz")
    )
    a = vocab.select(F.col("source").alias("sa"), "tok")
    b = vocab.select(F.col("source").alias("sb"), "tok")
    inter = (
        a.join(b, "tok")
        .where(F.col("sa") < F.col("sb"))
        .groupBy("sa", "sb")
        .agg(F.count("*").cast("bigint").alias("inter"))
    )
    return (
        inter.join(F.broadcast(sizes), F.col("sa") == F.col("sz_src"))
        .withColumnRenamed("sz", "na")
        .drop("sz_src")
        .join(F.broadcast(sizes), F.col("sb") == F.col("sz_src"))
        .withColumnRenamed("sz", "nb")
        .drop("sz_src")
        .select(
            "sa", "sb", "inter", "na", "nb",
            F.expr("inter * 1000000 div (na + nb - inter)")
            .cast("bigint")
            .alias("jaccard6"),
        )
        .orderBy("sa", "sb")
    )


_VOCAB_OVERLAP_ORACLE = """
    WITH vocab AS (
        SELECT DISTINCT source, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ), sizes AS (
        SELECT source, CAST(count(*) AS BIGINT) AS sz FROM vocab GROUP BY 1
    ), inter AS (
        SELECT a.source AS sa, b.source AS sb, CAST(count(*) AS BIGINT) AS inter
        FROM vocab a JOIN vocab b ON a.tok = b.tok AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT i.sa, i.sb, i.inter, x.sz AS na, y.sz AS nb,
           CAST(i.inter * 1000000 // (x.sz + y.sz - i.inter) AS BIGINT)
               AS jaccard6
    FROM inter i
    JOIN sizes x ON x.source = i.sa
    JOIN sizes y ON y.source = i.sb
    ORDER BY i.sa, i.sb
"""


_NB_TEST_MOD = 5  # doc_id % 5 == 0 is the held-out test split


def q_naive_bayes_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTINOMIAL NAIVE BAYES language identifier, trained and
    evaluated in one plan: train on doc_id % 5 ≠ 0 (per-language token
    counts with add-one smoothing + log priors), classify the held-out
    docs by argmax Σ log P(token|lang) + log P(lang), and emit the
    CONFUSION MATRIX — the classic supervised baseline beside the
    heuristic q_text_lang_id, with a leakage-safe deterministic split.

    Determinism: every log likelihood is ONE ln of an exact-int ratio
    (c+1)/(T_l+V), snapped to 1e-6 and evaluated only on the BOUNDED
    (lang, token) train table (plus one unseen-token constant per
    lang); document scores are integer sums of those snapped logs, and
    the argmax breaks ties by language name. Scale: scoring is a
    broadcast join of the token-likelihood table against exploded test
    tokens — one corpus pass, no shuffle bigger than (docs × langs)."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", keys.tokens().alias("toks")
    )
    train = docs.where(F.col("doc_id") % _NB_TEST_MOD != 0)
    test = docs.where(F.col("doc_id") % _NB_TEST_MOD == 0)
    tr_tok = train.select("lang", F.explode("toks").alias("tok"))
    # counts has one row per (lang, token), so totals and vocab derive
    # from IT (Σc per lang ≡ token count; distinct tok ≡ distinct tok)
    # instead of re-exploding the train corpus once per aggregate — the
    # df-from-tf trick (§2.4); counts itself is lazily checkpointed for
    # its two consumers (totals/vocab subtree + the likelihood table).
    # r21 interleaved A/B min 1.522 → 1.307 s at sf0.1, identical rows.
    counts = tr_tok.groupBy("lang", "tok").agg(F.count("*").cast("bigint").alias("c"))
    counts = store.materialize(counts, "text.nb_counts", eager=False)
    totals = counts.groupBy("lang").agg(F.sum("c").cast("bigint").alias("t_l"))
    vocab = counts.select("tok").distinct().agg(
        F.count("*").cast("bigint").alias("v")
    )
    dtot = train.agg(F.count("*").cast("bigint").alias("d_all"))
    lang_consts = store.materialize(
        train.groupBy("lang")
        .agg(F.count("*").cast("bigint").alias("d_l"))
        .join(totals, "lang")
        .crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(dtot))
        .select(
            F.col("lang").alias("cand_lang"),
            units(
                F.log(F.col("d_l").cast("double") / F.col("d_all").cast("double"))
            ).alias("prior6"),
            units(
                F.log(F.lit(1.0) / (F.col("t_l") + F.col("v")).cast("double"))
            ).alias("unseen6"),
            "t_l",
            "v",
        ),
        "text.nb_lang_consts", eager=False,
    )
    ll = store.materialize(
        counts.join(totals, "lang")
        .crossJoin(F.broadcast(vocab))
        .select(
            F.col("lang").alias("cand_lang"),
            "tok",
            units(
                F.log(
                    (F.col("c") + 1).cast("double")
                    / (F.col("t_l") + F.col("v")).cast("double")
                )
            ).alias("ll6"),
        ),
        "text.nb_loglik", eager=False,
    )
    te = test.select(
        "doc_id", F.col("lang").alias("true_lang"), F.explode("toks").alias("tok")
    )
    scored = (
        te.crossJoin(F.broadcast(lang_consts.select("cand_lang", "unseen6")))
        .join(F.broadcast(ll), ["cand_lang", "tok"], "left")
        .select(
            "doc_id",
            "true_lang",
            "cand_lang",
            F.coalesce("ll6", F.col("unseen6")).alias("w6"),
        )
        .groupBy("doc_id", "true_lang", "cand_lang")
        .agg(F.sum("w6").cast("bigint").alias("tok_score6"))
        .join(F.broadcast(lang_consts.select("cand_lang", "prior6")), "cand_lang")
        .withColumn("score6", F.col("tok_score6") + F.col("prior6"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score6").desc(), "cand_lang")
    pred = scored.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    return (
        pred.groupBy(F.col("true_lang"), F.col("cand_lang").alias("pred_lang"))
        .agg(F.count("*").cast("bigint").alias("n"))
        .orderBy("true_lang", "pred_lang")
    )


_TEXTRANK_MIN_LEN = 4  # keep only content-ish tokens (stopword proxy)
_TEXTRANK_TOPK = 20


def q_keyword_textrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEXTRANK keyword extraction (Mihalcea & Tarau 2004): PageRank
    over the word co-occurrence graph — nodes are content tokens
    (length ≥ 4, the stopword-filter proxy), undirected edges link
    tokens ADJACENT after filtering, and the damped PageRank of
    q_graph_pagerank (graph.py:37 — same helper, same 12dp-snap
    discipline) scores centrality. Top-20 keywords by (score desc,
    word asc).

    Scale: pair extraction is a NARROW zip of two array slices (no
    posexplode self-join — adjacency never shuffles); the graph is
    vocabulary-sized, so the T-iteration loop runs on a bounded frame
    exactly like the purchase-graph witness. Corpus cost = one scan.
    """
    from gasket_rs_spark.operators.graph import pagerank

    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        F.filter(
            keys.tokens(), lambda t: F.length(t) >= _TEXTRANK_MIN_LEN
        ).alias("ts")
    ).where(F.size("ts") >= 2)
    pairs = toks.select(
        F.explode(keys.grams(F.col("ts"), 2, _w1_w2)).alias("p")
    ).select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    e = pairs.where(F.col("w1") != F.col("w2"))
    edges = store.materialize(
        e.select(F.col("w1").alias("src"), F.col("w2").alias("dst"))
        .unionAll(e.select(F.col("w2").alias("src"), F.col("w1").alias("dst")))
        .distinct(),
        "text.textrank_edges", eager=True,
    )
    nodes = edges.select(F.col("src").alias("node")).distinct()
    ranks = pagerank(nodes, edges)
    return (
        ranks.select(F.col("node").alias("word"), F.round("pr", 9).alias("score"))
        .orderBy(F.col("score").desc(), "word")
        .limit(_TEXTRANK_TOPK)
    )


def _textrank_oracle() -> str:
    from gasket_rs_spark.operators.graph import _PR_D, _PR_ITERS, _PR_SNAP, unrolled_sql

    return unrolled_sql(
        f"""
        WITH toks AS (
            SELECT list_filter(string_split(text, ' '),
                               t -> len(t) >= {_TEXTRANK_MIN_LEN}) AS ts
            FROM documents
        ), pos AS (
            SELECT ts, unnest(generate_series(1, len(ts) - 1)) AS i
            FROM toks WHERE len(ts) >= 2
        ), adj AS (
            SELECT ts[i] AS w1, ts[i + 1] AS w2 FROM pos
            WHERE ts[i] <> ts[i + 1]
        ), edges AS MATERIALIZED (
            SELECT DISTINCT src, dst FROM (
                SELECT w1 AS src, w2 AS dst FROM adj
                UNION ALL
                SELECT w2 AS src, w1 AS dst FROM adj
            )
        ), nodes AS (
            SELECT DISTINCT src AS node FROM edges
        ), nn AS (
            SELECT CAST(count(*) AS DOUBLE) AS nn FROM nodes
        ), deg AS (
            SELECT src, CAST(count(*) AS DOUBLE) AS outdeg
            FROM edges GROUP BY src
        ), rk0 AS (
            SELECT n.node, round(1.0 / nn.nn, {_PR_SNAP}) AS pr
            FROM nodes n CROSS JOIN nn
        )""",
        lambda i: f""", c{i - 1} AS (
            SELECT e.dst AS node, sum(r.pr / d.outdeg) AS contrib
            FROM edges e
            JOIN deg d ON d.src = e.src
            JOIN rk{i - 1} r ON r.node = e.src
            GROUP BY e.dst
        ), g{i - 1} AS (
            SELECT coalesce(sum(r.pr), 0) AS dmass
            FROM rk{i - 1} r LEFT JOIN deg d ON d.src = r.node
            WHERE d.src IS NULL
        ), rk{i} AS (
            SELECT n.node,
                   round((1 - {_PR_D}) / nn.nn
                         + {_PR_D} * (coalesce(c.contrib, 0)
                                      + g{i - 1}.dmass / nn.nn),
                         {_PR_SNAP}) AS pr
            FROM nodes n
            CROSS JOIN nn
            CROSS JOIN g{i - 1}
            LEFT JOIN c{i - 1} c ON c.node = n.node
        )""",
        _PR_ITERS,
        f"""
        SELECT node AS word, round(pr, 9) AS score
        FROM rk{_PR_ITERS}
        ORDER BY score DESC, word
        LIMIT {_TEXTRANK_TOPK}""",
    )


def _source_vocab(spark: SparkSession, sf_dir: str, **aggs: Column) -> DataFrame:
    """Per source: ``n_tokens``, ``vocab`` (distinct whitespace tokens)
    and the bigint ``aggs`` over the per-(source, token) counts ``n``.
    One corpus pass → (source, token) counts (map-side combinable), then
    vocabulary-bounded aggregates."""
    toks = load(spark, sf_dir, "documents").select(
        "source", F.explode(keys.tokens()).alias("tok")
    )
    counts = toks.groupBy("source", "tok").agg(
        F.count("*").cast("bigint").alias("n")
    )
    return counts.groupBy("source").agg(
        F.sum("n").cast("bigint").alias("n_tokens"),
        F.count("*").cast("bigint").alias("vocab"),
        *[c.cast("bigint").alias(name) for name, c in aggs.items()],
    )


def q_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIMPSON DIVERSITY of the token distribution per source — the
    transcendental-free twin of token entropy: λ = Σ n_i(n_i−1) /
    (N(N−1)) is the collision probability of two draws without
    replacement (higher = more concentrated vocabulary), and 1/λ is
    the "effective vocabulary size" a mixture designer compares across
    sources. PURE int64 up to the two final divisions (one IEEE each,
    snapped) — no log, no sqrt, nothing to drift. Both denominators
    carry greatest(..., 1) guards (the chao1_richness discipline):
    n_tokens ≤ 1 would give 0/0 → NaN, and an all-distinct source
    (simpson6 = 0) would give 1e12/0 → Inf, where Spark's bigint cast
    saturates but DuckDB's CAST errors — data-dependent divergence the
    guards close identically on both engines (ADVICE r11)."""
    return (
        _source_vocab(
            spark, sf_dir, coll=F.sum(F.col("n") * (F.col("n") - 1))
        ).select(
            "source",
            "n_tokens",
            "vocab",
            units(
                F.col("coll").cast("double")
                / F.greatest(
                    F.col("n_tokens") * (F.col("n_tokens") - 1), F.lit(1)
                ).cast("double")
            ).alias("simpson6"),
        )
        .withColumn(
            "effective_vocab6",
            units(
                F.lit(1e12) / F.greatest(F.col("simpson6"), F.lit(1)).cast("double"), 1
            ),
        )
        .orderBy("source")
    )


def q_chao1_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAO1 vocabulary-richness estimator + GOOD-TURING unseen mass
    per source — "how many word types does this source REALLY have,
    and how much probability belongs to words we haven't seen yet":
    bias-corrected Chao1 = V + f₁·(f₁−1)/(2·(f₂+1)) from the
    singleton/doubleton counts (Chao 1984; the Chao1-bc form in
    Colwell's EstimateS docs — defined for f₂ = 0 with no ad-hoc
    guard, unlike the classical f₁²/(2f₂)), and the Good-Turing
    unseen-mass estimate P₀ = f₁/N — the pair of diagnostics behind
    corpus-coverage and smoothing-budget decisions (complements
    q_corpus_heaps_curve's growth fit and the KMV sketch's distinct
    estimate).

    Pure int64 frequency-of-frequency counts; each estimator is one
    IEEE division, snapped, identical on both engines."""
    return (
        _source_vocab(
            spark,
            sf_dir,
            f1=F.sum((F.col("n") == 1).cast("bigint")),
            f2=F.sum((F.col("n") == 2).cast("bigint")),
        ).select(
            "source",
            "n_tokens",
            "vocab",
            "f1",
            "f2",
            (
                F.col("vocab") * 1_000_000
                + units(
                    (F.col("f1") * (F.col("f1") - 1) * 1_000_000).cast("double")
                    / (2 * (F.col("f2") + 1)).cast("double"),
                    1,
                )
            )
            .cast("bigint")
            .alias("chao1_6"),
            F.expr("f1 * 1000000 div n_tokens").cast("bigint").alias("gt_unseen6"),
        )
        .orderBy("source")
    )


def q_lognormal_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOG-NORMAL fit of the document-length distribution per language
    (method of moments in log space) — the standard model for text
    length, and the fitted median/μ/σ feed length-bucket design and
    truncation policies. μ̂ = mean(ln n_chars), σ̂² = population
    variance of ln n_chars, fitted median = e^μ̂.

    Determinism: ln(n_chars) snaps to the 1e-6 integer grid PER ROW
    (one transcendental each, exact-int argument), so Σln6 and Σln6²
    are int64 sums (ln takes greatest(n_chars, 1) on both engines — an
    empty document would otherwise produce NULL on one engine and an
    error on the other, the ADVICE-r11 divergence class); μ is one
    integer division. σ² uses the fixed-order
    double spelling s2/n − (s1/n)² — the n-scaled integer numerator
    n·Σx² − (Σx)² overflows int64 here (s1 ≈ 6e10 at sf0.1), and the
    int64→double cast rounds identically on both engines, so the
    snapped result is still hash-stable. The fitted median is one exp
    of the snapped μ."""
    docs = load(spark, sf_dir, "documents").select(
        "lang",
        units(F.log(F.greatest(F.col("n_chars"), F.lit(1)).cast("double")))
        .alias("ln6"),
    )
    return (
        docs.groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("ln6").cast("bigint").alias("s1"),
            F.sum(F.col("ln6") * F.col("ln6")).cast("bigint").alias("s2"),
        )
        .select(
            "lang",
            "n_docs",
            F.expr("s1 div n_docs").cast("bigint").alias("mu6"),
            units(
                (
                    F.col("s2").cast("double") / F.col("n_docs").cast("double")
                    - (F.col("s1").cast("double") / F.col("n_docs").cast("double"))
                    * (F.col("s1").cast("double") / F.col("n_docs").cast("double"))
                )
                / 1e6,
                1,
            ).alias("var6"),
            units(F.exp(F.expr("s1 div n_docs").cast("double") / 1e6), 100)
            .alias("fitted_median_c"),
        )
        .orderBy("lang")
    )


_RAKE_TOPK = 15


def q_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010): short tokens act
    as phrase delimiters (the stopword proxy shared with TextRank),
    maximal runs of content tokens form candidate phrases, each word
    scores deg/freq over the phrase corpus, and a phrase scores the
    sum of its word scores — the co-occurrence-degree counterpart to
    q_keyword_textrank's graph centrality, and it surfaces PHRASES,
    not single words. Top-15 by (score, phrase).

    Determinism: word scores are the integer ratio (deg·1e6) div freq;
    phrase scores are integer sums; phrase strings assemble via
    sort_array over (pos, word) structs (never a bare collect_list —
    its order is nondeterministic). Scale: gaps-islands on token
    positions (one doc-partitioned window), then hash aggs keyed on
    the bounded phrase vocabulary."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.posexplode(keys.tokens()).alias("pos", "tok")
    )
    content = docs.where(F.length("tok") >= _TEXTRANK_MIN_LEN)
    wisl = Window.partitionBy("doc_id").orderBy("pos")
    phr_tok = content.withColumn("island", F.col("pos") - F.row_number().over(wisl))
    phr_tok = store.materialize(phr_tok, "text.rake_phrases", eager=True)
    phr_len = phr_tok.groupBy("doc_id", "island").agg(
        F.count("*").cast("bigint").alias("plen")
    )
    occ = phr_tok.join(phr_len, ["doc_id", "island"])
    word_stats = occ.groupBy("tok").agg(
        F.count("*").cast("bigint").alias("freq"),
        F.sum("plen").cast("bigint").alias("deg"),
    )
    ws = word_stats.select(
        "tok", F.expr("deg * 1000000 div freq").cast("bigint").alias("ws6")
    )
    phrases = (
        phr_tok.join(F.broadcast(ws), "tok")
        .groupBy("doc_id", "island")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct(F.col("pos"), F.col("tok")))
                    ),
                    lambda s: s["tok"],
                ),
            ).alias("phrase"),
            F.sum("ws6").cast("bigint").alias("score6"),
            F.count("*").cast("bigint").alias("n_words"),
        )
    )
    return (
        phrases.groupBy("phrase", "n_words", "score6")
        .agg(F.count("*").cast("bigint").alias("n_occurrences"))
        .orderBy(F.col("score6").desc(), "phrase")
        .limit(_RAKE_TOPK)
    )


ORACLES: dict[str, str] = {
    "chao1_richness": """
        WITH toks AS (
            SELECT source, unnest(string_split(text, ' ')) AS tok
            FROM documents
        ), counts AS (
            SELECT source, tok, CAST(count(*) AS BIGINT) AS n
            FROM toks GROUP BY 1, 2
        ), agg AS (
            SELECT source,
                   CAST(sum(n) AS BIGINT) AS n_tokens,
                   CAST(count(*) AS BIGINT) AS vocab,
                   CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS f1,
                   CAST(sum(CASE WHEN n = 2 THEN 1 ELSE 0 END) AS BIGINT)
                       AS f2
            FROM counts GROUP BY 1
        )
        SELECT source, n_tokens, vocab, f1, f2,
               CAST(vocab * 1000000
                    + CAST(floor(CAST(f1 * (f1 - 1) * 1000000 AS DOUBLE)
                                 / CAST(2 * (f2 + 1) AS DOUBLE) + 0.5)
                           AS BIGINT) AS BIGINT) AS chao1_6,
               CAST(f1 * 1000000 // n_tokens AS BIGINT) AS gt_unseen6
        FROM agg ORDER BY source
    """,
    "simpson_diversity": """
        WITH toks AS (
            SELECT source, unnest(string_split(text, ' ')) AS tok
            FROM documents
        ), counts AS (
            SELECT source, tok, CAST(count(*) AS BIGINT) AS n
            FROM toks GROUP BY 1, 2
        ), agg AS (
            SELECT source,
                   CAST(sum(n) AS BIGINT) AS n_tokens,
                   CAST(count(*) AS BIGINT) AS vocab,
                   CAST(sum(n * (n - 1)) AS BIGINT) AS coll
            FROM counts GROUP BY 1
        )
        SELECT source, n_tokens, vocab,
               CAST(floor(CAST(coll AS DOUBLE)
                          / CAST(greatest(n_tokens * (n_tokens - 1), 1)
                                 AS DOUBLE)
                          * 1e6 + 0.5) AS BIGINT) AS simpson6,
               CAST(floor(1e12 / CAST(greatest(
                          CAST(floor(CAST(coll AS DOUBLE)
                          / CAST(greatest(n_tokens * (n_tokens - 1), 1)
                                 AS DOUBLE)
                          * 1e6 + 0.5) AS BIGINT), 1) AS DOUBLE) + 0.5)
                    AS BIGINT) AS effective_vocab6
        FROM agg ORDER BY source
    """,
    "lognormal_fit": """
        WITH docs AS (
            SELECT lang,
                   CAST(floor(ln(CAST(greatest(n_chars, 1) AS DOUBLE))
                              * 1e6 + 0.5)
                        AS BIGINT) AS ln6
            FROM documents
        ), agg AS (
            SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(ln6) AS BIGINT) AS s1,
                   CAST(sum(ln6 * ln6) AS BIGINT) AS s2
            FROM docs GROUP BY 1
        )
        SELECT lang, n_docs,
               CAST(s1 // n_docs AS BIGINT) AS mu6,
               CAST(floor((CAST(s2 AS DOUBLE) / CAST(n_docs AS DOUBLE)
                           - (CAST(s1 AS DOUBLE) / CAST(n_docs AS DOUBLE))
                             * (CAST(s1 AS DOUBLE) / CAST(n_docs AS DOUBLE)))
                          / 1e6 + 0.5)
                    AS BIGINT) AS var6,
               CAST(floor(exp(CAST(s1 // n_docs AS DOUBLE) / 1e6) * 100 + 0.5)
                    AS BIGINT) AS fitted_median_c
        FROM agg ORDER BY lang
    """,
    "naive_bayes_langid": f"""
        WITH docs AS (
            SELECT doc_id, lang, string_split(text, ' ') AS toks
            FROM documents
        ), tr_tok AS (
            SELECT lang, unnest(toks) AS tok FROM docs
            WHERE doc_id % {_NB_TEST_MOD} <> 0
        ), counts AS (
            SELECT lang, tok, CAST(count(*) AS BIGINT) AS c
            FROM tr_tok GROUP BY 1, 2
        ), totals AS (
            SELECT lang, CAST(count(*) AS BIGINT) AS t_l
            FROM tr_tok GROUP BY 1
        ), vocab AS (
            SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v FROM tr_tok
        ), dtot AS (
            SELECT CAST(count(*) AS BIGINT) AS d_all FROM docs
            WHERE doc_id % {_NB_TEST_MOD} <> 0
        ), lang_consts AS (
            SELECT t.lang AS cand_lang,
                   CAST(floor(ln(CAST(d.d_l AS DOUBLE)
                                 / CAST(dtot.d_all AS DOUBLE)) * 1e6 + 0.5)
                        AS BIGINT) AS prior6,
                   CAST(floor(ln(1.0 / CAST(t.t_l + vocab.v AS DOUBLE))
                              * 1e6 + 0.5) AS BIGINT) AS unseen6
            FROM totals t
            JOIN (SELECT lang, CAST(count(*) AS BIGINT) AS d_l FROM docs
                  WHERE doc_id % {_NB_TEST_MOD} <> 0 GROUP BY 1) d
              ON t.lang = d.lang
            CROSS JOIN vocab CROSS JOIN dtot
        ), ll AS (
            SELECT c.lang AS cand_lang, c.tok,
                   CAST(floor(ln(CAST(c.c + 1 AS DOUBLE)
                                 / CAST(t.t_l + vocab.v AS DOUBLE))
                              * 1e6 + 0.5) AS BIGINT) AS ll6
            FROM counts c JOIN totals t ON c.lang = t.lang CROSS JOIN vocab
        ), te AS (
            SELECT doc_id, lang AS true_lang, unnest(toks) AS tok FROM docs
            WHERE doc_id % {_NB_TEST_MOD} = 0
        ), scored AS (
            SELECT te.doc_id, te.true_lang, lc.cand_lang,
                   CAST(sum(COALESCE(ll.ll6, lc.unseen6)) AS BIGINT)
                       + CAST(max(lc.prior6) AS BIGINT) AS score6
            FROM te
            CROSS JOIN lang_consts lc
            LEFT JOIN ll ON ll.cand_lang = lc.cand_lang AND ll.tok = te.tok
            GROUP BY 1, 2, 3
        ), pred AS (
            SELECT true_lang, cand_lang AS pred_lang FROM (
                SELECT *, row_number() OVER (PARTITION BY doc_id
                              ORDER BY score6 DESC, cand_lang) AS rn
                FROM scored
            ) WHERE rn = 1
        )
        SELECT true_lang, pred_lang, CAST(count(*) AS BIGINT) AS n
        FROM pred GROUP BY 1, 2 ORDER BY 1, 2
    """,
    "rake_keyphrases": f"""
        WITH toks AS (
            SELECT doc_id, ts, unnest(generate_series(1, len(ts))) AS pos
            FROM (SELECT doc_id, string_split(text, ' ') AS ts
                  FROM documents)
        ), content AS (
            SELECT doc_id, pos, ts[pos] AS tok,
                   pos - row_number() OVER (PARTITION BY doc_id
                                            ORDER BY pos) AS island
            FROM toks WHERE len(ts[pos]) >= {_TEXTRANK_MIN_LEN}
        ), phr_len AS (
            SELECT doc_id, island, CAST(count(*) AS BIGINT) AS plen
            FROM content GROUP BY 1, 2
        ), word_stats AS (
            SELECT c.tok, CAST(count(*) AS BIGINT) AS freq,
                   CAST(sum(p.plen) AS BIGINT) AS deg
            FROM content c JOIN phr_len p USING (doc_id, island)
            GROUP BY 1
        ), ws AS (
            SELECT tok, CAST(deg * 1000000 // freq AS BIGINT) AS ws6
            FROM word_stats
        ), phrases AS (
            SELECT c.doc_id, c.island,
                   string_agg(c.tok, ' ' ORDER BY c.pos) AS phrase,
                   CAST(sum(w.ws6) AS BIGINT) AS score6,
                   CAST(count(*) AS BIGINT) AS n_words
            FROM content c JOIN ws w ON c.tok = w.tok
            GROUP BY 1, 2
        )
        SELECT phrase, n_words, score6,
               CAST(count(*) AS BIGINT) AS n_occurrences
        FROM phrases
        GROUP BY 1, 2, 3
        ORDER BY score6 DESC, phrase
        LIMIT {_RAKE_TOPK}
    """,
    "keyword_textrank": _textrank_oracle(),
    "source_vocab_overlap": _VOCAB_OVERLAP_ORACLE,
    "text_readability": _READABILITY_ORACLE,
    "winnowing_fingerprint": _WINNOW_ORACLE,
    "collocation_pmi": _PMI_ORACLE,
    "text_novelty": """
        WITH toks AS (
            SELECT doc_id,
                   unnest(string_split(text, ' ')) AS tok,
                   generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
            FROM documents
        ), grams AS (
            SELECT doc_id,
                   tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w
                       || ' ' || lead(tok, 3) OVER w || ' ' || lead(tok, 4) OVER w
                       || ' ' || lead(tok, 5) OVER w || ' ' || lead(tok, 6) OVER w
                       || ' ' || lead(tok, 7) OVER w AS gram
            FROM toks
            WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        ), dg AS (
            SELECT DISTINCT doc_id, gram FROM grams WHERE gram IS NOT NULL
        ), firsts AS (
            SELECT gram, min(doc_id) AS first_doc FROM dg GROUP BY gram
        )
        SELECT dg.doc_id,
               CAST(count(*) AS BIGINT) AS n_grams,
               CAST(sum(CASE WHEN f.first_doc = dg.doc_id THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_novel,
               floor(sum(CASE WHEN f.first_doc = dg.doc_id THEN 1 ELSE 0 END)
                     / CAST(count(*) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS novelty
        FROM dg JOIN firsts f USING (gram)
        GROUP BY dg.doc_id
    """,
    "corpus_zipf_slope": """
        WITH counts AS (
            SELECT tok, count(*) AS freq
            FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
            GROUP BY tok
        ), top AS (
            SELECT tok, freq FROM counts ORDER BY freq DESC, tok LIMIT 100
        ), ranked AS (
            SELECT ln(CAST(freq AS DOUBLE)) AS ly,
                   ln(CAST(row_number() OVER (ORDER BY freq DESC, tok) AS DOUBLE)) AS lx
            FROM top
        )
        SELECT regr_count(ly, lx) AS n_tokens,
               floor(regr_slope(ly, lx) * 1e6 + 0.5) / 1e6 AS zipf_slope,
               floor(regr_r2(ly, lx) * 1e6 + 0.5) / 1e6 AS fit_r2
        FROM ranked
    """,
    "corpus_heaps_curve": """
        WITH mx AS (
            SELECT max(doc_id) AS mx FROM documents
        ), ex AS (
            SELECT doc_id,
                   unnest(string_split(text, ' ')) AS w,
                   generate_subscripts(string_split(text, ' '), 1) AS pos
            FROM documents
        ), bg AS (
            SELECT doc_id,
                   w || ' ' || lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS tok
            FROM ex
        ), toks AS (
            SELECT least(CAST(floor(b.doc_id * 10.0 / (mx.mx + 1)) AS INT), 9) AS bucket,
                   b.tok
            FROM bg b CROSS JOIN mx
            WHERE b.tok IS NOT NULL
        ), firsts AS (
            SELECT tok, min(bucket) AS first_bucket FROM toks GROUP BY tok
        ), new_per AS (
            SELECT first_bucket, count(*) AS new_tokens FROM firsts GROUP BY 1
        )
        SELECT first_bucket AS bucket, new_tokens,
               CAST(sum(new_tokens) OVER (ORDER BY first_bucket
                                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS vocab_cum
        FROM new_per
    """,
    "text_bm25_topk": f"""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
        ), tf AS (
            SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2
        ), doclen AS (
            SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1
        ), stats AS (
            SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avg_dl FROM doclen
        ), df_t AS (
            SELECT tok, count(*) AS df FROM tf GROUP BY 1
        ), probes AS (
            SELECT tok, df FROM df_t ORDER BY df DESC, tok LIMIT 2
        ), scored AS (
            SELECT t.tok, t.doc_id, t.tf, d.dl,
                   floor(ln((s.n_docs - p.df + 0.5) / (p.df + 0.5) + 1.0)
                         * t.tf * ({_BM25_K1} + 1)
                         / (t.tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * d.dl / s.avg_dl))
                         * 1e6 + 0.5) / 1e6 AS score
            FROM tf t
            JOIN probes p USING (tok)
            JOIN doclen d USING (doc_id)
            CROSS JOIN stats s
        )
        SELECT tok, CAST(rnk AS INT) AS rnk, doc_id, tf, dl, score
        FROM (
            SELECT *, row_number() OVER (PARTITION BY tok
                                         ORDER BY score DESC, doc_id) AS rnk
            FROM scored
        )
        WHERE rnk <= {_BM25_TOPK}
    """,
    "text_feature_hashing": f"""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
        ), counts AS (
            SELECT doc_id,
                   ('0x' || substr(md5(tok), 1, 8))::BIGINT % {_HASH_DIMS} AS dim,
                   count(*) AS cnt
            FROM toks GROUP BY 1, 2
        ), grid AS (
            SELECT d.doc_id, u.dim
            FROM (SELECT DISTINCT doc_id FROM documents) d
            CROSS JOIN (SELECT unnest(range({_HASH_DIMS})) AS dim) u
        ), filled AS (
            SELECT g.doc_id, g.dim, coalesce(c.cnt, 0) AS cnt
            FROM grid g LEFT JOIN counts c USING (doc_id, dim)
        )
        SELECT doc_id,
               string_agg(CAST(cnt AS VARCHAR), ',' ORDER BY dim) AS features,
               CAST(sum(cnt) AS BIGINT) AS n_tokens
        FROM filled
        GROUP BY doc_id
    """,
    "dataset_fingerprint": f"""
        WITH per AS (
            SELECT doc_id % {_FP_SHARDS} AS shard,
                   ('0x' || substr(md5(text), 1, 12))::BIGINT % {_FP_P} AS h
            FROM documents
        ), shards AS (
            SELECT shard,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(CAST(sum(h) AS BIGINT) % {_FP_P} AS BIGINT) AS digest
            FROM per GROUP BY shard
        ), root AS (
            SELECT md5(string_agg(
                       lpad(CAST(shard AS VARCHAR), 2, '0') || ':'
                           || CAST(digest AS VARCHAR),
                       '|' ORDER BY lpad(CAST(shard AS VARCHAR), 2, '0')))
                   AS root_digest
            FROM shards
        )
        SELECT shard, n_docs, digest, root_digest
        FROM shards CROSS JOIN root
    """,
    "global_token_offsets": f"""
        WITH base AS (
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                   md5(CAST(doc_id AS VARCHAR)) AS h
            FROM documents
        ), sharded AS (
            SELECT doc_id, n_tokens, h,
                   ('0x' || substr(h, 1, 2))::BIGINT % {_OFFSET_SHARDS} AS shard
            FROM base
        ), totals AS (
            SELECT shard, CAST(sum(n_tokens) AS BIGINT) AS shard_tokens
            FROM sharded GROUP BY shard
        ), bases AS (
            SELECT t.shard,
                   CAST(coalesce(sum(t2.shard_tokens), 0) AS BIGINT) AS shard_base
            FROM totals t LEFT JOIN totals t2 ON t2.shard < t.shard
            GROUP BY t.shard
        )
        SELECT s.doc_id, s.shard, s.n_tokens,
               CAST(b.shard_base
                    + sum(s.n_tokens) OVER (
                          PARTITION BY s.shard ORDER BY s.h, s.doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    - s.n_tokens AS BIGINT) AS global_offset
        FROM sharded s JOIN bases b USING (shard)
    """,
    "length_bucket_batching": f"""
        WITH per AS (
            SELECT n_tokens,
                   CASE WHEN n_tokens <= 1 THEN CAST(1 AS BIGINT)
                        ELSE CAST(1 << length(bin(n_tokens - 1)) AS BIGINT)
                   END AS bucket_cap
            FROM (SELECT CAST(len(string_split(text, ' ')) AS BIGINT)
                         AS n_tokens
                  FROM documents)
            WHERE n_tokens >= 1
        ), agg AS (
            SELECT bucket_cap,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
            FROM per GROUP BY bucket_cap
        )
        SELECT bucket_cap, n_docs, sum_tokens,
               CAST((n_docs + {_LB_BATCH_DOCS - 1}) // {_LB_BATCH_DOCS}
                    AS BIGINT) AS n_batches,
               floor((1.0 - sum_tokens
                      / CAST(CAST((n_docs + {_LB_BATCH_DOCS - 1})
                                  // {_LB_BATCH_DOCS} AS BIGINT)
                             * {_LB_BATCH_DOCS} * bucket_cap AS DOUBLE))
                     * 1e6 + 0.5) / 1e6 AS waste_ratio
        FROM agg
    """,
    "kn_bigram_lm": f"""
        WITH toks AS (
            SELECT doc_id,
                   unnest(string_split(text, ' ')) AS tok,
                   generate_subscripts(string_split(text, ' '), 1) AS pos
            FROM documents
        ), ex AS (
            SELECT doc_id, w1, w2 FROM (
                SELECT doc_id, tok AS w1, lead(tok, 1) OVER w AS w2
                FROM toks
                WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
            ) WHERE w2 IS NOT NULL
        ), types AS (
            SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
            FROM ex GROUP BY w1, w2
        ), ctx AS (
            SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
                   CAST(count(*) AS BIGINT) AS n1p_fwd
            FROM types GROUP BY w1
        ), bwd AS (
            SELECT w2, CAST(count(*) AS BIGINT) AS n1p_bwd
            FROM types GROUP BY w2
        ), ntypes AS (
            SELECT CAST(count(*) AS BIGINT) AS n_types FROM types
        ), st AS (
            SELECT t.w1, t.w2,
                   CAST(floor(log2(
                       greatest(t.c12 - {_KN_D}, 0.0) / c.c1
                       + ({_KN_D} * c.n1p_fwd / c.c1)
                         * (b.n1p_bwd / n.n_types)
                   ) * 1e6 + 0.5) AS BIGINT) AS term6
            FROM types t
            JOIN ctx c USING (w1)
            JOIN bwd b USING (w2)
            CROSS JOIN ntypes n
        )
        SELECT e.doc_id,
               CAST(count(*) AS BIGINT) AS n_bigrams,
               CAST(sum(s.term6) AS BIGINT) AS sum_log2p_micro,
               floor(CAST(sum(s.term6) AS BIGINT)
                     / CAST(count(*) AS DOUBLE) + 0.5) / 1e6 AS kn_avg_log2p
        FROM ex e
        JOIN st s ON s.w1 = e.w1 AND s.w2 = e.w2
        GROUP BY e.doc_id
    """,
    "perplexity_buckets": """
        WITH toks AS (
            SELECT doc_id,
                   unnest(string_split(text, ' ')) AS tok,
                   generate_subscripts(string_split(text, ' '), 1) AS pos
            FROM documents
        ), tri AS (
            SELECT doc_id,
                   tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w
                       AS gram,
                   tok || ' ' || lead(tok, 1) OVER w AS ctx
            FROM toks
            WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        ), ex AS (
            SELECT doc_id, gram, ctx FROM tri WHERE gram IS NOT NULL
        ), c3 AS (
            SELECT gram, count(*) AS c3 FROM ex GROUP BY gram
        ), c2 AS (
            SELECT ctx, count(*) AS c2 FROM ex GROUP BY ctx
        ), scored AS (
            SELECT e.doc_id,
                   count(*) AS n_trigrams,
                   floor(sum(log2(CAST(c3.c3 AS DOUBLE) / c2.c2)) / count(*) * 1e6
                         + 0.5) / 1e6 AS avg_log2p
            FROM ex e
            JOIN c3 ON c3.gram = e.gram
            JOIN c2 ON c2.ctx = e.ctx
            GROUP BY e.doc_id
        ), bkt AS (
            SELECT doc_id, n_trigrams, avg_log2p,
                   CAST(floor(avg_log2p * 100) AS BIGINT) AS qb
            FROM scored
        ), hist AS (
            SELECT qb, count(*) AS cnt FROM bkt GROUP BY qb
        ), cum AS (
            SELECT h.qb, h.cnt,
                   CAST(coalesce(sum(h2.cnt), 0) AS BIGINT) AS cum_above
            FROM hist h LEFT JOIN hist h2 ON h2.qb > h.qb
            GROUP BY h.qb, h.cnt
        ), total AS (
            SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM hist
        ), lab AS (
            SELECT qb,
                   CASE WHEN (cum_above + cnt) * 3 <= n_total THEN 'head'
                        WHEN (cum_above + cnt) * 3 <= 2 * n_total THEN 'middle'
                        ELSE 'tail' END AS bucket
            FROM cum CROSS JOIN total
        )
        SELECT l.bucket, d.lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(b.n_trigrams) AS BIGINT) AS n_trigrams,
               min(b.avg_log2p) AS min_score,
               max(b.avg_log2p) AS max_score
        FROM bkt b
        JOIN lab l USING (qb)
        JOIN documents d USING (doc_id)
        GROUP BY l.bucket, d.lang
    """,
    "text_lm_score": """
        WITH toks AS (
            SELECT doc_id,
                   unnest(string_split(text, ' ')) AS tok,
                   generate_subscripts(string_split(text, ' '), 1) AS pos
            FROM documents
        ), tri AS (
            SELECT doc_id,
                   tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w
                       AS gram,
                   tok || ' ' || lead(tok, 1) OVER w AS ctx
            FROM toks
            WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        ), ex AS (
            SELECT doc_id, gram, ctx FROM tri WHERE gram IS NOT NULL
        ), c3 AS (
            SELECT gram, count(*) AS c3 FROM ex GROUP BY gram
        ), c2 AS (
            SELECT ctx, count(*) AS c2 FROM ex GROUP BY ctx
        ), scored AS (
            SELECT e.doc_id,
                   count(*) AS n_trigrams,
                   floor(sum(log2(CAST(c3.c3 AS DOUBLE) / c2.c2)) / count(*) * 1e6
                         + 0.5) / 1e6 AS avg_log2p
            FROM ex e
            JOIN c3 ON c3.gram = e.gram
            JOIN c2 ON c2.ctx = e.ctx
            GROUP BY e.doc_id
        )
        SELECT doc_id, n_trigrams, avg_log2p,
               round(power(2.0, -avg_log2p), 4) AS ppl_proxy
        FROM scored
    """,
    "text_inverted_index": f"""
        WITH tf AS (
            SELECT tok, doc_id, count(*) AS tf
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                  FROM documents)
            GROUP BY tok, doc_id
        ), top AS (
            SELECT tok, doc_id, tf,
                   row_number() OVER (PARTITION BY tok
                                      ORDER BY tf DESC, doc_id) AS rnk
            FROM tf
        ), postings AS (
            SELECT tok,
                   string_agg(doc_id || ':' || tf, ' ' ORDER BY rnk) AS postings
            FROM top WHERE rnk <= {_POSTINGS_K}
            GROUP BY tok
        ), stats AS (
            SELECT tok, count(*) AS df, CAST(sum(tf) AS BIGINT) AS total_tf
            FROM tf GROUP BY tok
        )
        SELECT s.tok, s.df, s.total_tf, p.postings
        FROM stats s JOIN postings p USING (tok)
    """,
    "text_span_dedup": """
        WITH toks AS (
            SELECT doc_id,
                   unnest(string_split(text, ' ')) AS tok,
                   generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
            FROM documents
        ), grams AS (
            SELECT doc_id, pos,
                   tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w
                       || ' ' || lead(tok, 3) OVER w || ' ' || lead(tok, 4) OVER w
                       || ' ' || lead(tok, 5) OVER w || ' ' || lead(tok, 6) OVER w
                       || ' ' || lead(tok, 7) OVER w AS gram
            FROM toks
            WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        ), g2 AS (
            SELECT * FROM grams WHERE gram IS NOT NULL
        ), firsts AS (
            -- (doc_id, pos) struct min, same as Spark: collision-free
            -- for any per-doc token count (ADVICE r8)
            SELECT gram, min(row(doc_id, pos)) AS first_k FROM g2 GROUP BY gram
        ), dups AS (
            SELECT g.doc_id, g.pos AS s, g.pos + 8 AS e
            FROM g2 g JOIN firsts f USING (gram)
            WHERE row(g.doc_id, g.pos) > f.first_k
        ), flagged AS (
            SELECT doc_id, s, e,
                   CASE WHEN max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                            IS NULL
                         OR s > max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                        THEN 1 ELSE 0 END AS new_island
            FROM dups
        ), islands AS (
            SELECT doc_id, s, e,
                   sum(new_island) OVER (PARTITION BY doc_id ORDER BY s, e
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS island
            FROM flagged
        ), rem AS (
            SELECT doc_id,
                   CAST(sum(is_e - is_s) AS BIGINT) AS n_removed,
                   CAST(sum(n_w) AS BIGINT) AS n_dup_windows
            FROM (SELECT doc_id, island,
                         min(s) AS is_s, max(e) AS is_e, count(*) AS n_w
                  FROM islands GROUP BY 1, 2)
            GROUP BY doc_id
        ), counts AS (
            SELECT doc_id, count(*) AS n_tokens FROM toks GROUP BY doc_id
        )
        SELECT c.doc_id, c.n_tokens,
               coalesce(r.n_dup_windows, 0) AS n_dup_windows,
               coalesce(r.n_removed, 0) AS n_removed,
               floor(((c.n_tokens - coalesce(r.n_removed, 0)) / c.n_tokens) * 1e6 + 0.5)
                   / 1e6 AS keep_ratio
        FROM counts c LEFT JOIN rem r USING (doc_id)
    """,
    "text_token_entropy": """
        WITH counts AS (
            SELECT doc_id, lang, tok, count(*) AS c
            FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
                  FROM documents)
            GROUP BY doc_id, lang, tok
        ), per_doc AS (
            SELECT doc_id, lang,
                   CAST(sum(c) AS BIGINT) AS n_tokens,
                   count(*) AS n_distinct,
                   sum(c * log2(c)) AS s
            FROM counts GROUP BY doc_id, lang
        )
        SELECT doc_id, lang, n_tokens, n_distinct,
               round(log2(n_tokens) - s / n_tokens, 6) AS entropy,
               CASE WHEN n_distinct = 1 THEN 0.0
                    ELSE round((log2(n_tokens) - s / n_tokens) / log2(n_distinct), 6)
               END AS norm_entropy
        FROM per_doc
    """,
    "segment_quality_filter": r"""
        WITH segs AS (
            SELECT doc_id,
                   unnest(regexp_extract_all(text, '\S+( \S+){0,7}', 0)) AS seg
            FROM documents
        ), scored AS (
            SELECT doc_id,
                   CAST(len(string_split(seg, ' ')) AS BIGINT) AS nt,
                   CASE WHEN len(string_split(seg, ' ')) >= 6
                         AND CAST(len(list_distinct(string_split(seg, ' ')))
                                  AS DOUBLE)
                             / CAST(len(string_split(seg, ' ')) AS DOUBLE)
                             >= 0.6
                        THEN 1 ELSE 0 END AS keep
            FROM segs
        ), agg AS (
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_segments,
                   CAST(sum(keep) AS BIGINT) AS n_kept,
                   CAST(sum(nt * keep) AS BIGINT) AS kept_tokens
            FROM scored GROUP BY doc_id
        )
        SELECT doc_id, n_segments, n_kept, kept_tokens,
               floor(CAST(n_kept AS DOUBLE) / CAST(n_segments AS DOUBLE)
                     * 1e6 + 0.5) / 1e6 AS kept_fraction
        FROM agg
    """,
    "boilerplate_rate_by_source": r"""
        WITH segs AS (
            SELECT source, doc_id,
                   unnest(regexp_extract_all(text, '\S+( \S+){0,7}', 0)) AS seg
            FROM documents
        ), per AS (
            SELECT source, seg,
                   CAST(count(*) AS BIGINT) AS cnt,
                   CAST(count(DISTINCT doc_id) AS BIGINT) AS nd
            FROM segs GROUP BY source, seg
        ), agg AS (
            SELECT source,
                   CAST(sum(cnt) AS BIGINT) AS n_segments,
                   CAST(sum(CASE WHEN nd >= 2 THEN cnt ELSE 0 END) AS BIGINT)
                       AS n_boilerplate
            FROM per GROUP BY source
        )
        SELECT source, n_segments, n_boilerplate,
               floor(CAST(n_boilerplate AS DOUBLE)
                     / CAST(n_segments AS DOUBLE) * 1e6 + 0.5) / 1e6
                   AS boilerplate_rate
        FROM agg
    """,
    "text_line_dedup": r"""
        WITH segs AS (
            SELECT doc_id,
                   unnest(regexp_extract_all(text, '\S+( \S+){0,7}', 0)) AS seg,
                   generate_subscripts(
                       regexp_extract_all(text, '\S+( \S+){0,7}', 0), 1
                   ) - 1 AS pos  -- 0-based, matching Spark posexplode
            FROM documents
        ),
        firsts AS (
            -- (doc_id, pos) struct min, same as Spark (ADVICE r8)
            SELECT seg, min(row(doc_id, pos)) AS first_k FROM segs GROUP BY seg
        ),
        kept AS (
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_kept,
                   string_agg(seg, ' ' ORDER BY pos) AS kept_text
            FROM segs JOIN firsts USING (seg)
            WHERE row(doc_id, pos) = first_k
            GROUP BY doc_id
        )
        SELECT d.doc_id,
               CAST(len(regexp_extract_all(d.text, '\S+( \S+){0,7}', 0))
                    AS BIGINT) AS n_segs,
               COALESCE(kept.n_kept, 0) AS n_kept,
               COALESCE(kept.kept_text, '') AS kept_text
        FROM documents d LEFT JOIN kept USING (doc_id)
    """,
    "text_ngram_lm_stats": """
        WITH toks AS (
            SELECT doc_id,
                   unnest(string_split(text, ' ')) AS tok,
                   generate_subscripts(string_split(text, ' '), 1) AS pos
            FROM documents
        ), grams AS (
            SELECT a.doc_id, a.tok AS w1,
                   b.tok || ' ' || c.tok AS suffix,
                   a.tok || ' ' || b.tok || ' ' || c.tok AS gram
            FROM toks a
            JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
            JOIN toks c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
        ), gs AS (
            SELECT gram, suffix, count(*) AS n_occ,
                   count(DISTINCT doc_id) AS n_docs
            FROM grams GROUP BY 1, 2
        ), ld AS (
            SELECT suffix, count(DISTINCT w1) AS n_left_contexts
            FROM grams GROUP BY 1
        )
        SELECT g.gram, g.n_occ, g.n_docs, l.n_left_contexts
        FROM gs g JOIN ld l USING (suffix)
        ORDER BY g.n_occ DESC, g.gram
        LIMIT 50
    """,
    "text_decontaminate": """
        WITH toks AS (
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
        )
        SELECT g.doc_id,
               count(*) AS n_grams,
               CAST(count(e.gram) AS BIGINT) AS n_overlap,
               floor(CAST(count(e.gram) AS DOUBLE) / count(*) * 1000000 + 0.5)
                 / 1000000 AS contamination
        FROM grams g
        LEFT JOIN eval_grams e ON g.gram = e.gram
        WHERE g.doc_id % 53 <> 0
        GROUP BY g.doc_id
        HAVING count(e.gram) > 0
    """,
    "text_chunk_pack": """
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ), s AS (
            SELECT doc_id, toks,
                   unnest(generate_series(
                       0, CAST(floor((len(toks) - 1) / 48) AS BIGINT))) AS chunk_id
            FROM t
        ), chunks AS (
            SELECT doc_id, chunk_id,
                   CAST(len(toks[chunk_id * 48 + 1 : chunk_id * 48 + 64]) AS BIGINT) AS n_tokens,
                   md5(CAST(doc_id AS VARCHAR) || ':' || CAST(chunk_id AS VARCHAR)) AS h
            FROM s
        ), b AS (
            SELECT doc_id, chunk_id, n_tokens, h,
                   ('0x' || substr(h, 1, 2))::BIGINT % 64 AS bucket
            FROM chunks
        )
        SELECT doc_id, chunk_id, bucket,
               CAST(floor((sum(n_tokens) OVER (PARTITION BY bucket
                    ORDER BY h, doc_id, chunk_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)
                    / 2048.0) AS BIGINT) AS batch_in_bucket,
               n_tokens
        FROM b
    """,
    "heavy_hitters": """
        WITH tokens AS (
            SELECT unnest(string_split(text, ' ')) AS token FROM documents
        ), n AS (
            SELECT count(*) AS total FROM tokens
        )
        SELECT token, count(*) AS cnt,
               floor(count(*) / total * 1000000 + 0.5) / 1000000 AS share
        FROM tokens, n
        GROUP BY token, total
        HAVING count(*) > total / 30
    """,
    "text_vocab_oov": """
        WITH tokens AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
        ), vocab AS (
            SELECT token FROM (
                SELECT token, count(*) AS cnt FROM tokens GROUP BY token
            ) ORDER BY cnt DESC, token LIMIT 20
        )
        SELECT doc_id,
               count(*) AS n_tokens,
               CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
               floor(CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                     / count(*) * 1000000 + 0.5) / 1000000 AS oov_rate
        FROM tokens t LEFT JOIN vocab v USING (token)
        GROUP BY doc_id
    """,
    "text_chunk": """
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ), s AS (
            SELECT doc_id, toks,
                   unnest(generate_series(
                       0, CAST(floor((len(toks) - 1) / 48) AS BIGINT))) AS chunk_id
            FROM t
        )
        SELECT doc_id, chunk_id,
               array_to_string(toks[chunk_id * 48 + 1 : chunk_id * 48 + 64], ' ') AS chunk_text,
               CAST(len(toks[chunk_id * 48 + 1 : chunk_id * 48 + 64]) AS BIGINT) AS n_tokens
        FROM s
    """,
    "text_pack_batches": """
        WITH t AS (
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                   md5(CAST(doc_id AS VARCHAR)) AS h
            FROM documents
        ), b AS (
            SELECT doc_id, n_tokens, h,
                   ('0x' || substr(h, 1, 2))::BIGINT % 64 AS bucket
            FROM t
        )
        SELECT doc_id, bucket,
               CAST(floor((sum(n_tokens) OVER (PARTITION BY bucket ORDER BY h, doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)
                    / 2048.0) AS BIGINT) AS batch_in_bucket,
               n_tokens
        FROM b
    """,
    "text_repetition": """
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        b AS (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(toks)),
                                         i -> toks[i] || ' ' || toks[i+1])) AS bigram
            FROM t WHERE len(toks) >= 2
        ),
        bc AS (SELECT doc_id, bigram, count(*) AS c FROM b GROUP BY 1, 2),
        m AS (SELECT doc_id, max(c) AS mx, CAST(sum(c) AS BIGINT) AS nb
              FROM bc GROUP BY 1)
        SELECT t.doc_id,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               floor(len(list_distinct(toks)) * 1000000.0 / len(toks) + 0.5)
                   / 1000000 AS distinct_ratio,
               floor(mx * 1000000.0 / nb + 0.5) / 1000000 AS top_bigram_frac
        FROM t JOIN m USING (doc_id)
    """,
    "text_tfidf_top": """
        WITH tokens AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
        ), tf AS (
            SELECT doc_id, token, count(*) AS tf FROM tokens GROUP BY doc_id, token
        ), df AS (
            SELECT token, count(*) AS df FROM (SELECT DISTINCT doc_id, token FROM tokens) GROUP BY token
        ), n AS (
            SELECT count(*) AS n_docs FROM documents
        ), scored AS (
            SELECT tf.doc_id, tf.token, tf.tf, df.df,
                   round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
            FROM tf JOIN df USING (token), n
        )
        SELECT doc_id, token, tf, df, tfidf
        FROM (
            SELECT *, row_number() OVER (PARTITION BY doc_id
                                         ORDER BY tfidf DESC, token) AS rk
            FROM scored
        ) t
        WHERE rk = 1
    """,
    "text_token_counts": """
        SELECT token, count(*) AS cnt
        FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        GROUP BY token
    """,
    "text_doc_stats": """
        SELECT doc_id, lang,
               len(string_split(text, ' ')) AS n_tokens,
               len(list_distinct(string_split(text, ' '))) AS n_distinct,
               floor(len(list_distinct(string_split(text, ' '))) * 1.0
                     / len(string_split(text, ' ')) * 1000000 + 0.5) / 1000000 AS ttr,
               length(text) AS n_chars_computed
        FROM documents
    """,
    "text_stats_per_lang": """
        SELECT lang, count(*) AS n_docs,
               round(avg(n_chars), 4) AS avg_chars,
               round(avg(len(string_split(text, ' '))), 4) AS avg_tokens,
               count(DISTINCT source) AS n_sources
        FROM documents
        GROUP BY lang
    """,
    "lang_id_confusion": """
        WITH labeled AS (
            SELECT CASE WHEN lang = 'en' THEN 'en' ELSE 'other' END AS true_lang,
                   CASE WHEN len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a'))) * 1.0
                             / len(string_split(text, ' ')) >= 0.08
                        THEN 'en' ELSE 'other' END AS pred_lang
            FROM documents
        ), cells AS (
            SELECT true_lang, pred_lang, count(*) AS n FROM labeled GROUP BY 1, 2
        ), tot AS (
            SELECT true_lang, count(*) AS class_n FROM labeled GROUP BY 1
        )
        SELECT c.true_lang, c.pred_lang, c.n,
               floor(c.n * 1.0 / t.class_n * 1e6 + 0.5) / 1e6 AS share_of_true
        FROM cells c JOIN tot t USING (true_lang)
    """,
    "text_lang_id": """
        SELECT doc_id, lang,
               floor(len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a'))) * 1.0
                     / len(string_split(text, ' ')) * 1000000 + 0.5) / 1000000 AS marker_ratio,
               CASE WHEN len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a'))) * 1.0
                         / len(string_split(text, ' ')) >= 0.08
                    THEN 'en' ELSE 'other' END AS pred_lang
        FROM documents
    """,
    "text_quality_score": """
        WITH t AS (
            SELECT doc_id,
                   len(string_split(text, ' ')) AS n_tokens,
                   len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a'))) * 1.0
                       / len(string_split(text, ' ')) AS stop_ratio,
                   (length(text) - (len(string_split(text, ' ')) - 1)) * 1.0
                       / len(string_split(text, ' ')) AS mean_tok_len
            FROM documents
        )
        SELECT doc_id, n_tokens,
               floor(stop_ratio * 1000000 + 0.5) / 1000000 AS stop_ratio,
               floor(mean_tok_len * 1000000 + 0.5) / 1000000 AS mean_tok_len,
               floor((least(n_tokens / 50.0, 1.0) * 0.5
                     + (1.0 - least(stop_ratio * 4.0, 1.0)) * 0.3
                     + least(mean_tok_len / 8.0, 1.0) * 0.2) * 1000000 + 0.5) / 1000000 AS quality_score,
               (least(n_tokens / 50.0, 1.0) * 0.5
                     + (1.0 - least(stop_ratio * 4.0, 1.0)) * 0.3
                     + least(mean_tok_len / 8.0, 1.0) * 0.2) >= 0.5 AS keep
        FROM t
    """,
    "text_token_regex_count": """
        SELECT doc_id,
               len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS n_regex_tokens,
               len(string_split(text, ' ')) AS n_ws_tokens
        FROM documents
    """,
    "text_fingerprint": """
        SELECT doc_id,
               -- CAST: DuckDB integer sum() yields HUGEINT, which the
               -- driver canonicalizes to float64 and hash-mismatches
               -- Spark's int64. Integer sums in oracles are always BIGINT.
               CAST(sum(pos * (31 * length(tok) + unicode(tok[1]))) % 2147483647 AS BIGINT) AS fingerprint
        FROM (
            SELECT doc_id,
                   unnest(string_split(text, ' ')) AS tok,
                   generate_subscripts(string_split(text, ' '), 1) AS pos
            FROM documents
        ) t
        GROUP BY doc_id
    """,
}

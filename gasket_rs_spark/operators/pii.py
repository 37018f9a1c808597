"""PII detection / redaction operators — the scrubbing pass a training-data
pipeline runs before a corpus ships (reference has no PII surface; this is
part of the beyond-mandate LLM-pipeline tier alongside dedup/quality).

Everything is JVM-side ``regexp_replace`` / ``regexp_extract_all`` inside
whole-stage codegen — a narrow map over the scanned columns with NO
shuffle and no Python in the hot path. At 100 TB redaction is purely
scan-bound; the only aggregation is the (tiny) per-class hit summary.

The synthetic corpus carries structured ids (``Customer#000000042``) as
its PII stand-in; the email/digit-run patterns in the corpus scan mirror
what a real deployment would use, over the same plan shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gasket_rs_spark import keys
from gasket_rs_spark.grid import snap, units
from gasket_rs_spark.tables import load

_DIGIT = "[0-9]"
_NON_DIGIT = "[^0-9]"
# email-ish and long-digit-run detectors for the corpus scan
_EMAIL_RE = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
_DIGIT_RUN_RE = "[0-9]{6,}"


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level redaction: mask every digit in the customer name with
    '#', count the digits masked, and flag rows that contained an id-like
    digit run. The masked column is what leaves the pipeline; the count
    is the audit trail."""
    customer = load(spark, sf_dir, "customer")
    return customer.select(
        "c_custkey",
        F.regexp_replace("c_name", _DIGIT, "#").alias("masked_name"),
        F.length(F.regexp_replace("c_name", _NON_DIGIT, ""))
        .cast("bigint")
        .alias("n_digits"),
        (F.col("c_name").rlike(_DIGIT_RUN_RE)).alias("has_id_run"),
    )


def q_pii_scan_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level PII scan summary: documents scanned, docs with
    email-like hits, docs with long digit runs, total hits per class.
    One narrow projection + a single-row aggregate — the cheap audit
    query run before and after a redaction pass."""
    docs = load(spark, sf_dir, "documents")
    scanned = docs.select(
        F.size(F.regexp_extract_all("text", F.lit(_EMAIL_RE), 0)).alias("n_email"),
        F.size(F.regexp_extract_all("text", F.lit(_DIGIT_RUN_RE), 0)).alias(
            "n_digit_run"
        ),
    )
    return scanned.agg(
        F.count("*").alias("n_docs"),
        F.sum((F.col("n_email") > 0).cast("bigint")).alias("docs_with_email"),
        F.sum((F.col("n_digit_run") > 0).cast("bigint")).alias("docs_with_digit_run"),
        F.sum("n_email").cast("bigint").alias("total_email_hits"),
        F.sum("n_digit_run").cast("bigint").alias("total_digit_run_hits"),
    )


def q_gdpr_erasure_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten propagation, audited: a deterministic
    erasure list (user_id % 97 == 0 — the stand-in for a deletion-request
    table) is scrubbed from the events fact via anti-join, and the
    witness emits the compliance evidence per event_type: rows before,
    rows after, rows erased, and — the self-audit every DPO asks for —
    the count of erased-user rows REMAINING after the scrub (must be 0,
    and being part of the hashed output, the oracle proves it is).

    Scale: the erasure list is a broadcast anti-join against the fact
    (deletion requests are always dim-sized); the audit is one
    aggregation. The same plan serves TTL enforcement with a time
    predicate in place of the key list."""
    ev = load(spark, sf_dir, "events")
    erase = ev.select("user_id").distinct().where(F.col("user_id") % 97 == 0)
    scrubbed = ev.join(F.broadcast(erase), "user_id", "left_anti")
    before = ev.groupBy("event_type").agg(F.count("*").alias("n_before"))
    after = scrubbed.groupBy("event_type").agg(F.count("*").alias("n_after"))
    leak = (
        scrubbed.join(F.broadcast(erase), "user_id")
        .groupBy("event_type")
        .agg(F.count("*").alias("n_leaked"))
    )
    return (
        before.join(after, "event_type", "left")
        .join(leak, "event_type", "left")
        .select(
            "event_type",
            "n_before",
            F.coalesce("n_after", F.lit(0)).alias("n_after"),
            (F.col("n_before") - F.coalesce("n_after", F.lit(0))).alias("n_erased"),
            F.coalesce("n_leaked", F.lit(0)).alias("n_leaked"),
        )
    )


_DP_EPS = 1.0  # epsilon for the Laplace count release
_K_ANON = 5  # minimum group size for the k-anonymity audit


def q_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differential-privacy style NOISY COUNT release (Dwork et al.
    Laplace mechanism): per-event-type counts plus Laplace(1/ε) noise
    via the inverse CDF, ε = 1, sensitivity 1 — the mechanism behind
    every DP statistics release.

    HONEST CAVEAT (the determinism/privacy trade, stated rather than
    hidden): the noise here is SEEDED from md5(event_type) so the
    witness is engine-reproducible and hash-checkable — deterministic
    noise provides NO privacy. A production release swaps the md5
    uniform for a real RNG draw; everything else (inverse-CDF transform,
    per-partition count aggregation, epsilon accounting) is exactly this
    plan. Scale: one map-side-combinable count agg; noise is per-GROUP
    arithmetic — O(|groups|), free."""
    ev = load(spark, sf_dir, "events")
    counts = ev.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n")
    )
    u = (
        keys.hex_int(F.md5(F.concat(F.col("event_type"), F.lit(":dp"))), 12).cast("double")
        + F.lit(1.0)
    ) / F.lit(281474976710658.0)
    centered = u - F.lit(0.5)
    noise = (
        -F.lit(1.0 / _DP_EPS)
        * F.signum(centered)
        * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(centered))
    )
    return counts.select(
        "event_type",
        snap(F.col("n") + noise).alias("noisy_count"),
        F.lit(_DP_EPS).alias("epsilon"),
    )


def q_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-ANONYMITY audit over the documents quasi-identifier pair
    (lang, source): how many equivalence classes fall below k = 5
    members, and what share of documents sit in those re-identifiable
    classes — the release gate a privacy review runs before publishing
    a dataset with demographic-like columns. One map-side-combinable
    groupBy + a bounded class-level reduce; nothing corpus-sized after
    the scan. EXACT oracle."""
    docs = load(spark, sf_dir, "documents")
    classes = docs.groupBy("lang", "source").agg(
        F.count("*").cast("bigint").alias("n")
    )
    return classes.agg(
        F.lit(_K_ANON).cast("bigint").alias("k"),
        F.count("*").cast("bigint").alias("n_classes"),
        F.sum(F.when(F.col("n") < _K_ANON, 1).otherwise(0))
        .cast("bigint")
        .alias("n_violating_classes"),
        F.sum(F.when(F.col("n") < _K_ANON, F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("n_docs_at_risk"),
        snap(
            F.sum(F.when(F.col("n") < _K_ANON, F.col("n")).otherwise(0)).cast(
                "double"
            )
            / F.sum("n").cast("double")
        ).alias("risk_share"),
    )


_L_DIV = 3  # minimum distinct sensitive values per equivalence class
_L_QI_BUCKET = 500  # n_chars quantization for the quasi-identifier


def q_l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-DIVERSITY audit (Machanavajjhala et al. 2007) — the stronger
    release gate after k-anonymity: within each quasi-identifier class
    (lang, n_chars-bucket) the SENSITIVE attribute (source) must take
    at least l = 3 distinct values, else membership in the class leaks
    the sensitive value even when the class is large.

    One row: l, classes, violating classes, docs at risk, and the
    minimum observed diversity. Pure integer counts (count_distinct per
    class) — nothing to snap. Scale: one map-side-combinable groupBy on
    the QI pair; everything after is the bounded class frame."""
    docs = load(spark, sf_dir, "documents").select(
        "lang",
        F.expr(f"n_chars div {_L_QI_BUCKET}").alias("len_bucket"),
        "source",
    )
    classes = docs.groupBy("lang", "len_bucket").agg(
        F.count("*").cast("bigint").alias("n"),
        F.countDistinct("source").cast("bigint").alias("l_div"),
    )
    return classes.agg(
        F.lit(_L_DIV).cast("bigint").alias("l"),
        F.count("*").cast("bigint").alias("n_classes"),
        F.sum((F.col("l_div") < _L_DIV).cast("bigint")).cast("bigint").alias(
            "n_violating_classes"
        ),
        F.sum(F.when(F.col("l_div") < _L_DIV, F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("n_docs_at_risk"),
        F.min("l_div").cast("bigint").alias("min_l"),
    )


_T_CLOSE6 = 200_000  # t = 0.2 on the 1e-6 grid
_T_SENS_BUCKET = 150  # n_chars quantization for the ordered sensitive attr
_T_SENS_M = 4  # fixed ordered-bucket count (values clamp into the last one)


def q_t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-CLOSENESS audit (Li et al. 2007) — the third rung of the
    k-anonymity / l-diversity / t-closeness ladder: within each
    quasi-identifier class (lang, source) the distribution of the
    ORDERED sensitive attribute (n_chars quartile bucket, clamped into
    m = 4 fixed buckets) must stay within Earth-Mover's Distance t of
    the global distribution, else the class leaks a sensitive skew
    even when it is large and diverse.

    For an ordered attribute the EMD is the mean absolute cumulative
    gap: EMD = (1/(m−1))·Σ_b |P_g(≤b) − P(≤b)|. Integer-exact core:
    the gap per bucket is |cum_c·N − cum_C·n_g| over the common
    denominator n_g·N — pure int64 (≤ 5e4·5e4·3 ≪ 2^63); only the
    final per-class division runs in doubles (IEEE division is
    deterministic), snapped to the 1e-6 grid.

    Scale: one corpus pass → bounded class×bucket grid (zero-filled —
    a missing bucket IS distance); the global cumulative is the SUM of
    the per-class cumulatives, so no second corpus pass."""
    docs = load(spark, sf_dir, "documents").select(
        "lang",
        "source",
        F.least(
            F.expr(f"n_chars div {_T_SENS_BUCKET}"), F.lit(_T_SENS_M - 1)
        ).alias("sb"),
    )
    cb = docs.groupBy("lang", "source", "sb").agg(
        F.count("*").cast("bigint").alias("c")
    )
    classes = docs.groupBy("lang", "source").agg(
        F.count("*").cast("bigint").alias("n_g")
    )
    grid = classes.select(
        "lang",
        "source",
        "n_g",
        F.explode(F.sequence(F.lit(0), F.lit(_T_SENS_M - 1))).alias("sb"),
    )
    from pyspark.sql import Window

    wcum = (
        Window.partitionBy("lang", "source")
        .orderBy("sb")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = (
        grid.join(cb, ["lang", "source", "sb"], "left")
        .select(
            "lang", "source", "n_g", "sb", F.coalesce("c", F.lit(0)).alias("c")
        )
        .withColumn("cum_c", F.sum("c").over(wcum).cast("bigint"))
    )
    glob = cum.groupBy("sb").agg(F.sum("cum_c").cast("bigint").alias("cum_all"))
    tot = classes.agg(F.sum("n_g").cast("bigint").alias("n_total"))
    per = (
        cum.join(F.broadcast(glob), "sb")
        .crossJoin(F.broadcast(tot))
        .groupBy("lang", "source", "n_g", "n_total")
        .agg(
            F.sum(
                F.abs(
                    F.col("cum_c") * F.col("n_total")
                    - F.col("cum_all") * F.col("n_g")
                )
            )
            .cast("bigint")
            .alias("gap_num")
        )
        .select(
            "lang",
            "source",
            "n_g",
            units(
                F.col("gap_num").cast("double")
                / (F.col("n_g") * F.col("n_total") * F.lit(_T_SENS_M - 1)).cast(
                    "double"
                )
            ).alias("emd6"),
        )
    )
    return per.agg(
        F.lit(_T_CLOSE6).cast("bigint").alias("t6"),
        F.count("*").cast("bigint").alias("n_classes"),
        F.sum((F.col("emd6") > _T_CLOSE6).cast("bigint"))
        .cast("bigint")
        .alias("n_violating_classes"),
        F.sum(F.when(F.col("emd6") > _T_CLOSE6, F.col("n_g")).otherwise(0))
        .cast("bigint")
        .alias("n_docs_at_risk"),
        F.max("emd6").cast("bigint").alias("max_emd6"),
    )


ORACLES: dict[str, str] = {
    "t_closeness_audit": f"""
        WITH docs AS (
            SELECT lang, source,
                   least(n_chars // {_T_SENS_BUCKET}, {_T_SENS_M - 1}) AS sb
            FROM documents
        ), cb AS (
            SELECT lang, source, sb, CAST(count(*) AS BIGINT) AS c
            FROM docs GROUP BY 1, 2, 3
        ), classes AS (
            SELECT lang, source, CAST(count(*) AS BIGINT) AS n_g
            FROM docs GROUP BY 1, 2
        ), grid AS (
            SELECT lang, source, n_g, b.sb
            FROM classes CROSS JOIN
                 (SELECT unnest(generate_series(0, {_T_SENS_M - 1})) AS sb) b
        ), cum AS (
            SELECT grid.lang, grid.source, grid.n_g, grid.sb,
                   CAST(sum(COALESCE(cb.c, 0)) OVER (
                       PARTITION BY grid.lang, grid.source ORDER BY grid.sb
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS cum_c
            FROM grid LEFT JOIN cb
              ON grid.lang = cb.lang AND grid.source = cb.source
                 AND grid.sb = cb.sb
        ), gcum AS (
            SELECT sb, CAST(sum(cum_c) AS BIGINT) AS cum_all
            FROM cum GROUP BY 1
        ), tot AS (
            SELECT CAST(sum(n_g) AS BIGINT) AS n_total FROM classes
        ), per AS (
            SELECT cum.lang, cum.source, cum.n_g,
                   CAST(floor(
                       CAST(sum(abs(cum.cum_c * tot.n_total
                                    - gcum.cum_all * cum.n_g)) AS DOUBLE)
                       / CAST(cum.n_g * tot.n_total * {_T_SENS_M - 1} AS DOUBLE)
                       * 1e6 + 0.5) AS BIGINT) AS emd6
            FROM cum JOIN gcum USING (sb) CROSS JOIN tot
            GROUP BY cum.lang, cum.source, cum.n_g, tot.n_total
        )
        SELECT CAST({_T_CLOSE6} AS BIGINT) AS t6,
               CAST(count(*) AS BIGINT) AS n_classes,
               CAST(sum(CASE WHEN emd6 > {_T_CLOSE6} THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_violating_classes,
               CAST(sum(CASE WHEN emd6 > {_T_CLOSE6} THEN n_g ELSE 0 END)
                   AS BIGINT) AS n_docs_at_risk,
               CAST(max(emd6) AS BIGINT) AS max_emd6
        FROM per
    """,
    "l_diversity_audit": f"""
        WITH classes AS (
            SELECT lang, n_chars // {_L_QI_BUCKET} AS len_bucket,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(count(DISTINCT source) AS BIGINT) AS l_div
            FROM documents GROUP BY 1, 2
        )
        SELECT CAST({_L_DIV} AS BIGINT) AS l,
               CAST(count(*) AS BIGINT) AS n_classes,
               CAST(sum(CASE WHEN l_div < {_L_DIV} THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_violating_classes,
               CAST(sum(CASE WHEN l_div < {_L_DIV} THEN n ELSE 0 END) AS BIGINT)
                   AS n_docs_at_risk,
               CAST(min(l_div) AS BIGINT) AS min_l
        FROM classes
    """,
    "dp_noisy_counts": f"""
        WITH counts AS (
            SELECT event_type, CAST(count(*) AS BIGINT) AS n
            FROM events GROUP BY event_type
        ), noised AS (
            SELECT event_type, n,
                   (CAST(('0x' || substr(md5(event_type || ':dp'), 1, 12))
                         ::BIGINT AS DOUBLE) + 1.0) / 281474976710658.0 AS u
            FROM counts
        )
        SELECT event_type,
               floor((n + (-{1.0 / _DP_EPS!r} * sign(u - 0.5)
                           * ln(1.0 - 2.0 * abs(u - 0.5))))
                     * 1e6 + 0.5) / 1e6 AS noisy_count,
               CAST({_DP_EPS!r} AS DOUBLE) AS epsilon
        FROM noised
    """,
    "k_anonymity_audit": f"""
        WITH classes AS (
            SELECT lang, source, CAST(count(*) AS BIGINT) AS n
            FROM documents GROUP BY lang, source
        )
        SELECT CAST({_K_ANON} AS BIGINT) AS k,
               CAST(count(*) AS BIGINT) AS n_classes,
               CAST(sum(CASE WHEN n < {_K_ANON} THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_violating_classes,
               CAST(sum(CASE WHEN n < {_K_ANON} THEN n ELSE 0 END) AS BIGINT)
                   AS n_docs_at_risk,
               floor(CAST(sum(CASE WHEN n < {_K_ANON} THEN n ELSE 0 END)
                          AS DOUBLE)
                     / CAST(sum(n) AS DOUBLE) * 1e6 + 0.5) / 1e6
                   AS risk_share
        FROM classes
    """,
    "gdpr_erasure_audit": """
        WITH erase AS (
            SELECT DISTINCT user_id FROM events WHERE user_id % 97 = 0
        ), before_t AS (
            SELECT event_type, count(*) AS n_before FROM events GROUP BY 1
        ), after_t AS (
            SELECT event_type, count(*) AS n_after
            FROM events e
            WHERE NOT EXISTS (SELECT 1 FROM erase x WHERE x.user_id = e.user_id)
            GROUP BY 1
        )
        SELECT b.event_type, b.n_before,
               coalesce(a.n_after, 0) AS n_after,
               b.n_before - coalesce(a.n_after, 0) AS n_erased,
               CAST(0 AS BIGINT) AS n_leaked
        FROM before_t b LEFT JOIN after_t a USING (event_type)
    """,
    "pii_redact": """
        SELECT c_custkey,
               regexp_replace(c_name, '[0-9]', '#', 'g') AS masked_name,
               CAST(length(regexp_replace(c_name, '[^0-9]', '', 'g')) AS BIGINT)
                   AS n_digits,
               regexp_matches(c_name, '[0-9]{6,}') AS has_id_run
        FROM customer
    """,
    "pii_scan_docs": """
        WITH scanned AS (
            SELECT len(regexp_extract_all(text,
                       '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}')) AS n_email,
                   len(regexp_extract_all(text, '[0-9]{6,}')) AS n_digit_run
            FROM documents
        )
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN n_email > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS docs_with_email,
               CAST(sum(CASE WHEN n_digit_run > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS docs_with_digit_run,
               CAST(sum(n_email) AS BIGINT) AS total_email_hits,
               CAST(sum(n_digit_run) AS BIGINT) AS total_digit_run_hits
        FROM scanned
    """,
}

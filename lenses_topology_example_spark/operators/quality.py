"""Rule- and classifier-based corpus curation (training-data tier,
SURVEY.md §2.6 extension surface).

Three operators a production LLM-data pipeline runs corpus-wide:

- `q_gopher_rules`      the classic repetition/shape rule battery
                        (Gopher, Rae et al. 2021 — public paper): per-doc
                        boolean gates on word count, mean word length,
                        alphabetic-word fraction, stopword presence,
                        symbol density and ellipsis-line density, plus
                        the conjunction `keep`.
- `q_quality_classifier` fasttext-shaped linear classifier over hashed
                        bag-of-words features: bucket = md5-derived
                        hash mod D, fixed deterministic weight per
                        bucket, sigmoid of the mean weight. The dataflow
                        (per-token hash → weight lookup → per-doc fold)
                        is exactly a production classifier's; the
                        weights here are a deterministic stand-in for a
                        trained vector (which would arrive as a D-row
                        broadcast table — same plan).
- `q_dataset_split`     deterministic 80/10/10 train/valid/test
                        assignment by md5 of the doc id (the repo's
                        md5-threshold sampling discipline), reported as
                        per-(split, source) doc and token counts.

All three are single-scan, whole-stage-codegen expression pipelines —
no joins, no Python, and (for gopher/classifier) no shuffle at all:
the classifier folds token weights INSIDE the row via
aggregate(transform(...)), so a 100 TB corpus never explodes to token
grain. dataset_split's one shuffle is the final
(split, source)-bounded aggregation.

No reference counterpart (the reference is a Kafka wordcount demo,
kstreams/App.java:96-112 tokenization reused via tokens_col); these are
the curation stages the engine's training-data tier adds.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..functions.texthash import SQL_MD5_HASH64, md5_hash64
from ..tables import load_table
from .dedup import (
    SQL_DEDUP_NEAR_CAPPED,
    SQL_TOKS,
    cluster_labels,
    neardup_pairs,
)
from .text import _sql_stoplist, _STOPWORDS
from .wordcount import tokens_col

# --- Gopher-style rule battery -----------------------------------------------------

# Public-paper bars (Gopher §A1.1): word count in [50, 100k], mean word
# length in [3, 10], >=80% words alphabetic, >=2 distinct stopwords,
# <=10% '#' symbol density, <=30% of lines ending in an ellipsis.
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000


def gopher_rule_cols(text: Column) -> dict[str, Column]:
    """The rule battery as reusable expressions over any text column —
    the batch query below and the streaming gate twin
    (streaming/pipelines.streaming_quality_gate) share them, so stream
    and batch can never drift."""
    toks = tokens_col(text)
    n = F.size(toks).cast("long")
    sum_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    n_alpha = F.size(F.filter(toks, lambda t: t.rlike("[a-z]"))).cast("long")
    stop = F.array(*[F.lit(s) for s in _STOPWORDS])
    n_stop = F.size(F.array_intersect(F.array_distinct(toks), stop)).cast("long")
    n_chars = F.length(text).cast("long")
    n_hash = (n_chars - F.length(F.regexp_replace(text, "#", ""))).cast("long")
    lines = F.split(text, "\n")
    n_lines = F.size(lines).cast("long")
    n_ell = F.size(F.filter(lines, lambda l: l.endswith("..."))).cast("long")

    ok_word_count = (n >= F.lit(GOPHER_MIN_WORDS)) & (n <= F.lit(GOPHER_MAX_WORDS))
    ok_mean_word_len = (F.lit(3) * n <= sum_len) & (sum_len <= F.lit(10) * n)
    ok_alpha = F.lit(5) * n_alpha >= F.lit(4) * n
    ok_stopwords = n_stop >= F.lit(2)
    ok_symbol = F.lit(10) * n_hash <= n_chars
    ok_ellipsis = F.lit(10) * n_ell <= F.lit(3) * n_lines
    return {
        "n_words": n,
        "mean_word_len": F.try_divide(sum_len, n),
        "ok_word_count": ok_word_count,
        "ok_mean_word_len": ok_mean_word_len,
        "ok_alpha": ok_alpha,
        "ok_stopwords": ok_stopwords,
        "ok_symbol": ok_symbol,
        "ok_ellipsis": ok_ellipsis,
        "keep": (
            ok_word_count
            & ok_mean_word_len
            & ok_alpha
            & ok_stopwords
            & ok_symbol
            & ok_ellipsis
        ),
    }


def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Gopher rule flags and the conjunction keep-gate.

    Every ratio test is evaluated as an exact integer cross-
    multiplication (3n <= sum_len <= 10n instead of 3 <= sum_len/n <=
    10), so the booleans carry zero float risk across engines; the one
    float output, mean_word_len, is a single IEEE division of two exact
    ints (identical both engines) and NULL for token-less docs.

    Scale shape: one corpus scan, zero shuffles, zero joins — every
    flag is a codegen'd expression over the row's own token array. The
    stopword probe is an array_intersect against a 10-element literal
    array, not a join."""
    docs = load_table(spark, sf_dir, "documents")
    c = gopher_rule_cols(F.col("text"))
    return docs.select(
        "doc_id", *[c[k].alias(k) for k in c]
    )


SQL_GOPHER_RULES = f"""
    WITH t AS (
        SELECT doc_id, text, {SQL_TOKS} AS toks,
               string_split(text, chr(10)) AS lns
        FROM documents
    ), m AS (
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n,
               CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(toks, x -> CAST(length(x) AS BIGINT))),
                    (acc, x) -> acc + x) AS BIGINT) AS sum_len,
               CAST(len(list_filter(toks,
                    x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS n_alpha,
               CAST(len(list_intersect(list_distinct(toks),
                    {_sql_stoplist()})) AS BIGINT) AS n_stop,
               CAST(length(text) AS BIGINT) AS n_chars,
               CAST(length(text) - length(replace(text, '#', ''))
                    AS BIGINT) AS n_hash,
               CAST(len(lns) AS BIGINT) AS n_lines,
               CAST(len(list_filter(lns,
                    l -> ends_with(l, '...'))) AS BIGINT) AS n_ell
        FROM t
    )
    SELECT doc_id,
           n AS n_words,
           CASE WHEN n > 0 THEN sum_len / n END AS mean_word_len,
           (n >= {GOPHER_MIN_WORDS} AND n <= {GOPHER_MAX_WORDS}) AS ok_word_count,
           (3 * n <= sum_len AND sum_len <= 10 * n) AS ok_mean_word_len,
           (5 * n_alpha >= 4 * n) AS ok_alpha,
           (n_stop >= 2) AS ok_stopwords,
           (10 * n_hash <= n_chars) AS ok_symbol,
           (10 * n_ell <= 3 * n_lines) AS ok_ellipsis,
           ((n >= {GOPHER_MIN_WORDS} AND n <= {GOPHER_MAX_WORDS})
            AND (3 * n <= sum_len AND sum_len <= 10 * n)
            AND (5 * n_alpha >= 4 * n)
            AND (n_stop >= 2)
            AND (10 * n_hash <= n_chars)
            AND (10 * n_ell <= 3 * n_lines)) AS keep
    FROM m
"""


# --- hashed linear quality classifier ----------------------------------------------

CLF_BUCKETS = 1024
# Knuth's multiplicative constant; bucket*MULT < 2^42, exact in int64.
CLF_MULT = 2_654_435_761


def _w_milli(tok: Column) -> Column:
    """Deterministic per-token weight in milli-units, [-1000, 1000]:
    bucket = md5-hash mod D, weight = (bucket * MULT) mod 2001 - 1000.
    Integer end to end — per-doc sums are exact, order-independent."""
    return ((md5_hash64(tok) % F.lit(CLF_BUCKETS)) * F.lit(CLF_MULT)) % F.lit(
        2001
    ) - F.lit(1000)


def classifier_cols(text: Column) -> dict[str, Column]:
    """The classifier as reusable expressions over any text column —
    shared by the batch query and the streaming gate twin."""
    toks = tokens_col(text)
    n = F.size(toks).cast("long")
    s_milli = F.aggregate(
        F.transform(toks, _w_milli),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    x = F.try_divide(s_milli, F.lit(1000.0) * n)
    score = (F.lit(1.0) / (F.lit(1.0) + F.exp(-x))).cast("decimal(38,6)").cast(
        "double"
    )
    return {
        "n_tokens": n,
        "score": score,
        "keep": (n > F.lit(0)) & (s_milli >= F.lit(0)),
    }


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fasttext-shaped linear text classifier: hashed bag-of-words,
    score = sigmoid(mean token weight). The weight table is a
    deterministic function of the bucket index so the DuckDB oracle
    rebuilds it exactly; swapping in trained weights turns the
    arithmetic into a D-row broadcast-join lookup with the same shape.

    Determinism discipline: token weights are INTEGER milli-units, the
    per-doc sum is an exact int fold INSIDE the row (zero shuffle, no
    accumulation-order hazard), and the only float math is one fixed
    expression (sum / (1000*n), then 1/(1+exp(-x))) whose exp
    round-trips through DECIMAL(38,6) like lm_score's logs. The keep
    label compares the exact INT sum to zero — sigmoid(x) >= 0.5 iff
    x >= 0 — so the boolean cannot float-drift.

    Scale shape: one corpus scan, zero shuffles — aggregate(transform)
    folds per-row; a 100 TB corpus never hits token grain."""
    docs = load_table(spark, sf_dir, "documents")
    c = classifier_cols(F.col("text"))
    return docs.select("doc_id", *[c[k].alias(k) for k in c])


_SQL_W_MILLI = (
    f"((({SQL_MD5_HASH64.format(x='x')} % {CLF_BUCKETS}) * {CLF_MULT})"
    f" % 2001 - 1000)"
)

SQL_QUALITY_CLASSIFIER = f"""
    WITH t AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
    m AS (
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n,
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(toks, x -> CAST({_SQL_W_MILLI} AS BIGINT))),
                   (acc, x) -> acc + x) AS s_milli
        FROM t
    )
    SELECT doc_id,
           n AS n_tokens,
           CASE WHEN n > 0 THEN CAST(CAST(
               1.0 / (1.0 + exp(-(s_milli / (1000.0 * n))))
               AS DECIMAL(38,6)) AS DOUBLE) END AS score,
           (n > 0 AND s_milli >= 0) AS keep
    FROM m
"""


# --- deterministic train/valid/test split ------------------------------------------

SPLIT_TRAIN_PCT = 80
SPLIT_VALID_PCT = 10  # test gets the remainder


def q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 split by md5 of the doc id, reported as
    per-(split, source) document and token counts. The hash is salted
    ('split|') so assignment is independent of every other md5-keyed
    operator (sampling, sharding) — re-running on a grown corpus keeps
    every existing doc's split stable, the property that prevents
    train/test leakage across dataset releases.

    Scale shape: single scan; token counts fold per-row; the one
    shuffle is the final aggregation, bounded by 3 x |sources| rows."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = md5_hash64(
        F.concat(F.lit("split|"), F.col("doc_id").cast("string"))
    ) % F.lit(100)
    split = (
        F.when(bucket < F.lit(SPLIT_TRAIN_PCT), F.lit("train"))
        .when(bucket < F.lit(SPLIT_TRAIN_PCT + SPLIT_VALID_PCT), F.lit("valid"))
        .otherwise(F.lit("test"))
    )
    return (
        docs.select(
            split.alias("split"),
            "source",
            F.size(tokens_col(F.col("text"))).cast("long").alias("n_toks"),
        )
        .groupBy("split", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").alias("n_tokens"),
        )
    )


_SQL_SPLIT_BUCKET = SQL_MD5_HASH64.format(x="'split|' || CAST(doc_id AS VARCHAR)")

SQL_DATASET_SPLIT = f"""
    WITH t AS (
        SELECT CASE
                 WHEN {_SQL_SPLIT_BUCKET} % 100 < {SPLIT_TRAIN_PCT} THEN 'train'
                 WHEN {_SQL_SPLIT_BUCKET} % 100
                      < {SPLIT_TRAIN_PCT + SPLIT_VALID_PCT} THEN 'valid'
                 ELSE 'test'
               END AS split,
               source,
               CAST(len({SQL_TOKS}) AS BIGINT) AS n_toks
        FROM documents
    )
    SELECT split, source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS n_tokens
    FROM t
    GROUP BY split, source
"""


# --- score-proportional deterministic sampling -------------------------------------

SAMPLE_RES = 1_000_000  # md5-uniform resolution (exact rational in 1e6ths)


def q_score_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted corpus downsampling: keep each document with
    probability equal to its classifier score — the standard soft
    filter between "drop everything under the bar" and "keep all"
    (used e.g. for quality-pacing web data before mixing). The coin is
    the repo's salted-md5 uniform (deterministic, stable under corpus
    growth, independent of the split/sampling salts), so the kept set
    is reproducible and the oracle re-derives it exactly.

    Boundary discipline: the uniform is an exact rational (md5 mod 1e6
    / 1e6) and the score is the classifier's decimal-round-tripped
    double, so the keep comparison is between two values each engine
    computes bit-identically.

    Scale shape: one scan, zero shuffles — score fold and coin are
    per-row expressions; output is the kept subset."""
    docs = load_table(spark, sf_dir, "documents")
    c = classifier_cols(F.col("text"))
    u = (
        md5_hash64(F.concat(F.lit("wsamp|"), F.col("doc_id").cast("string")))
        % F.lit(SAMPLE_RES)
    ) / F.lit(float(SAMPLE_RES))
    return (
        docs.select(
            "doc_id",
            "source",
            c["score"].alias("score"),
            u.alias("u"),
        )
        .filter(F.col("u") < F.col("score"))
        .select("doc_id", "source", "score")
    )


_SQL_WSAMP_U = SQL_MD5_HASH64.format(x="'wsamp|' || CAST(doc_id AS VARCHAR)")

SQL_SCORE_WEIGHTED_SAMPLE = f"""
    WITH t AS (SELECT doc_id, source, {SQL_TOKS} AS toks FROM documents),
    m AS (
        SELECT doc_id, source,
               CAST(len(toks) AS BIGINT) AS n,
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(toks, x -> CAST({_SQL_W_MILLI} AS BIGINT))),
                   (acc, x) -> acc + x) AS s_milli
        FROM t
    ), scored AS (
        SELECT doc_id, source,
               CASE WHEN n > 0 THEN CAST(CAST(
                   1.0 / (1.0 + exp(-(s_milli / (1000.0 * n))))
                   AS DECIMAL(38,6)) AS DOUBLE) END AS score,
               ({_SQL_WSAMP_U} % {SAMPLE_RES}) / {float(SAMPLE_RES)} AS u
        FROM m
    )
    SELECT doc_id, source, score FROM scored WHERE u < score
"""


# --- combined batch gate (the streaming twin's driver-checkable form) --------------


def q_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The combined inline curation gate — Gopher rule battery AND the
    hashed classifier — as one batch pass: exactly the column set the
    streaming twin (streaming/pipelines.streaming_quality_gate) emits,
    built from the same shared expression builders, so the streaming
    path has a driver-checkable batch twin (parity between the two is
    additionally pytest-pinned on the real corpus).

    Scale shape: one scan, zero shuffles — both screens are per-row
    expression folds."""
    docs = load_table(spark, sf_dir, "documents")
    rules = gopher_rule_cols(F.col("text"))
    clf = classifier_cols(F.col("text"))
    return docs.select(
        "doc_id",
        rules["n_words"].alias("n_words"),
        rules["keep"].alias("keep_rules"),
        clf["score"].alias("clf_score"),
        clf["keep"].alias("keep_clf"),
        (rules["keep"] & clf["keep"]).alias("keep"),
    )


SQL_QUALITY_GATE = f"""
    WITH t AS (
        SELECT doc_id, text, {SQL_TOKS} AS toks,
               string_split(text, chr(10)) AS lns
        FROM documents
    ), m AS (
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n,
               CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(toks, x -> CAST(length(x) AS BIGINT))),
                    (acc, x) -> acc + x) AS BIGINT) AS sum_len,
               CAST(len(list_filter(toks,
                    x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS n_alpha,
               CAST(len(list_intersect(list_distinct(toks),
                    {{stoplist}})) AS BIGINT) AS n_stop,
               CAST(length(text) AS BIGINT) AS n_chars,
               CAST(length(text) - length(replace(text, '#', ''))
                    AS BIGINT) AS n_hash,
               CAST(len(lns) AS BIGINT) AS n_lines,
               CAST(len(list_filter(lns,
                    l -> ends_with(l, '...'))) AS BIGINT) AS n_ell,
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(toks, x -> CAST({{w_milli}} AS BIGINT))),
                   (acc, x) -> acc + x) AS s_milli
        FROM t
    )
    SELECT doc_id,
           n AS n_words,
           ((n >= {GOPHER_MIN_WORDS} AND n <= {GOPHER_MAX_WORDS})
            AND (3 * n <= sum_len AND sum_len <= 10 * n)
            AND (5 * n_alpha >= 4 * n)
            AND (n_stop >= 2)
            AND (10 * n_hash <= n_chars)
            AND (10 * n_ell <= 3 * n_lines)) AS keep_rules,
           CASE WHEN n > 0 THEN CAST(CAST(
               1.0 / (1.0 + exp(-(s_milli / (1000.0 * n))))
               AS DECIMAL(38,6)) AS DOUBLE) END AS clf_score,
           (n > 0 AND s_milli >= 0) AS keep_clf,
           (((n >= {GOPHER_MIN_WORDS} AND n <= {GOPHER_MAX_WORDS})
            AND (3 * n <= sum_len AND sum_len <= 10 * n)
            AND (5 * n_alpha >= 4 * n)
            AND (n_stop >= 2)
            AND (10 * n_hash <= n_chars)
            AND (10 * n_ell <= 3 * n_lines))
            AND (n > 0 AND s_milli >= 0)) AS keep
    FROM m
""".format(stoplist=_sql_stoplist(), w_milli=_SQL_W_MILLI)


def q_split_leak_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split contamination audit: near-duplicate pairs whose
    members land in DIFFERENT dataset splits — the leak q_dataset_split
    itself cannot see (hash splitting is uniform over docs, so a
    near-dup family straddles train/test with high probability unless
    dedup runs FIRST; this measures exactly how much straddling the
    current corpus carries). The production remedy is split-by-cluster
    (assign the dedup_cluster label, not the doc, to a split); this
    audit is the evidence.

    Rides the memoized near-dup pair table (doc-pair grain, built once
    per session / stored at scale); split labels are the same salted
    md5 rule as q_dataset_split; the (split, split) matrix is <= 6
    rows after a LEAST/GREATEST canonicalization."""
    pairs = neardup_pairs(spark, sf_dir)

    def split_of(doc_id: Column) -> Column:
        bucket = md5_hash64(
            F.concat(F.lit("split|"), doc_id.cast("string"))
        ) % F.lit(100)
        return (
            F.when(bucket < F.lit(SPLIT_TRAIN_PCT), F.lit("train"))
            .when(
                bucket < F.lit(SPLIT_TRAIN_PCT + SPLIT_VALID_PCT),
                F.lit("valid"),
            )
            .otherwise(F.lit("test"))
        )

    lab = pairs.select(
        split_of(F.col("doc_a")).alias("sa"),
        split_of(F.col("doc_b")).alias("sb"),
    )
    return (
        lab.select(
            F.least("sa", "sb").alias("split_a"),
            F.greatest("sa", "sb").alias("split_b"),
        )
        .groupBy("split_a", "split_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .withColumn(
            "crosses_split", F.col("split_a") != F.col("split_b")
        )
        .orderBy("split_a", "split_b")
    )


def _sql_split_case(doc: str) -> str:
    b = SQL_MD5_HASH64.format(x=f"'split|' || CAST({doc} AS VARCHAR)")
    return (
        f"CASE WHEN {b} % 100 < {SPLIT_TRAIN_PCT} THEN 'train' "
        f"WHEN {b} % 100 < {SPLIT_TRAIN_PCT + SPLIT_VALID_PCT} THEN 'valid' "
        f"ELSE 'test' END"
    )


def _sql_split_leak_check() -> str:
    return f"""
    WITH pairs AS (
        SELECT doc_a, doc_b FROM ({SQL_DEDUP_NEAR_CAPPED})
    ), lab AS (
        SELECT {_sql_split_case('doc_a')} AS sa,
               {_sql_split_case('doc_b')} AS sb
        FROM pairs
    )
    SELECT LEAST(sa, sb) AS split_a,
           GREATEST(sa, sb) AS split_b,
           COUNT(*) AS n_pairs,
           LEAST(sa, sb) <> GREATEST(sa, sb) AS crosses_split
    FROM lab
    GROUP BY LEAST(sa, sb), GREATEST(sa, sb)
    ORDER BY split_a, split_b
    """


SQL_SPLIT_LEAK_CHECK = _sql_split_leak_check()


def q_dataset_split_by_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leak-proof dataset splitting: the split hash is keyed by the
    near-dup CLUSTER label (min doc_id of the connected component;
    singleton docs label themselves), so every near-dup family lands
    whole in one split — the remedy q_split_leak_check's cross-split
    counts motivate. Same salted-md5 80/10/10 rule and report shape as
    q_dataset_split; only the hash key changes.
    tests/test_governance.py proves the property: ZERO near-dup pairs
    straddle splits under this assignment.

    Scale shape: the cluster labels are |near-dup docs| rows (left-join
    + coalesce onto the corpus — docs outside any pair never shuffle
    into the label frame); the rest is q_dataset_split's single scan +
    3x|sources| aggregation."""
    labels = cluster_labels(spark, sf_dir).select(
        F.col("doc").alias("doc_id"), F.col("label").alias("cluster_id")
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.size(tokens_col(F.col("text"))).cast("long").alias("n_toks")
    )
    keyed = docs.join(labels, "doc_id", "left").select(
        "source",
        "n_toks",
        F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("split_key"),
    )
    bucket = md5_hash64(
        F.concat(F.lit("split|"), F.col("split_key").cast("string"))
    ) % F.lit(100)
    split = (
        F.when(bucket < F.lit(SPLIT_TRAIN_PCT), F.lit("train"))
        .when(bucket < F.lit(SPLIT_TRAIN_PCT + SPLIT_VALID_PCT), F.lit("valid"))
        .otherwise(F.lit("test"))
    )
    return (
        keyed.select(split.alias("split"), "source", "n_toks")
        .groupBy("split", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").alias("n_tokens"),
        )
        .orderBy("split", "source")
    )


def _sql_dataset_split_by_cluster() -> str:
    bucket = SQL_MD5_HASH64.format(x="'split|' || CAST(split_key AS VARCHAR)")
    return f"""
    WITH RECURSIVE pairs AS (
        SELECT doc_a, doc_b FROM ({SQL_DEDUP_NEAR_CAPPED})
    ), edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM pairs
    ), reach(doc, label) AS (
        SELECT DISTINCT src AS doc, src AS label FROM edges
        UNION
        SELECT e.dst AS doc, r.label
        FROM reach r JOIN edges e ON e.src = r.doc
    ), clusters AS (
        SELECT doc AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY doc
    ), keyed AS (
        SELECT d.source,
               CAST(len({SQL_TOKS}) AS BIGINT) AS n_toks,
               COALESCE(c.cluster_id, d.doc_id) AS split_key
        FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id
    )
    SELECT CASE
             WHEN {bucket} % 100 < {SPLIT_TRAIN_PCT} THEN 'train'
             WHEN {bucket} % 100
                  < {SPLIT_TRAIN_PCT + SPLIT_VALID_PCT} THEN 'valid'
             ELSE 'test'
           END AS split,
           source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS n_tokens
    FROM keyed
    GROUP BY 1, source
    ORDER BY split, source
    """


SQL_DATASET_SPLIT_BY_CLUSTER = _sql_dataset_split_by_cluster()


def q_dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What dedup actually buys, per source: token counts before
    dedup, after exact dedup (keep min doc_id per md5(text)), and
    after near dedup on top (drop every non-keeper member of a
    near-dup cluster) — the measurement that decides whether the
    near-dup pass is worth its join cost on a given corpus slice.

    Rides two memoized artifacts (exact digests are a single scan;
    cluster labels come from dedup.cluster_labels) plus one token-count
    scan; the report is |sources| rows. A doc counts toward its OWN
    source even when its keeper lives elsewhere — savings are
    attributed where the bytes are dropped."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(tokens_col(F.col("text"))).cast("long").alias("nt"),
        F.md5(F.col("text")).alias("fp"),
    )
    from pyspark.sql import Window as W

    exact_keep = docs.withColumn(
        "rn", F.row_number().over(W.partitionBy("fp").orderBy("doc_id"))
    ).withColumn("exact_kept", F.col("rn") == 1)
    labels = cluster_labels(spark, sf_dir).select(
        F.col("doc").alias("doc_id"), F.col("label").alias("cluster_id")
    )
    joined = exact_keep.join(labels, "doc_id", "left").withColumn(
        "near_kept",
        F.col("exact_kept")
        & (
            F.col("cluster_id").isNull()
            | (F.col("cluster_id") == F.col("doc_id"))
        ),
    )
    return (
        joined.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nt").alias("tokens_raw"),
            F.sum(F.when(F.col("exact_kept"), F.col("nt")).otherwise(0)).alias(
                "tokens_after_exact"
            ),
            F.sum(F.when(F.col("near_kept"), F.col("nt")).otherwise(0)).alias(
                "tokens_after_near"
            ),
        )
        .select(
            "source",
            "n_docs",
            "tokens_raw",
            "tokens_after_exact",
            "tokens_after_near",
            (F.col("tokens_raw") - F.col("tokens_after_near"))
            .alias("tokens_saved"),
        )
        .orderBy("source")
    )


def _sql_dedup_savings() -> str:
    return f"""
    WITH RECURSIVE pairs AS (
        SELECT doc_a, doc_b FROM ({SQL_DEDUP_NEAR_CAPPED})
    ), edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM pairs
    ), reach(doc, label) AS (
        SELECT DISTINCT src AS doc, src AS label FROM edges
        UNION
        SELECT e.dst AS doc, r.label
        FROM reach r JOIN edges e ON e.src = r.doc
    ), clusters AS (
        SELECT doc AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY doc
    ), d AS (
        SELECT doc_id, source,
               CAST(len({SQL_TOKS}) AS BIGINT) AS nt,
               md5(text) AS fp
        FROM documents
    ), ek AS (
        SELECT doc_id, source, nt,
               ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) = 1
                   AS exact_kept
        FROM d
    ), j AS (
        SELECT ek.*, c.cluster_id,
               ek.exact_kept AND (c.cluster_id IS NULL
                                  OR c.cluster_id = ek.doc_id) AS near_kept
        FROM ek LEFT JOIN clusters c USING (doc_id)
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(nt) AS BIGINT) AS tokens_raw,
           CAST(SUM(CASE WHEN exact_kept THEN nt ELSE 0 END) AS BIGINT)
               AS tokens_after_exact,
           CAST(SUM(CASE WHEN near_kept THEN nt ELSE 0 END) AS BIGINT)
               AS tokens_after_near,
           CAST(SUM(nt) - SUM(CASE WHEN near_kept THEN nt ELSE 0 END)
               AS BIGINT) AS tokens_saved
    FROM j
    GROUP BY source
    ORDER BY source
    """


SQL_DEDUP_SAVINGS = _sql_dedup_savings()


# --- Population Stability Index drift monitor (round 9) ----------------------

PSI_BINS = 10  # fixed [0,1) decile bins over the quality score
PSI_SMOOTH = 0.5  # additive bin smoothing (binary-exact literal)


def q_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index over the quality-score distribution,
    base vs batch (the same md5-parity slices every continuous-
    ingestion operator uses) — THE industry-standard model-monitoring
    drift number, complementing corpus_drift's unigram KL (content
    drift) and embed_drift's centroid shares (semantic drift) with
    SCORE drift: a quality classifier whose input distribution moves
    gets retrained before it silently rots. Per-bin rows expose where
    the mass moved; the PSI total and the standard verdict bands
    (<0.1 stable, <0.25 moderate, else major) ride every row.

    Determinism: bins are fixed [0,1) deciles of the shared
    quality_components expression (identical doubles -> identical
    bins); smoothed shares are single divisions of exact counts;
    each (p−q)·ln(p/q) term round-trips DECIMAL(38,6) before the
    exact decimal sum (lm_score ln discipline); the verdict compares
    the decimal-rounded total.

    Scale shape: one scan to per-doc (parity, bin), ONE
    PSI_BINS-bounded aggregate carrying two conditional counts,
    windows over the 10-row frame."""
    from pyspark.sql import Window as W

    from .text import quality_components

    docs = load_table(spark, sf_dir, "documents")
    q = quality_components(F.col("text"))["quality"]
    binned = docs.select(
        (md5_hash64(F.col("doc_id").cast("string")) % 2).alias("p"),
        F.least(
            F.floor(q * F.lit(float(PSI_BINS))), F.lit(PSI_BINS - 1)
        )
        .cast("int")
        .alias("bin"),
    )
    cells = binned.groupBy("bin").agg(
        F.sum((F.col("p") == 0).cast("long")).alias("c_base"),
        F.sum((F.col("p") == 1).cast("long")).alias("c_batch"),
    )
    return psi_cells_report(cells)


def psi_cells_report(cells: DataFrame) -> DataFrame:
    """The PSI arithmetic over a (bin, c_base, c_batch) frame — shared
    verbatim by q_drift_psi and the streaming per-batch drift twin
    (streaming/pipelines.drift_psi_batch), so stream and batch can
    never diverge on smoothing, rounding, or verdict bands."""
    from pyspark.sql import Window as W

    wall = W.partitionBy()
    s = F.lit(PSI_SMOOTH)
    denom_base = F.sum("c_base").over(wall).cast("double") + s * F.lit(
        float(PSI_BINS)
    )
    denom_batch = F.sum("c_batch").over(wall).cast("double") + s * F.lit(
        float(PSI_BINS)
    )
    p_base = (F.col("c_base").cast("double") + s) / denom_base
    p_batch = (F.col("c_batch").cast("double") + s) / denom_batch
    term = (
        ((p_batch - p_base) * F.log(p_batch / p_base))
        .cast("decimal(38,6)")
        .cast("double")
    )
    staged = cells.select(
        "bin",
        F.col("c_base").cast("long").alias("c_base"),
        F.col("c_batch").cast("long").alias("c_batch"),
        term.alias("psi_term"),
    )
    psi = (
        F.sum(F.col("psi_term").cast("decimal(38,6)"))
        .over(wall)
        .cast("double")
    )
    return staged.select(
        "bin",
        "c_base",
        "c_batch",
        "psi_term",
        psi.alias("psi"),
        F.when(psi < F.lit(0.1), F.lit("stable"))
        .when(psi < F.lit(0.25), F.lit("moderate"))
        .otherwise(F.lit("major"))
        .alias("verdict"),
    ).orderBy("bin")


_SQL_PSI_PARITY = SQL_MD5_HASH64.format(x="CAST(doc_id AS VARCHAR)")

SQL_DRIFT_PSI = f"""
    WITH t AS (SELECT doc_id, text, {SQL_TOKS} AS toks FROM documents),
    q AS (
        SELECT ({_SQL_PSI_PARITY} % 2) AS p,
               0.3 * LEAST(length(text) / 500.0, 1.0)
                 + 0.4 * (len(list_filter(toks,
                       x -> list_contains({_sql_stoplist()}, x)))
                          / len(toks))
                 + 0.3 * (length(regexp_replace(lower(text),
                       '[^a-z ]', '', 'g')) / length(text)) AS quality
        FROM t
    ), binned AS (
        SELECT p,
               CAST(LEAST(floor(quality * {float(PSI_BINS)!r}),
                          {PSI_BINS - 1}) AS INTEGER) AS bin
        FROM q
    ), cells AS (
        SELECT bin,
               CAST(SUM(CASE WHEN p = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS c_base,
               CAST(SUM(CASE WHEN p = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS c_batch
        FROM binned GROUP BY bin
    ), staged AS (
        SELECT bin, c_base, c_batch,
               CAST(CAST(
                   ((CAST(c_batch AS DOUBLE) + {PSI_SMOOTH!r}::DOUBLE)
                    / (CAST(SUM(c_batch) OVER () AS DOUBLE)
                       + {PSI_SMOOTH!r}::DOUBLE * {float(PSI_BINS)!r}::DOUBLE)
                    - (CAST(c_base AS DOUBLE) + {PSI_SMOOTH!r}::DOUBLE)
                      / (CAST(SUM(c_base) OVER () AS DOUBLE)
                         + {PSI_SMOOTH!r}::DOUBLE
                           * {float(PSI_BINS)!r}::DOUBLE))
                   * ln(((CAST(c_batch AS DOUBLE) + {PSI_SMOOTH!r}::DOUBLE)
                         / (CAST(SUM(c_batch) OVER () AS DOUBLE)
                            + {PSI_SMOOTH!r}::DOUBLE
                              * {float(PSI_BINS)!r}::DOUBLE))
                        / ((CAST(c_base AS DOUBLE) + {PSI_SMOOTH!r}::DOUBLE)
                           / (CAST(SUM(c_base) OVER () AS DOUBLE)
                              + {PSI_SMOOTH!r}::DOUBLE
                                * {float(PSI_BINS)!r}::DOUBLE)))
                   AS DECIMAL(38,6)) AS DOUBLE) AS psi_term
        FROM cells
    ), tot AS (
        SELECT bin, c_base, c_batch, psi_term,
               CAST(SUM(CAST(psi_term AS DECIMAL(38,6))) OVER ()
                    AS DOUBLE) AS psi
        FROM staged
    )
    SELECT bin, c_base, c_batch, psi_term, psi,
           CASE WHEN psi < 0.1 THEN 'stable'
                WHEN psi < 0.25 THEN 'moderate'
                ELSE 'major' END AS verdict
    FROM tot
    ORDER BY bin
"""


# --- two-sample KS drift test (round 10) ----------------------------------------

KS_GRID = 1000
# Two-sided alpha=0.05 asymptotic coefficient c(alpha)=sqrt(-ln(a/2)/2),
# Python-computed literal shared by both engines (the BENFORD_SHARES
# no-query-time-constant-math rule).
KS_C_05 = 1.3581015157406195


def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift test over the quality-score
    distribution, base vs batch (the same md5-parity slices as
    drift_psi): D = max |F_base − F_batch| with the asymptotic 5%
    critical value c·sqrt((n+m)/(nm)) — the distribution-shape monitor
    PSI's fixed deciles cannot match (KS sees a shift anywhere on the
    CDF, not just across bin edges). One-row verdict report.

    Exactness note: the CDFs are evaluated on a fixed 1000-point score
    quantization (floor(q·1000), the PSI binning rule at 100× finer
    grain) — the grid makes the cumulative frame BOUNDED at any corpus
    size and caps the statistic's error at 1/1000, the standard
    streaming/scalable KS compromise. Exact KS needs a global sort of
    raw scores, which is the one shape this engine refuses at 100 TB.

    Determinism: grid cells are floor on identical doubles; counts are
    exact ints; each |ΔF| is one double expression of exact ints; MAX
    is order-free; sqrt is IEEE-exact; the critical coefficient is a
    shared Python literal. NULL-quality docs (empty/token-less text)
    drop on both engines: the cell is NULL-gated on the quality
    expression itself (F.least would otherwise SKIP the NULL and pin
    the row to the top cell — r10 ADVICE), mirroring the oracle's
    WHERE quality IS NOT NULL.

    Scale shape (100 TB): one scan to (parity, cell), ONE
    KS_GRID-bounded aggregate, cumulative windows over ≤1000 rows, a
    1-row max."""
    from pyspark.sql import Window as W

    from .text import quality_components

    docs = load_table(spark, sf_dir, "documents")
    q = quality_components(F.col("text"))["quality"]
    binned = docs.select(
        (md5_hash64(F.col("doc_id").cast("string")) % 2).alias("p"),
        F.when(
            q.isNotNull(),
            F.least(
                F.floor(q * F.lit(float(KS_GRID))), F.lit(KS_GRID - 1)
            ),
        )
        .cast("int")
        .alias("cell"),
    ).filter(F.col("cell").isNotNull())
    cells = binned.groupBy("cell").agg(
        F.sum((F.col("p") == 0).cast("long")).alias("a"),
        F.sum((F.col("p") == 1).cast("long")).alias("b"),
    )
    w_cum = W.orderBy("cell").rowsBetween(W.unboundedPreceding, 0)
    w_all = W.partitionBy()
    staged = cells.select(
        F.sum("a").over(w_cum).alias("ca"),
        F.sum("b").over(w_cum).alias("cb"),
        F.sum("a").over(w_all).alias("na"),
        F.sum("b").over(w_all).alias("nb"),
    )
    d_row = F.abs(
        F.try_divide(F.col("ca").cast("double"), F.col("na").cast("double"))
        - F.try_divide(F.col("cb").cast("double"), F.col("nb").cast("double"))
    )
    agg = staged.select(
        d_row.alias("d"), "na", "nb"
    ).groupBy("na", "nb").agg(F.max("d").alias("d_stat"))
    crit = F.lit(KS_C_05) * F.sqrt(
        (F.col("na") + F.col("nb")).cast("double")
        / (F.col("na").cast("double") * F.col("nb").cast("double"))
    )
    return agg.select(
        F.col("na").cast("long").alias("n_base"),
        F.col("nb").cast("long").alias("n_batch"),
        "d_stat",
        crit.alias("critical_05"),
        (F.col("d_stat") > crit).alias("drifted"),
    )


SQL_KS_DRIFT = f"""
    WITH t AS (SELECT doc_id, text, {{toks}} AS toks FROM documents),
    q AS (
        SELECT (({{parity}}) % 2) AS p,
               {{quality}} AS quality
        FROM t
    ), binned AS (
        SELECT p,
               CAST(LEAST(floor(quality * {float(KS_GRID)!r}),
                          {KS_GRID - 1}) AS INTEGER) AS cell
        FROM q WHERE quality IS NOT NULL
    ), cells AS (
        SELECT cell,
               CAST(SUM(CASE WHEN p = 0 THEN 1 ELSE 0 END) AS BIGINT) AS a,
               CAST(SUM(CASE WHEN p = 1 THEN 1 ELSE 0 END) AS BIGINT) AS b
        FROM binned GROUP BY cell
    ), staged AS (
        SELECT SUM(a) OVER (ORDER BY cell
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS ca,
               SUM(b) OVER (ORDER BY cell
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS cb,
               SUM(a) OVER () AS na,
               SUM(b) OVER () AS nb
        FROM cells
    ), agg AS (
        SELECT na, nb,
               MAX(ABS(CAST(ca AS DOUBLE) / NULLIF(CAST(na AS DOUBLE), 0.0)
                       - CAST(cb AS DOUBLE)
                         / NULLIF(CAST(nb AS DOUBLE), 0.0))) AS d_stat
        FROM staged GROUP BY na, nb
    )
    SELECT CAST(na AS BIGINT) AS n_base,
           CAST(nb AS BIGINT) AS n_batch,
           d_stat,
           {KS_C_05!r} * SQRT(CAST(na + nb AS DOUBLE)
                              / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)))
               AS critical_05,
           d_stat > {KS_C_05!r} * SQRT(CAST(na + nb AS DOUBLE)
                    / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))) AS drifted
    FROM agg
"""


def _finalize_sql_ks_drift() -> str:
    from .text import _sql_quality_expr

    return SQL_KS_DRIFT.format(
        toks=SQL_TOKS,
        parity=_SQL_PSI_PARITY,
        quality=_sql_quality_expr("text", "toks"),
    )


SQL_KS_DRIFT = _finalize_sql_ks_drift()


# --- leave-one-source-out quality ablation (round 11) ------------------------


def q_source_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-source-out corpus quality ablation — the data-valuation
    primitive (Shapley-lite: the first marginal) a curation team reads
    before dropping or up-weighting a source: for each source, the mean
    corpus quality WITHOUT that source versus the overall mean, derived
    ANALYTICALLY from per-source sums (mean_without = (Σq − Σq_s) /
    (N − N_s)) — no per-source recompute, no second scan. A positive
    delta_without means removing the source RAISES corpus quality.

    Determinism: per-row quality rounds to DECIMAL(38,6) before any
    sum (lm_score discipline), so all sums are exact and order-free;
    every mean/delta is one double expression of exact sums; NULL-
    quality docs (token-less) are excluded from BOTH counts and sums
    identically on both engines; a single-source corpus yields NULL
    mean_without via try_divide.

    Scale shape (100 TB): ONE scan collapses map-side to the
    |sources|-bounded frame; the corpus totals are windows over that
    bounded frame; everything downstream is per-source scalar math."""
    from .text import quality_components

    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    q = quality_components(F.col("text"))["quality"]
    per_src = (
        docs.select(
            "source", q.cast("decimal(38,6)").alias("qd")
        )
        .filter(F.col("qd").isNotNull())
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("qd").alias("qsum"),
        )
    )
    w_all = W.partitionBy()
    staged = per_src.select(
        "source",
        "n_docs",
        "qsum",
        F.sum("n_docs").over(w_all).alias("n_total"),
        F.sum("qsum").over(w_all).alias("qsum_total"),
    )
    mean_in = F.col("qsum").cast("double") / F.col("n_docs").cast("double")
    mean_all = (
        F.col("qsum_total").cast("double") / F.col("n_total").cast("double")
    )
    mean_without = F.try_divide(
        (F.col("qsum_total") - F.col("qsum")).cast("double"),
        (F.col("n_total") - F.col("n_docs")).cast("double"),
    )
    return staged.select(
        "source",
        "n_docs",
        mean_in.alias("mean_quality"),
        mean_all.alias("mean_overall"),
        mean_without.alias("mean_without"),
        (mean_without - mean_all).alias("delta_without"),
    ).orderBy("source")


def _finalize_sql_source_ablation() -> str:
    from .text import _sql_quality_expr

    quality = _sql_quality_expr("text", "toks")
    return f"""
    WITH t AS (SELECT source, text, {SQL_TOKS} AS toks FROM documents),
    qq AS (
        SELECT source, CAST({quality} AS DECIMAL(38,6)) AS qd FROM t
    ), per_src AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               SUM(qd) AS qsum
        FROM qq WHERE qd IS NOT NULL GROUP BY source
    ), staged AS (
        SELECT source, n_docs, qsum,
               SUM(n_docs) OVER () AS n_total,
               SUM(qsum) OVER () AS qsum_total
        FROM per_src
    )
    SELECT source, n_docs,
           CAST(qsum AS DOUBLE) / CAST(n_docs AS DOUBLE) AS mean_quality,
           CAST(qsum_total AS DOUBLE) / CAST(n_total AS DOUBLE)
               AS mean_overall,
           CAST(qsum_total - qsum AS DOUBLE)
               / NULLIF(CAST(n_total - n_docs AS DOUBLE), 0.0)
               AS mean_without,
           CAST(qsum_total - qsum AS DOUBLE)
               / NULLIF(CAST(n_total - n_docs AS DOUBLE), 0.0)
           - CAST(qsum_total AS DOUBLE) / CAST(n_total AS DOUBLE)
               AS delta_without
    FROM staged
    ORDER BY source
"""


SQL_SOURCE_ABLATION = _finalize_sql_source_ablation()


# --- exact-K weighted sampling without replacement (round 11) ----------------

ARES_K = 100
ARES_W_FLOOR = 0.001  # weight floor: NULL/zero-quality docs still sampleable
ARES_U_GRID = 1_000_000  # md5-derived uniform grid (the house sampling rule)


def q_weighted_sample_ares(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-K weighted sampling WITHOUT replacement via A-Res
    reservoir keys (Efraimidis & Spirakis, IPL 2006): each doc draws a
    deterministic md5 uniform u and competes on key = ln(u)/w (the
    monotone log form of u^(1/w)); the K largest keys are EXACTLY a
    weighted sample without replacement. score_weighted_sample keeps a
    Bernoulli EXPECTED fraction; this guarantees the exact K a
    fixed-budget curation step needs.

    Determinism: u is the md5-grid uniform (exact integers + one fixed
    division); w floors at ARES_W_FLOOR (NULL-quality docs compete at
    the floor rather than vanishing); the key ROUNDS through
    DECIMAL(38,6) (the tfidf ln-rounding contract — engine libm ln
    diverges by 1 ulp on some inputs, observed at registration) and
    the ORDER uses the rounded key, so the selected K is identical on
    both engines; ordering ties break on doc_id.

    Scale shape (100 TB): one scan, per-row expression work, global
    top-K via TakeOrderedAndProject (per-partition partial top-K — the
    distributed-reservoir shape of the original paper); no shuffle
    beyond the K-row merge."""
    from .text import quality_components

    docs = load_table(spark, sf_dir, "documents")
    q = quality_components(F.col("text"))["quality"]
    u = (
        (
            F.pmod(
                md5_hash64(
                    F.concat(F.lit("ares|"), F.col("doc_id").cast("string"))
                ),
                F.lit(ARES_U_GRID),
            ).cast("double")
            + F.lit(0.5)
        )
        / F.lit(float(ARES_U_GRID))
    )
    w = F.greatest(q, F.lit(ARES_W_FLOOR))
    key = (F.log(u) / w).cast("decimal(38,6)").cast("double")
    return (
        docs.select(
            "doc_id",
            "source",
            w.alias("weight"),
            key.alias("sample_key"),
        )
        .orderBy(F.col("sample_key").desc(), F.col("doc_id").asc())
        .limit(ARES_K)
    )


def _finalize_sql_weighted_sample_ares() -> str:
    from .text import _sql_quality_expr

    quality = _sql_quality_expr("text", "toks")
    u = (
        f"((((('0x' || substr(md5('ares|' || CAST(doc_id AS VARCHAR)), 1, 15))"
        f"::BIGINT) % {ARES_U_GRID} + {ARES_U_GRID}) % {ARES_U_GRID})"
        f"::DOUBLE + 0.5) / {float(ARES_U_GRID)!r}"
    )
    return f"""
    WITH t AS (SELECT doc_id, source, text, {SQL_TOKS} AS toks
               FROM documents),
    scored AS (
        SELECT doc_id, source,
               GREATEST({quality}, {ARES_W_FLOOR!r}) AS weight,
               CAST(CAST(LN({u}) / GREATEST({quality}, {ARES_W_FLOOR!r})
                         AS DECIMAL(38,6)) AS DOUBLE) AS sample_key
        FROM t
    )
    SELECT doc_id, source, weight, sample_key
    FROM scored
    ORDER BY sample_key DESC, doc_id ASC
    LIMIT {ARES_K}
"""


SQL_WEIGHTED_SAMPLE_ARES = _finalize_sql_weighted_sample_ares()


# --- stratified k-fold assignment + balance audit (round 11) -------------------

KFOLD_K = 5


def q_kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified k-fold cross-validation assignment over documents:
    fold = md5('fold|'||doc_id) % K inside each language stratum, with
    the per-stratum balance audit a CV harness signs off before
    training — per (lang, fold) doc and char volume, each fold's share
    of its stratum, and the stratum's max/min fold-size ratio (a ratio
    far from 1 means the stratum is too small for K folds and the CV
    variance estimate is junk). Complements dataset_split (fractional
    train/val/test) and temporal_split (time-ordered) with the
    exchangeable-K-fold third leg.

    Determinism: the fold coin is the engine-portable md5 expression;
    counts and char sums are exact ints; shares and ratios are single
    int/int double divisions.

    Scale shape (100 TB): ONE scan collapses map-side to the
    |lang| x K cell frame; shares and the balance ratio are windows
    over that bounded frame. The assignment itself ships as an
    expression (no shuffle): any executor can recompute a row's fold
    from doc_id alone — the property that makes the split reproducible
    across reruns and engines."""
    docs = load_table(spark, sf_dir, "documents")
    fold = (
        md5_hash64(F.concat(F.lit("fold|"), F.col("doc_id").cast("string")))
        % KFOLD_K
    )
    cells = docs.groupBy(
        F.col("lang"), fold.alias("fold")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.col("n_chars").cast("long")).cast("long").alias("n_chars"),
    )
    from pyspark.sql import Window as W

    w_lang = W.partitionBy("lang")
    return cells.select(
        "lang",
        "fold",
        "n_docs",
        "n_chars",
        (
            F.col("n_docs").cast("double")
            / F.sum("n_docs").over(w_lang).cast("double")
        ).alias("fold_share"),
        (
            F.max("n_docs").over(w_lang).cast("double")
            / F.min("n_docs").over(w_lang).cast("double")
        ).alias("stratum_balance_ratio"),
    ).orderBy("lang", "fold")


_SQL_KFOLD = (
    "((('0x' || substr(md5('fold|' || CAST(doc_id AS VARCHAR)), 1, 15))"
    f"::BIGINT) % {KFOLD_K})"
)

SQL_KFOLD_ASSIGN = f"""
    WITH cells AS (
        SELECT lang, {_SQL_KFOLD} AS fold,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS n_chars
        FROM documents
        GROUP BY 1, 2
    )
    SELECT lang, fold, n_docs, n_chars,
           CAST(n_docs AS DOUBLE)
               / CAST(SUM(n_docs) OVER (PARTITION BY lang) AS DOUBLE)
               AS fold_share,
           CAST(MAX(n_docs) OVER (PARTITION BY lang) AS DOUBLE)
               / CAST(MIN(n_docs) OVER (PARTITION BY lang) AS DOUBLE)
               AS stratum_balance_ratio
    FROM cells
    ORDER BY lang, fold
"""


# --- Neyman optimal stratified-sample allocation (round 11) ---------------------

NEYMAN_BUDGET = 1000  # total audit-sample budget (docs)


def q_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman optimal allocation (Neyman 1934) of a fixed audit-sample
    budget across source strata: n_h proportional to N_h * sigma_h of
    the target metric (doc length), side by side with the proportional
    allocation n_h ~ N_h it beats. The decision table for any human
    review / labeling budget: high-variance sources get more eyes per
    doc, uniform boilerplate sources fewer.

    Determinism: per-stratum moments are exact integer sums; sigma is
    one IEEE sqrt of an exact-int expression rounded to 6dp; the
    N_h*sigma_h terms are 6dp-rounded then decimal-summed for the
    denominator (order-free); allocations are FLOOR of fixed double
    expressions — integer-exact outputs.

    Scale shape (100 TB): one scan collapses map-side to |sources|
    cells; shares/allocations are windows over that bounded frame."""
    docs = load_table(spark, sf_dir, "documents")
    cells = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.col("n_chars").cast("long")).cast("long").alias("s"),
        # squares sum in DECIMAL(38,0): a BIGINT sum overflows at
        # corpus scale (1e8-per-row squares x 1e12 rows)
        F.sum(
            (F.col("n_chars").cast("long") * F.col("n_chars").cast("long"))
            .cast("decimal(38,0)")
        ).alias("ss"),
    )
    rnd = lambda c: c.cast("decimal(38,6)").cast("double")  # noqa: E731
    n = F.col("n_docs").cast("double")
    var = (
        F.col("ss").cast("double") - F.col("s").cast("double")
        * F.col("s").cast("double") / n
    ) / n
    sigma = rnd(F.sqrt(F.greatest(var, F.lit(0.0))))
    scored = cells.select(
        "source",
        "n_docs",
        sigma.alias("sigma"),
        rnd(n * sigma).alias("w"),
    )
    from pyspark.sql import Window as W

    w_all = W.partitionBy()
    tot_w = F.sum(F.col("w").cast("decimal(38,6)")).over(w_all).cast(
        "double"
    )
    tot_n = F.sum("n_docs").over(w_all).cast("double")
    share = F.when(tot_w > F.lit(0.0), F.col("w") / tot_w)
    return scored.select(
        "source",
        "n_docs",
        "sigma",
        share.alias("neyman_share"),
        F.floor(share * F.lit(float(NEYMAN_BUDGET)))
        .cast("long")
        .alias("n_neyman"),
        F.floor(
            F.col("n_docs").cast("double") / tot_n
            * F.lit(float(NEYMAN_BUDGET))
        )
        .cast("long")
        .alias("n_prop"),
    ).orderBy("source")


SQL_NEYMAN_ALLOCATION = f"""
    WITH cells AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS s,
               SUM(CAST(CAST(n_chars AS BIGINT) * CAST(n_chars AS BIGINT)
                   AS DECIMAL(38,0))) AS ss
        FROM documents GROUP BY source
    ), scored AS (
        SELECT source, n_docs,
               CAST(CAST(sqrt(GREATEST(
                   (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE)
                    * CAST(s AS DOUBLE) / CAST(n_docs AS DOUBLE))
                   / CAST(n_docs AS DOUBLE), 0.0))
                   AS DECIMAL(38,6)) AS DOUBLE) AS sigma
        FROM cells
    ), weighted AS (
        SELECT source, n_docs, sigma,
               CAST(CAST(CAST(n_docs AS DOUBLE) * sigma AS DECIMAL(38,6))
                    AS DOUBLE) AS w
        FROM scored
    )
    SELECT source, n_docs, sigma,
           CASE WHEN CAST(SUM(CAST(w AS DECIMAL(38,6))) OVER () AS DOUBLE)
                     > 0.0
                THEN w / CAST(SUM(CAST(w AS DECIMAL(38,6))) OVER ()
                              AS DOUBLE) END AS neyman_share,
           CAST(FLOOR(CASE WHEN CAST(SUM(CAST(w AS DECIMAL(38,6))) OVER ()
                                AS DOUBLE) > 0.0
                THEN w / CAST(SUM(CAST(w AS DECIMAL(38,6))) OVER ()
                              AS DOUBLE) END * {NEYMAN_BUDGET}.0)
                AS BIGINT) AS n_neyman,
           CAST(FLOOR(CAST(n_docs AS DOUBLE)
                / CAST(SUM(n_docs) OVER () AS DOUBLE)
                * {NEYMAN_BUDGET}.0) AS BIGINT) AS n_prop
    FROM weighted
    ORDER BY source
"""

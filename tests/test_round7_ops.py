"""Semantic and plan pins for the round-7 operators (exactness vs the
DuckDB oracles is covered for every entry by test_oracle_parity).

- quality.py: gopher rule battery, hashed linear classifier, dataset
  split — all single-scan; the first two must plan with ZERO exchanges.
- dedup.py: cross-doc n-gram span report.
- embed_stats.py: sum-vector-identity corpus diversity (checked against
  a brute-force numpy O(N^2) recomputation) and fixed-centroid
  assignment.
"""

from __future__ import annotations

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from lenses_topology_example_spark.operators import dedup, embed_stats, quality

from .conftest import formatted_plan


# --- gopher_rules ------------------------------------------------------------------


def test_gopher_keep_is_conjunction(spark, sf_dir):
    df = quality.q_gopher_rules(spark, sf_dir)
    flags = [c for c in df.columns if c.startswith("ok_")]
    cond = F.lit(True)
    for c in flags:
        cond = cond & F.col(c)
    assert df.filter(F.col("keep") != cond).count() == 0
    # the battery discriminates on this corpus: both outcomes occur
    kept = df.filter("keep").count()
    assert 0 < kept < df.count()


def test_gopher_mean_word_len_bounds(spark, sf_dir):
    df = quality.q_gopher_rules(spark, sf_dir)
    bad = df.filter(
        (F.col("n_words") > 0)
        & (
            F.col("mean_word_len").isNull()
            | (F.col("mean_word_len") < 1)
            | (F.col("mean_word_len") > 50)
        )
    )
    assert bad.count() == 0


def test_gopher_rules_zero_shuffle(spark, sf_dir):
    plan = formatted_plan(quality.q_gopher_rules(spark, sf_dir))
    assert "Exchange" not in plan, "rule battery must be a pure map"


# --- quality_classifier ------------------------------------------------------------


def test_classifier_score_range_and_label(spark, sf_dir):
    df = quality.q_quality_classifier(spark, sf_dir)
    rows = df.filter(F.col("n_tokens") > 0)
    assert rows.filter((F.col("score") <= 0) | (F.col("score") >= 1)).count() == 0
    # sigmoid(x) >= 0.5 iff x >= 0: label must agree with the score
    assert rows.filter(F.col("keep") != (F.col("score") >= 0.5)).count() == 0
    # hashed weights split the corpus, not rubber-stamp it
    kept = rows.filter("keep").count()
    assert 0 < kept < rows.count()


def test_classifier_zero_shuffle(spark, sf_dir):
    plan = formatted_plan(quality.q_quality_classifier(spark, sf_dir))
    assert "Exchange" not in plan, "per-row weight fold must not shuffle"
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


# --- dataset_split -----------------------------------------------------------------


def test_dataset_split_partitions_corpus(spark, sf_dir):
    df = quality.q_dataset_split(spark, sf_dir).toPandas()
    n_docs = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id"]).num_rows
    assert int(df["n_docs"].sum()) == n_docs
    assert set(df["split"]) <= {"train", "valid", "test"}
    train_share = df[df["split"] == "train"]["n_docs"].sum() / n_docs
    assert 0.6 < train_share < 0.95


def test_dataset_split_deterministic(spark, sf_dir):
    a = sorted(map(tuple, quality.q_dataset_split(spark, sf_dir).collect()))
    b = sorted(map(tuple, quality.q_dataset_split(spark, sf_dir).collect()))
    assert a == b


# --- dedup_ngram_spans -------------------------------------------------------------


def test_ngram_spans_invariants(spark, sf_dir):
    df = dedup.q_dedup_ngram_spans(spark, sf_dir)
    n_docs = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id"]).num_rows
    assert df.count() == n_docs, "every doc surfaces, span-less included"
    assert df.filter(F.col("n_dup") > F.col("n_ngrams")).count() == 0
    assert (
        df.filter((F.col("n_ngrams") == 0) & F.col("dup_frac").isNotNull()).count()
        == 0
    )
    # the corpus genuinely repeats spans (measured 2.5k dup occurrences
    # at sf0.001) — an all-zero n_dup would mean the freq join is dead
    assert df.agg(F.sum("n_dup")).collect()[0][0] > 0


def test_ngram_spans_no_text_in_shuffle(spark, sf_dir):
    # the exchanges must carry (doc_id, h, ...) only — never the token
    # array or raw text; 'Exchange hashpartitioning' keys are h/doc_id
    plan = formatted_plan(dedup.q_dedup_ngram_spans(spark, sf_dir))
    # formatted mode prints node lines and Arguments separately — match
    # the partitioning expression itself
    assert "hashpartitioning(h#" in plan
    after = plan.split("hashpartitioning", 1)[1]
    assert "text#" not in after, (
        "raw text must not survive past the first projection"
    )


# --- corpus_diversity --------------------------------------------------------------


def test_corpus_diversity_matches_bruteforce(spark, sf_dir):
    row = embed_stats.q_corpus_diversity(spark, sf_dir).collect()[0]
    tbl = pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["embedding"])
    m = np.array(tbl.column("embedding").to_pylist(), dtype=np.float64)
    norms = np.linalg.norm(m, axis=1)
    u = m[norms > 0] / norms[norms > 0, None]
    n = len(u)
    assert row["n_vecs"] == n
    g = u @ u.T
    brute = (g.sum() - np.trace(g)) / (n * (n - 1))
    # identity is exact; the 1e-6 per-component decimal rounding and
    # float64-vs-exact accumulation leave only tiny residue
    assert abs(row["mean_pairwise_cos"] - brute) < 2e-3


# --- kmeans_assign -----------------------------------------------------------------


def test_kmeans_assign_partitions_vectors(spark, sf_dir):
    pdf = embed_stats.q_kmeans_assign(spark, sf_dir).toPandas()
    tbl = pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["embedding"])
    m = np.array(tbl.column("embedding").to_pylist(), dtype=np.float64)
    n_nonzero = int((np.linalg.norm(m, axis=1) > 0).sum())
    assert int(pdf["n_assigned"].sum()) == n_nonzero
    assert set(pdf["centroid_id"]) == set(range(embed_stats.KMEANS_K))
    assert ((pdf["mean_cos"] >= -1.0) & (pdf["mean_cos"] <= 1.0)).all()


def test_kmeans_assign_broadcasts_centroids(spark, sf_dir):
    plan = formatted_plan(embed_stats.q_kmeans_assign(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, "K-row centroid frame must broadcast"


# --- ann_recall --------------------------------------------------------------------


def test_ann_recall_bounds_and_exact_subset(spark, sf_dir):
    from lenses_topology_example_spark.operators import similarity

    pdf = similarity.q_ann_recall(spark, sf_dir).toPandas()
    assert len(pdf) == similarity.N_QUERIES
    assert (pdf["n_exact"] == similarity.TOP_K).all()
    assert (pdf["n_hit"] <= pdf["n_exact"]).all()
    assert ((pdf["recall"] >= 0) & (pdf["recall"] <= 1)).all()
    # no floor asserted: iid Gaussian vectors are sign-LSH's worst case
    # (no cluster structure — same-bucket probability ~2^-8), which is
    # exactly why the audit exists as an operator


# --- embed_quantize ----------------------------------------------------------------


def test_embed_quantize_error_bound(spark, sf_dir):
    """Symmetric int8 absmax quantization error is bounded by
    s/(2*127) per element; MAE and max must respect it (max con
    scale = corpus max absmax)."""
    import pyarrow.parquet as pq
    from lenses_topology_example_spark.operators import embed_stats

    row = embed_stats.q_embed_quantize(spark, sf_dir).collect()[0]
    tbl = pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["embedding"])
    m = np.abs(np.array(tbl.column("embedding").to_pylist(), dtype=np.float64))
    scales = m.max(axis=1)
    nonzero = scales > 0
    assert row["n_vecs"] == int(nonzero.sum())
    bound = scales[nonzero].max() / (2 * 127) + 1e-12
    assert 0 < row["mean_abs_err"] <= bound
    assert 0 < row["max_abs_err"] <= bound


# --- funnel_conversion / cohort_retention ------------------------------------------


def test_funnel_stage_monotonicity(spark, sf_dir):
    from lenses_topology_example_spark.operators import windows

    df = windows.q_funnel_conversion(spark, sf_dir)
    # chain breaks stay broken: no purchase without click, click after
    # view, purchase after click; stage_reached consistent with nulls
    assert df.filter(F.col("t_click").isNull() & F.col("t_purchase").isNotNull()).count() == 0
    assert df.filter(F.col("t_click") <= F.col("t_view")).count() == 0
    assert df.filter(F.col("t_purchase") <= F.col("t_click")).count() == 0
    bad_stage = df.filter(
        F.col("stage_reached")
        != (
            F.lit(1)
            + F.col("t_click").isNotNull().cast("int")
            + F.col("t_purchase").isNotNull().cast("int")
        )
    )
    assert bad_stage.count() == 0
    # funnel narrows on real data
    n1 = df.count()
    n2 = df.filter(F.col("t_click").isNotNull()).count()
    n3 = df.filter(F.col("t_purchase").isNotNull()).count()
    assert n1 >= n2 >= n3 and n1 > 0


def test_cohort_retention_invariants(spark, sf_dir):
    from lenses_topology_example_spark.operators import windows

    pdf = windows.q_cohort_retention(spark, sf_dir).toPandas()
    assert (pdf["day_offset"] >= 0).all()
    # offset-0 row exists for every cohort (the first-active day itself)
    cohorts = set(pdf["cohort_day"])
    assert set(pdf[pdf["day_offset"] == 0]["cohort_day"]) == cohorts
    # retention never exceeds cohort size
    day0 = pdf[pdf["day_offset"] == 0].set_index("cohort_day")["n_users"]
    for _i, r in pdf.iterrows():
        assert r["n_users"] <= day0[r["cohort_day"]]


# --- kmeans_refine / score_weighted_sample -----------------------------------------


def test_kmeans_refine_improves_cohesion(spark, sf_dir):
    """One Lloyd iteration must not hurt mean within-cluster cosine:
    the weighted mean cosine after refinement >= after seeding (Lloyd's
    monotonicity, up to the cosine-vs-L2 objective mismatch — allow a
    tiny epsilon)."""
    a0 = embed_stats.q_kmeans_assign(spark, sf_dir).toPandas()
    a1 = embed_stats.q_kmeans_refine(spark, sf_dir).toPandas()
    assert int(a1["n_assigned"].sum()) == int(a0["n_assigned"].sum())
    w0 = (a0["mean_cos"] * a0["n_assigned"]).sum() / a0["n_assigned"].sum()
    w1 = (a1["mean_cos"] * a1["n_assigned"]).sum() / a1["n_assigned"].sum()
    assert w1 >= w0 - 1e-6


def test_score_weighted_sample_rate_tracks_scores(spark, sf_dir):
    from lenses_topology_example_spark.operators import quality as q

    clf = q.q_quality_classifier(spark, sf_dir).toPandas()
    kept = q.q_score_weighted_sample(spark, sf_dir).toPandas()
    # kept set is a subset with rate ~ mean score (md5-uniform coin)
    mean_score = clf["score"].dropna().mean()
    rate = len(kept) / len(clf)
    assert abs(rate - mean_score) < 0.1
    # determinism: same kept set on rerun
    again = q.q_score_weighted_sample(spark, sf_dir).toPandas()
    assert sorted(kept["doc_id"]) == sorted(again["doc_id"])


# --- quality_gate / ann_recall_ivf -------------------------------------------------


def test_quality_gate_matches_components(spark, sf_dir):
    gate = quality.q_quality_gate(spark, sf_dir)
    assert gate.filter(
        F.col("keep") != (F.col("keep_rules") & F.col("keep_clf"))
    ).count() == 0
    rules = quality.q_gopher_rules(spark, sf_dir).select("doc_id", "keep")
    joined = gate.select("doc_id", "keep_rules").join(
        rules.withColumnRenamed("keep", "keep_batch"), "doc_id"
    )
    assert joined.filter(F.col("keep_rules") != F.col("keep_batch")).count() == 0


def test_ann_recall_ivf_bounds(spark, sf_dir):
    from lenses_topology_example_spark.operators import similarity

    pdf = similarity.q_ann_recall_ivf(spark, sf_dir).toPandas()
    assert len(pdf) == similarity.N_QUERIES
    assert (pdf["n_exact"] == similarity.TOP_K).all()
    assert (pdf["n_hit"] <= pdf["n_exact"]).all()
    assert ((pdf["recall"] >= 0) & (pdf["recall"] <= 1)).all()


# --- corpus_drift ------------------------------------------------------------------


def test_corpus_drift_properties(spark, sf_dir):
    """KL >= 0 (Gibbs), TV in [0, 1], and the md5-parity slices cover
    the corpus; on a random half-split of a homogeneous corpus both
    divergences should be small."""
    from lenses_topology_example_spark.operators import text as t

    row = t.q_corpus_drift(spark, sf_dir).collect()[0]
    assert row["kl_divergence"] >= 0
    assert 0 <= row["tv_distance"] <= 1
    assert row["n_base"] > 0 and row["n_batch"] > 0 and row["vocab"] > 0
    # a parity split of the SAME distribution: drift must be tiny
    assert row["kl_divergence"] < 0.1
    assert row["tv_distance"] < 0.2

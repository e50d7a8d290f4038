"""Semantic and plan pins for the late-round-7 operators (exactness vs
the DuckDB oracles is covered for every entry by test_oracle_parity).

- dedup.py: C4-style boilerplate screen, winnowing fingerprints (checked
  against a pure-Python reimplementation of robust winnowing).
- text.py: context-window chunking (coverage algebra), batch n-gram
  novelty, BM25 retrieval.
- embed_stats.py: cluster composition / label purity.
"""

from __future__ import annotations

import hashlib
import math
import re

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from lenses_topology_example_spark.operators import dedup, embed_stats, text

from .conftest import formatted_plan


# --- boilerplate_lines -------------------------------------------------------------


def test_boilerplate_flags_match_python_reference(spark, sf_dir):
    """Recompute the df>=3 screen with a Python dict over the same
    segmentation and compare every per-doc count."""
    docs = pq.read_table(f"{sf_dir}/documents.parquet").to_pylist()
    w = dedup.LINE_SEG_TOKENS
    seg_docs: dict[str, set[int]] = {}
    doc_segs: dict[int, list[str]] = {}
    for d in docs:
        toks = [t for t in re.split(r"\W+", d["text"].lower()) if t]
        segs = [
            " ".join(toks[i * w : (i + 1) * w]) for i in range(len(toks) // w)
        ]
        doc_segs[d["doc_id"]] = segs
        for s in segs:
            seg_docs.setdefault(s, set()).add(d["doc_id"])
    got = {
        r["doc_id"]: (r["n_lines"], r["n_boiler"])
        for r in dedup.q_boilerplate_lines(spark, sf_dir).collect()
    }
    want = {
        doc_id: (
            len(segs),
            sum(
                1
                for s in segs
                if len(seg_docs[s]) >= dedup.BOILERPLATE_MIN_DF
            ),
        )
        for doc_id, segs in doc_segs.items()
        if segs
    }
    assert got == want


def test_boilerplate_vs_dedup_lines_totals(spark, sf_dir):
    """Same segmentation => same per-doc n_lines as the keep-first
    screen; and the corpus genuinely contains boilerplate (an all-zero
    n_boiler would mean the df join is dead)."""
    bl = {
        r["doc_id"]: r["n_lines"]
        for r in dedup.q_boilerplate_lines(spark, sf_dir).collect()
    }
    dl = {
        r["doc_id"]: r["n_lines"]
        for r in dedup.q_dedup_lines(spark, sf_dir).collect()
    }
    assert bl == dl
    total_boiler = (
        dedup.q_boilerplate_lines(spark, sf_dir)
        .agg(F.sum("n_boiler"))
        .collect()[0][0]
    )
    assert total_boiler > 0


def test_boilerplate_no_text_in_shuffle(spark, sf_dir):
    plan = formatted_plan(dedup.q_boilerplate_lines(spark, sf_dir))
    assert "hashpartitioning(h#" in plan
    after = plan.split("hashpartitioning", 1)[1]
    assert "text#" not in after and "seg#" not in after, (
        "only md5 digests and ids may shuffle"
    )


# --- winnow_fingerprint ------------------------------------------------------------


def _py_winnow(tokens: list[str], span_w: int, win_w: int) -> tuple[int, int, int]:
    """Pure-Python robust winnowing over md5-derived span hashes —
    the independent reference for the array-expression form."""
    spans = [
        int(
            hashlib.md5(
                " ".join(tokens[i : i + span_w]).encode()
            ).hexdigest()[:15],
            16,
        )
        for i in range(len(tokens) - span_w + 1)
    ]
    n_win = max(len(spans) - win_w + 1, 0)
    sel = set()
    for i in range(n_win):
        window = spans[i : i + win_w]
        m = min(window)
        # rightmost minimal hash
        sel.add(i + max(j for j, h in enumerate(window) if h == m))
    return len(spans), n_win, len(sel)


def test_winnow_matches_python_reference(spark, sf_dir):
    docs = pq.read_table(f"{sf_dir}/documents.parquet").to_pylist()
    want = {}
    for d in docs:
        toks = [t for t in re.split(r"\W+", d["text"].lower()) if t]
        if len(toks) < dedup.NGRAM_SPAN_W:
            want[d["doc_id"]] = (0, 0, 0)
        else:
            want[d["doc_id"]] = _py_winnow(
                toks, dedup.NGRAM_SPAN_W, dedup.WINNOW_W
            )
    got = {
        r["doc_id"]: (r["n_spans"], r["n_windows"], r["n_fp"])
        for r in dedup.q_winnow_fingerprint(spark, sf_dir).collect()
    }
    assert got == want


def test_winnow_density_bounds(spark, sf_dir):
    """Every window selects a fingerprint and one fingerprint covers at
    most WINNOW_W windows => ceil(n_win/w) <= n_fp <= n_win."""
    rows = dedup.q_winnow_fingerprint(spark, sf_dir).collect()
    assert rows
    for r in rows:
        if r["n_windows"] > 0:
            assert (
                math.ceil(r["n_windows"] / dedup.WINNOW_W)
                <= r["n_fp"]
                <= r["n_windows"]
            )
        else:
            assert r["n_fp"] == 0 and r["fp_density"] in (None, 0.0)


def test_winnow_plan_has_no_exchange(spark, sf_dir):
    """The selection is per-row array math over the materialized
    span-hash table — the query itself must add NO exchange (the only
    allowed one is the parallel_scan round-robin inside the cached
    build)."""
    plan = formatted_plan(dedup.q_winnow_fingerprint(spark, sf_dir))
    assert "hashpartitioning" not in plan
    assert "InMemoryTableScan" in plan


# --- doc_chunk ---------------------------------------------------------------------


def test_doc_chunk_covers_every_token(spark, sf_dir):
    """Chunk algebra per doc: ids are 1..n contiguous, starts follow the
    stride, the last chunk ends exactly at L, consecutive chunks overlap
    by CHUNK_TOKENS - CHUNK_STRIDE tokens (except a short tail)."""
    from lenses_topology_example_spark.operators.dedup import _doc_tokens

    lens = {
        r["doc_id"]: len(r["t"])
        for r in _doc_tokens(spark, sf_dir).select("doc_id", "t").collect()
    }
    by_doc: dict[int, list] = {}
    for r in text.q_doc_chunk(spark, sf_dir).collect():
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == {d for d, l in lens.items() if l >= 1}
    for doc_id, rows in by_doc.items():
        rows.sort(key=lambda r: r["chunk_id"])
        l = lens[doc_id]
        assert [r["chunk_id"] for r in rows] == list(range(1, len(rows) + 1))
        for r in rows:
            assert r["chunk_start"] == (r["chunk_id"] - 1) * text.CHUNK_STRIDE + 1
            assert 1 <= r["chunk_tokens"] <= text.CHUNK_TOKENS
        last = rows[-1]
        assert last["chunk_start"] + last["chunk_tokens"] - 1 == l
        # no chunk starts past the end; a doc shorter than one chunk
        # yields exactly one chunk
        if l <= text.CHUNK_TOKENS:
            assert len(rows) == 1 and last["chunk_tokens"] == l


def test_doc_chunk_plan_has_no_exchange(spark, sf_dir):
    plan = formatted_plan(text.q_doc_chunk(spark, sf_dir))
    assert "hashpartitioning" not in plan


# --- ngram_novelty -----------------------------------------------------------------


def test_ngram_novelty_shape_and_bounds(spark, sf_dir):
    rows = {r["n"]: r for r in text.q_ngram_novelty(spark, sf_dir).collect()}
    assert set(rows) == set(range(1, text.NOVELTY_MAX_N + 1))
    for n, r in rows.items():
        assert 0 <= r["unseen"] <= r["batch_distinct"]
        assert r["batch_distinct"] > 0
    # higher-order n-grams are strictly more numerous and more novel on
    # any natural corpus slice: distinct trigrams >= distinct unigrams
    assert rows[3]["batch_distinct"] >= rows[1]["batch_distinct"]
    assert (rows[3]["novelty_rate"] or 0) >= (rows[1]["novelty_rate"] or 0)


# --- bm25_search -------------------------------------------------------------------


def test_bm25_ranking_is_sound(spark, sf_dir):
    rows = text.q_bm25_search(spark, sf_dir).collect()
    by_q: dict[str, list] = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {q for q, _ in text.BM25_QUERIES}
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= text.BM25_TOP_K
        # scores weakly decrease with rank; ties broke by doc_id
        for a, b in zip(rs, rs[1:]):
            assert a["score"] > b["score"] or (
                a["score"] == b["score"] and a["doc_id"] < b["doc_id"]
            )
        assert all(r["score"] > 0 for r in rs)


def test_bm25_plan_broadcasts_and_group_limits(spark, sf_dir):
    plan = formatted_plan(text.q_bm25_search(spark, sf_dir))
    assert "WindowGroupLimit" in plan, "top-k must prune ahead of the sort"
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


# --- cluster_purity ----------------------------------------------------------------


def test_cluster_purity_algebra(spark, sf_dir):
    rows = embed_stats.q_cluster_purity(spark, sf_dir).collect()
    assert len(rows) == embed_stats.KMEANS_K
    assert abs(sum(r["share"] for r in rows) - 1.0) < 1e-9
    n_vecs = (
        pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["vec_id"])
        .num_rows
    )
    # zero-norm vectors are excluded; the synthetic embeddings have none
    assert sum(r["n_assigned"] for r in rows) == n_vecs
    for r in rows:
        assert 0.0 < r["purity"] <= 1.0


def test_cluster_purity_matches_assignment_counts(spark, sf_dir):
    a = {
        r["centroid_id"]: r["n_assigned"]
        for r in embed_stats.q_kmeans_assign(spark, sf_dir).collect()
    }
    p = {
        r["centroid_id"]: r["n_assigned"]
        for r in embed_stats.q_cluster_purity(spark, sf_dir).collect()
    }
    assert a == p


# --- minhash_band_sweep ------------------------------------------------------------


def test_band_sweep_nesting_monotonicity(spark, sf_dir):
    """Config nesting: any (b, r) candidate shares r consecutive equal
    components, hence every finer config's candidate set is a subset of
    the coarser one's => n_candidates and recall are monotone
    non-increasing along (8,1) -> (4,2) -> (2,4) -> (1,8)."""
    rows = {
        (r["bands"], r["rows_per_band"]): r
        for r in dedup.q_minhash_band_sweep(spark, sf_dir).collect()
    }
    assert set(rows) == set(dedup.SWEEP_BAND_CONFIGS)
    ordered = [rows[c] for c in dedup.SWEEP_BAND_CONFIGS]
    for a, b in zip(ordered, ordered[1:]):
        assert a["n_candidates"] >= b["n_candidates"]
        assert a["n_hits"] >= b["n_hits"]
    for r in ordered:
        assert r["n_hits"] <= min(r["n_candidates"], r["n_true_pairs"])
        assert r["n_true_pairs"] > 0
        assert 0.0 <= r["recall"] <= 1.0
        assert r["precision"] is None or 0.0 <= r["precision"] <= 1.0


def test_band_sweep_8x1_recall_is_total(spark, sf_dir):
    """8 bands of 1 row: a true pair at J >= 0.2 over a 31-word synthetic
    vocabulary collides on at least one of 8 minhash components with
    near-certainty — measured recall at this corpus must be the maximal
    of the sweep (and is the measurement the operator exists to make)."""
    rows = {
        (r["bands"], r["rows_per_band"]): r["recall"]
        for r in dedup.q_minhash_band_sweep(spark, sf_dir).collect()
    }
    assert rows[(8, 1)] == max(rows.values())


# --- reservoir_sample --------------------------------------------------------------


def test_reservoir_exact_k_and_python_reference(spark, sf_dir):
    from lenses_topology_example_spark.operators import sketches

    docs = pq.read_table(
        f"{sf_dir}/documents.parquet", columns=["doc_id", "source"]
    ).to_pylist()
    by_src: dict[str, list] = {}
    for d in docs:
        h = int(
            hashlib.md5(str(d["doc_id"]).encode()).hexdigest()[:15], 16
        )
        by_src.setdefault(d["source"], []).append((h, d["doc_id"]))
    want = {
        src: [doc for _, doc in sorted(v)[: sketches.RESERVOIR_K]]
        for src, v in by_src.items()
    }
    got: dict[str, list] = {}
    for r in sorted(
        sketches.q_reservoir_sample(spark, sf_dir).collect(),
        key=lambda r: (r["source"], r["sample_rank"]),
    ):
        got.setdefault(r["source"], []).append(r["doc_id"])
    assert got == want
    for src, ids in got.items():
        assert len(ids) == min(sketches.RESERVOIR_K, len(by_src[src]))


def test_reservoir_plan_group_limits(spark, sf_dir):
    from lenses_topology_example_spark.operators import sketches

    plan = formatted_plan(sketches.q_reservoir_sample(spark, sf_dir))
    assert "WindowGroupLimit" in plan, (
        "exact-K per group must prune per-partition ahead of the exchange"
    )


# --- tokenizer_stats ---------------------------------------------------------------


def test_tokenizer_stats_totals_and_fertility(spark, sf_dir):
    rows = text.q_tokenizer_stats(spark, sf_dir).collect()
    n_docs = pq.read_table(
        f"{sf_dir}/documents.parquet", columns=["doc_id"]
    ).num_rows
    assert sum(r["n_docs"] for r in rows) == n_docs
    # every \W+ word maps to >= 1 BPE pre-token on this corpus
    for r in rows:
        assert r["fertility"] >= 1.0
        assert r["chars_per_word"] > 1.0
    # cross-check the word total against the per-doc token_count op
    words_total = (
        text.q_token_count(spark, sf_dir).agg(F.sum("n_tokens")).collect()[0][0]
    )
    assert sum(r["words"] for r in rows) == words_total


# --- cross_source_leak -------------------------------------------------------------


def test_cross_source_leak_consistent_with_containment(spark, sf_dir):
    """The matrix must aggregate EXACTLY the containment pairs: total
    n_links equals the pair count, per-cell max containment is bounded
    by the global max, and every (src_from, src_to) cell reproduces a
    hand-aggregation of the joined pair frame."""
    pairs = dedup.q_dedup_containment(spark, sf_dir).collect()
    src = {
        r["doc_id"]: r["source"]
        for r in __import__("pyspark").sql.SparkSession.getActiveSession()
        .read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "source")
        .collect()
    }
    want: dict[tuple, list] = {}
    for p in pairs:
        want.setdefault((src[p["doc_id"]], src[p["host_id"]]), []).append(p)
    got = {
        (r["src_from"], r["src_to"]): r
        for r in dedup.q_cross_source_leak(spark, sf_dir).collect()
    }
    assert set(got) == set(want)
    for cell, ps in want.items():
        r = got[cell]
        assert r["n_links"] == len(ps)
        assert r["n_docs_leaked"] == len({p["doc_id"] for p in ps})
        assert r["max_containment"] == max(p["containment"] for p in ps)
    assert sum(r["n_links"] for r in got.values()) == len(pairs)


# --- dup_cluster_sizes -------------------------------------------------------------


def test_dup_cluster_sizes_algebra(spark, sf_dir):
    rows = dedup.q_dup_cluster_sizes(spark, sf_dir).collect()
    n_docs = pq.read_table(
        f"{sf_dir}/documents.parquet", columns=["doc_id"]
    ).num_rows
    assert sum(r["n_docs"] for r in rows) == n_docs
    for r in rows:
        assert r["n_docs"] == r["family_size"] * r["n_families"]


def test_dup_cluster_sizes_counts_crafted_duplicates(spark, tmp_path):
    """The synthetic corpus has no exact dups (one family_size=1 row),
    so pin the histogram on a crafted corpus: 3 copies + 2 copies + 2
    unique docs => sizes {1: 2, 2: 1, 3: 1}."""
    rows = [
        (0, "aaa bbb ccc"), (1, "aaa bbb ccc"), (2, "aaa bbb ccc"),
        (3, "ddd eee"), (4, "ddd eee"),
        (5, "unique one"), (6, "another unique"),
    ]
    docs = __import__("pyspark").sql.SparkSession.getActiveSession().createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    sf = tmp_path / "dup_sf"
    sf.mkdir()
    docs.write.parquet(f"{sf}/documents.parquet")
    got = {
        r["family_size"]: r["n_families"]
        for r in dedup.q_dup_cluster_sizes(spark, str(sf)).collect()
    }
    assert got == {1: 2, 2: 1, 3: 1}


# --- lang_confusion ----------------------------------------------------------------


def test_lang_confusion_consistent_with_lang_id(spark, sf_dir):
    """Cells must re-aggregate q_lang_id's per-doc predictions exactly;
    row shares sum to 1 per actual language."""
    per_doc = text.q_lang_id(spark, sf_dir).collect()
    want: dict[tuple, int] = {}
    for r in per_doc:
        want[(r["lang"], r["pred_lang"])] = (
            want.get((r["lang"], r["pred_lang"]), 0) + 1
        )
    rows = text.q_lang_confusion(spark, sf_dir).collect()
    got = {(r["lang"], r["pred_lang"]): r["n_docs"] for r in rows}
    assert got == want
    shares: dict[str, float] = {}
    for r in rows:
        shares[r["lang"]] = shares.get(r["lang"], 0.0) + r["row_share"]
    for lang, s in shares.items():
        assert abs(s - 1.0) < 1e-9, lang


# --- embed_outliers ----------------------------------------------------------------


def test_embed_outliers_are_global_bottom_k(spark, sf_dir):
    """The report must be exactly the K least-aligned vectors under a
    numpy recomputation of the same centroid (unit-mean direction)."""
    import numpy as np

    tbl = pq.read_table(f"{sf_dir}/embeddings.parquet")
    m = np.array(tbl.column("embedding").to_pylist(), dtype=np.float64)
    ids = np.array(tbl.column("vec_id").to_pylist())
    norms = np.linalg.norm(m, axis=1)
    keep = norms > 0
    u = m[keep] / norms[keep, None]
    cent = u.mean(axis=0)
    cent = cent / np.linalg.norm(cent)
    cos = (m[keep] / norms[keep, None]) @ cent
    order = sorted(zip(cos, ids[keep]))
    want_ids = [int(i) for _, i in order[: embed_stats.OUTLIER_BOTTOM_K]]
    rows = sorted(
        embed_stats.q_embed_outliers(spark, sf_dir).collect(),
        key=lambda r: r["rank"],
    )
    got_ids = [r["vec_id"] for r in rows]
    # decimal(38,6) rounding can swap near-ties at the boundary; compare
    # as sets with a tolerance-checked boundary instead of exact order
    assert len(got_ids) == embed_stats.OUTLIER_BOTTOM_K
    sym = set(got_ids) ^ set(want_ids)
    if sym:
        # any disagreement must be a rounding-scale near-tie at the cut
        kth = order[embed_stats.OUTLIER_BOTTOM_K - 1][0]
        cos_by_id = {int(i): c for c, i in zip(cos, ids[keep])}
        assert all(abs(cos_by_id[i] - kth) < 1e-5 for i in sym), sym
    for a, b in zip(rows, rows[1:]):
        assert a["cos_to_centroid"] <= b["cos_to_centroid"]


def test_embed_outliers_plan_take_ordered(spark, sf_dir):
    plan = formatted_plan(embed_stats.q_embed_outliers(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, "bottom-k must not global-sort"


# --- event_rate_anomaly ------------------------------------------------------------


def test_event_rate_anomaly_moments_match_python(spark, sf_dir):
    """z-scores recomputed in Python from the same per-cell counts must
    match to float precision; flags follow the |z| >= 2 rule."""
    from lenses_topology_example_spark.operators import windows as ow

    rows = ow.q_event_rate_anomaly(spark, sf_dir).collect()
    by_type: dict[str, list] = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r)
    for et, rs in by_type.items():
        cs = [r["n_events"] for r in rs]
        n = len(cs)
        mean = sum(cs) / n
        var = sum(c * c for c in cs) / n - mean * mean
        for r in rs:
            if var <= 0:
                assert r["z_score"] is None and not r["is_anomaly"]
            else:
                want = (r["n_events"] - mean) / var**0.5
                assert abs(r["z_score"] - want) < 1e-9
                assert r["is_anomaly"] == (abs(r["z_score"]) >= ow.ANOMALY_Z)


# --- winnow_neardup ----------------------------------------------------------------


def test_winnow_neardup_guarantee_on_crafted_overlap(spark, tmp_path):
    """Winnowing's coverage guarantee: two docs sharing a run of
    WINNOW_W + NGRAM_SPAN_W - 1 (= 8) tokens MUST surface as a pair.
    Craft two docs sharing an 8-token run inside different contexts."""
    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    rows = [
        (0, "one two three " + shared + " four five six", "en", "s0", 60),
        (1, "seven eight nine ten " + shared + " eleven", "en", "s1", 60),
        (2, "entirely disjoint vocabulary in this document body", "en", "s2", 50),
    ]
    docs = __import__("pyspark").sql.SparkSession.getActiveSession().createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    sf = tmp_path / "winnow_sf"
    sf.mkdir()
    docs.write.parquet(f"{sf}/documents.parquet")
    pairs = {
        (r["doc_a"], r["doc_b"]): r
        for r in dedup.q_winnow_neardup(spark, str(sf)).collect()
    }
    assert (0, 1) in pairs, "guaranteed shared fingerprint missed"
    assert all(2 not in p for p in pairs), "disjoint doc paired"
    r = pairs[(0, 1)]
    assert r["n_shared"] >= 1 and 0 < r["overlap"] <= 1.0


def test_winnow_neardup_consistent_with_fingerprint_counts(spark, sf_dir):
    """n_shared can never exceed the smaller doc's fingerprint count;
    overlap is their exact ratio."""
    sizes = {
        r["doc_id"]: r["n_fp"]
        for r in dedup.q_winnow_fingerprint(spark, sf_dir).collect()
    }
    for r in dedup.q_winnow_neardup(spark, sf_dir).collect():
        # n_fp counts distinct positions; distinct VALUES can be fewer,
        # so the bound is <=
        bound = min(sizes[r["doc_a"]], sizes[r["doc_b"]])
        assert r["n_shared"] <= bound
        assert r["overlap"] > 0


# --- source_pagerank ---------------------------------------------------------------


def test_source_pagerank_matches_python_power_iteration(spark, sf_dir):
    """Recompute the 3-iteration power method in Python from the same
    leak-edge weights; every rank must match to float tolerance, and
    all sources must appear."""
    edges = {}
    for r in dedup.q_cross_source_leak(spark, sf_dir).collect():
        if r["src_from"] != r["src_to"]:
            edges[(r["src_from"], r["src_to"])] = r["n_links"]
    srcs = sorted(
        {s for e in edges for s in e}
        | {
            r["source"]
            for r in __import__("pyspark").sql.SparkSession.getActiveSession()
            .read.parquet(f"{sf_dir}/documents.parquet")
            .select("source")
            .distinct()
            .collect()
        }
    )
    outw = {}
    for (u, _v), w in edges.items():
        outw[u] = outw.get(u, 0) + w
    n = len(srcs)
    rank = {s: 1.0 / n for s in srcs}
    for _ in range(dedup.PAGERANK_ITERS):
        inflow = {s: 0.0 for s in srcs}
        for (u, v), w in edges.items():
            inflow[v] += rank[u] * (w / outw[u])
        rank = {
            s: (1.0 - dedup.PAGERANK_D) / n
            + dedup.PAGERANK_D * inflow[s]
            for s in srcs
        }
    got = {
        r["src"]: r["pagerank"]
        for r in dedup.q_source_pagerank(spark, sf_dir).collect()
    }
    assert set(got) == set(srcs)
    for s in srcs:
        assert abs(got[s] - rank[s]) < 1e-6, s
    # dangling-drop variant: total mass stays at or below 1
    assert sum(got.values()) <= 1.0 + 1e-9


# --- length_percentiles ------------------------------------------------------------


def test_length_percentiles_match_python_rank_definition(spark, sf_dir):
    import math as _math

    docs = pq.read_table(f"{sf_dir}/documents.parquet").to_pylist()
    by_src: dict[str, list] = {}
    for d in docs:
        toks = [t for t in re.split(r"\W+", d["text"].lower()) if t]
        by_src.setdefault(d["source"], []).append((len(toks), d["doc_id"]))
    rows = {r["source"]: r for r in text.q_length_percentiles(spark, sf_dir).collect()}
    assert set(rows) == set(by_src)
    for src, lens in by_src.items():
        lens.sort()
        n = len(lens)
        r = rows[src]
        assert r["n_docs"] == n
        assert r["max_tok"] == max(l for l, _ in lens)
        for p in text.LENGTH_PCTS:
            want = lens[_math.ceil(n * p / 100.0) - 1][0]
            assert r[f"p{p}"] == want, (src, p)
        assert r["p50"] <= r["p90"] <= r["p99"] <= r["max_tok"]


# --- minhash_est_audit -------------------------------------------------------------


def test_minhash_est_audit_measures_selection_bias(spark, sf_dir):
    """The audit's whole point: banding candidates are selected BY
    estimator collisions, so mean_est must exceed mean_exact (selection
    bias), errors are bounded by 1, and the pair universe is at least
    the thresholded dedup_minhash output."""
    row = dedup.q_minhash_est_audit(spark, sf_dir).collect()[0]
    assert row["n_pairs"] > 0
    assert row["mean_est"] > row["mean_exact"]
    assert 0 <= row["mean_abs_err"] <= row["max_abs_err"] <= 1.0
    assert row["n_pairs"] >= dedup.q_dedup_minhash(spark, sf_dir).count()

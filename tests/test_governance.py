"""Governance-tier semantics: SCD2 versioning invariants and the
constraint audit's report shape on the (clean) testdata. Oracle parity
runs in test_oracle_parity.py."""

from __future__ import annotations

from collections import Counter

from lenses_topology_example_spark.catalog import _CATALOG

from .conftest import formatted_plan


def test_scd2_invariants(spark, sf_dir):
    rows = _CATALOG["scd2_apply"][0](spark, sf_dir).collect()
    by_cust = Counter(r.c_custkey for r in rows)
    currents = Counter(r.c_custkey for r in rows if r.is_current)

    # exactly one current version per customer
    assert set(by_cust) == set(currents)
    assert all(c == 1 for c in currents.values())
    # version counts are 1 (untouched) or 2 (updated)
    assert set(by_cust.values()) <= {1, 2}
    assert 2 in by_cust.values(), "the 1998-H1 window must update someone"

    for r in rows:
        if r.is_current:
            assert r.valid_to is None
        else:
            # a closed-out row's valid_to must equal the successor's
            # valid_from
            succ = [
                s
                for s in rows
                if s.c_custkey == r.c_custkey and s.is_current
            ]
            assert len(succ) == 1 and succ[0].valid_from == r.valid_to


def test_scd2_balance_delta_exact(spark, sf_dir):
    import duckdb

    rows = _CATALOG["scd2_apply"][0](spark, sf_dir).collect()
    con = duckdb.connect()
    deltas = dict(
        con.execute(
            f"""
            SELECT o_custkey,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
            FROM '{sf_dir}/orders.parquet'
            WHERE o_orderdate >= TIMESTAMP '1998-01-01'
              AND o_orderdate < TIMESTAMP '1998-07-01'
            GROUP BY o_custkey
            """
        ).fetchall()
    )
    old = {r.c_custkey: r.acctbal for r in rows if not r.is_current}
    new = {
        r.c_custkey: r.acctbal
        for r in rows
        if r.is_current and r.c_custkey in old
    }
    assert set(old) == set(new) and set(old) <= set(deltas)
    for k in old:
        assert abs((new[k] - old[k]) - deltas[k]) < 1e-6


def test_constraint_audit_clean_data_passes(spark, sf_dir):
    rows = _CATALOG["constraint_audit"][0](spark, sf_dir).collect()
    assert len(rows) == 12
    report = {r.check_name: r for r in rows}
    # the generator produces referentially-intact, in-range data, so
    # everything passes EXCEPT the temporal constraint — shipdates are
    # drawn independently of order dates, so ~47% of lineitems ship
    # before their order (the real anomaly the audit exists to
    # surface; discovered via order_backlog's inverted intervals)
    dirty = "lineitem.shipdate >= order date"
    for name, r in report.items():
        assert r.n_rows > 0
        if name == dirty:
            assert not r.passed and r.n_violations > 0
            assert 0.2 < r.n_violations / r.n_rows < 0.8
        else:
            assert r.passed, f"{name}: {r.n_violations} violations"
            assert r.n_violations == 0


def test_streaming_scd2_log_matches_batch(spark, sf_dir, tmp_path):
    """The streamed append-only CDC log, resolved reader-side, must
    reproduce the one-shot batch SCD2 merge exactly when the update
    batch is split across micro-batches by key (each key's single
    aggregated update lands whole in some batch)."""
    from pyspark.sql import functions as F

    from lenses_topology_example_spark.operators.governance import (
        SCD2_WINDOW_END,
        SCD2_WINDOW_START,
    )
    from lenses_topology_example_spark.operators.relational import dsum
    from lenses_topology_example_spark.streaming.pipelines import (
        scd2_resolve,
        start_scd2_log_stream,
    )
    from lenses_topology_example_spark.tables import load_table

    want = [
        r.asDict()
        for r in _CATALOG["scd2_apply"][0](spark, sf_dir).collect()
    ]

    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(SCD2_WINDOW_START).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(SCD2_WINDOW_END).cast("timestamp"))
    )
    updates = orders.groupBy("o_custkey").agg(
        dsum(F.col("o_totalprice")).alias("delta"),
        F.max("o_orderdate").alias("eff_ts"),
    )

    # split keys into two micro-batch files by crc parity
    src = tmp_path / "scd2_src"
    for p in (0, 1):
        part = updates.filter(
            F.crc32(F.col("o_custkey").cast("string")) % 2 == p
        )
        part.write.parquet(f"{src}/f{p}")
    stream = (
        spark.readStream.schema("o_custkey long, delta double, eff_ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/f*")
    )
    out = tmp_path / "scd2_log"
    q = start_scd2_log_stream(stream, str(out), str(tmp_path / "scd2_ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    dim = load_table(spark, sf_dir, "customer")
    log = spark.read.parquet(str(out))
    got = [r.asDict() for r in scd2_resolve(dim, log).collect()]

    key = lambda d: (d["c_custkey"], str(d["valid_from"]))
    assert sorted(got, key=key) == sorted(want, key=key)


def test_scd2_resolve_multi_update_chain(spark, tmp_path):
    """Multi-version chains (the case the batch operator can't express):
    two updates to one key across batches yield three versions whose
    balances accumulate decimal-exactly and whose validity intervals
    tile [epoch, inf)."""
    from datetime import datetime

    from lenses_topology_example_spark.streaming.pipelines import scd2_resolve

    dim = spark.createDataFrame(
        [(1, "Customer#1", 7, 100.0, "BUILDING")],
        "c_custkey long, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string",
    )
    log = spark.createDataFrame(
        [
            (1, 10.5, datetime(1998, 2, 1)),
            (1, 2.25, datetime(1998, 5, 1)),
        ],
        "o_custkey long, delta double, eff_ts timestamp",
    )
    rows = scd2_resolve(dim, log).collect()
    assert [r.acctbal for r in rows] == [100.0, 110.5, 112.75]
    assert [r.is_current for r in rows] == [False, False, True]
    assert rows[0].valid_to == rows[1].valid_from
    assert rows[1].valid_to == rows[2].valid_from
    assert rows[2].valid_to is None


def test_agg_delta_merge_plan_has_cutoff_split(spark, sf_dir):
    """Both branches must push their cutoff filter to the orders scan —
    the incremental contract is that the delta side reads only new
    partitions at scale."""
    import re

    df = _CATALOG["agg_delta_merge"][0](spark, sf_dir)
    plan = formatted_plan(df)
    filters = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("LessThan(o_orderdate" in f for f in filters)
    assert any("GreaterThanOrEqual(o_orderdate" in f for f in filters)


def test_k_anonymity_report_consistency(spark, sf_dir):
    r = _CATALOG["k_anonymity"][0](spark, sf_dir).collect()[0]
    n_cust = spark.read.parquet(f"{sf_dir}/customer.parquet").count()
    assert r.n_rows == n_cust
    assert 0 < r.k_min
    assert r.classes_at_risk <= r.n_classes
    assert r.rows_at_risk <= r.n_rows
    assert r.is_k_anonymous == (r.k_min >= 5)
    assert abs(r.risk_fraction - round(r.rows_at_risk / r.n_rows, 6)) < 1e-9


def test_join_skew_stats_consistency(spark, sf_dir):
    r = _CATALOG["join_skew_stats"][0](spark, sf_dir).collect()[0]
    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert r.n_rows == n_events
    assert 1 <= r.p99_df <= r.max_df
    assert r.avg_df == round(r.n_rows / r.n_keys, 6)
    assert r.skew_ratio == round(r.max_df * r.n_keys / r.n_rows, 6)
    assert 0 < r.top10_share <= 1.0


def test_split_leak_check_counts_tie_out(spark, sf_dir):
    from lenses_topology_example_spark.operators.dedup import neardup_pairs

    rows = _CATALOG["split_leak_check"][0](spark, sf_dir).collect()
    n_pairs = neardup_pairs(spark, sf_dir).count()
    assert sum(r.n_pairs for r in rows) == n_pairs
    for r in rows:
        assert r.split_a <= r.split_b
        assert r.crosses_split == (r.split_a != r.split_b)
    # uniform hash splitting over a corpus with near-dup families MUST
    # show cross-split pairs — the hazard this audit exists to surface
    assert any(r.crosses_split for r in rows)


def test_split_by_cluster_is_leakproof(spark, sf_dir):
    """The property the operator exists for: under cluster-keyed
    splitting, ZERO near-dup pairs straddle splits (both members share
    a cluster label, hence a split key, hence a split)."""
    from pyspark.sql import functions as F

    from lenses_topology_example_spark.functions.texthash import md5_hash64
    from lenses_topology_example_spark.operators.dedup import (
        neardup_pairs,
        resolve_clusters,
    )
    from lenses_topology_example_spark.operators.quality import (
        SPLIT_TRAIN_PCT,
        SPLIT_VALID_PCT,
    )

    pairs = neardup_pairs(spark, sf_dir)
    labels = resolve_clusters(
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    ).select(F.col("doc").alias("doc_id"), F.col("label").alias("k"))

    bucket = md5_hash64(
        F.concat(F.lit("split|"), F.col("k").cast("string"))
    ) % F.lit(100)
    split = (
        F.when(bucket < F.lit(SPLIT_TRAIN_PCT), F.lit("train"))
        .when(
            bucket < F.lit(SPLIT_TRAIN_PCT + SPLIT_VALID_PCT), F.lit("valid")
        )
        .otherwise(F.lit("test"))
    )
    assign = {r.doc_id: r.split for r in labels.select("doc_id", split.alias("split")).collect()}
    crossers = [
        (r.doc_a, r.doc_b)
        for r in pairs.collect()
        if assign[r.doc_a] != assign[r.doc_b]
    ]
    assert crossers == []

    # and the report's totals still cover the whole corpus
    rows = _CATALOG["dataset_split_by_cluster"][0](spark, sf_dir).collect()
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert sum(r.n_docs for r in rows) == n_docs


def test_streaming_dq_report_matches_batch(spark, sf_dir, tmp_path):
    """The per-batch DQ reports must sum to the whole-table report when
    the events stream is split across micro-batches (violation counts
    and denominators are re-associable partial aggregates)."""
    from pyspark.sql import functions as F

    from lenses_topology_example_spark.streaming.pipelines import (
        events_dq_batch,
        start_dq_stream,
    )
    from lenses_topology_example_spark.tables import load_table

    events = load_table(spark, sf_dir, "events")
    want = {
        r.check_name: (r.n_violations, r.n_rows)
        for r in events_dq_batch(events).collect()
    }
    assert want  # 4 checks
    assert all(v == 0 for v, _ in want.values()), "clean testdata"

    src = tmp_path / "dq_src"
    for p in (0, 1):
        events.filter(F.col("event_id") % 2 == p).write.parquet(f"{src}/f{p}")
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/f*")
    )
    out = tmp_path / "dq_out"
    q = start_dq_stream(stream, str(out), str(tmp_path / "dq_ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got: dict[str, list[int]] = {}
    for r in spark.read.parquet(str(out)).collect():
        v, n = got.setdefault(r.check_name, [0, 0])
        got[r.check_name] = [v + r.n_violations, n + r.n_rows]
    assert {k: tuple(v) for k, v in got.items()} == want


def test_streaming_dq_empty_batch_reports_zero(spark, sf_dir):
    """An EMPTY micro-batch (replayed/no-data trigger) must report 0
    violations / passed=true on every check — SUM over an empty frame
    is NULL, and an uncoalesced NULL row is neither pass nor fail, so
    `passed = false` alerting silently misses it (r7 ADVICE)."""
    from lenses_topology_example_spark.streaming.pipelines import (
        events_dq_batch,
    )
    from lenses_topology_example_spark.tables import load_table

    events = load_table(spark, sf_dir, "events")
    rows = events_dq_batch(events.limit(0)).collect()
    assert len(rows) == 4
    for r in rows:
        assert r.n_violations == 0, r
        assert r.n_rows == 0, r
        assert r.passed is True, r


def test_top_paths_take_ordered(spark, sf_dir):
    df = _CATALOG["top_paths"][0](spark, sf_dir)
    assert "TakeOrderedAndProject" in formatted_plan(df)


def test_erasure_plan_cascade_consistency(spark, sf_dir):
    rows = {r.table_name: r for r in _CATALOG["erasure_plan"][0](spark, sf_dir).collect()}
    assert set(rows) == {"customer", "orders", "lineitem", "events"}
    for r in rows.values():
        assert 0 <= r.rows_to_delete <= r.rows_total
        assert abs(r.delete_fraction - round(r.rows_to_delete / r.rows_total, 6)) < 1e-9
    # the cascade can only delete lineitems belonging to doomed orders
    assert rows["lineitem"].rows_to_delete >= rows["orders"].rows_to_delete or (
        rows["orders"].rows_to_delete == 0
    )
    assert rows["customer"].rows_to_delete > 0, "mod-97 stand-in must match someone"


def test_markov_transitions_probabilities_sum_to_one(spark, sf_dir):
    from collections import defaultdict

    rows = _CATALOG["markov_transitions"][0](spark, sf_dir).collect()
    by_cur = defaultdict(float)
    n_by_cur = defaultdict(int)
    for r in rows:
        by_cur[r.cur_type] += r.p
        n_by_cur[r.cur_type] += r.n
    for cur, s in by_cur.items():
        # each p is rounded to 1e-6; row sums drift at most #types * 5e-7
        assert abs(s - 1.0) < 1e-5, (cur, s)
        assert n_by_cur[cur] > 0


def test_order_backlog_sweep_line_semantics(spark, sf_dir):
    """The cumulative backlog must equal the brute-force interval-stab
    count on sampled days, and the final backlog must be zero (every
    included order eventually closes)."""
    rows = _CATALOG["order_backlog"][0](spark, sf_dir).collect()
    assert rows == sorted(rows, key=lambda r: r.day)
    assert rows[-1].backlog == 0
    assert sum(r.opened for r in rows) == sum(r.closed for r in rows)
    assert all(r.backlog >= 0 for r in rows)

    import duckdb

    con = duckdb.connect()
    sample_days = [rows[len(rows) // 4].day, rows[len(rows) // 2].day]
    for day in sample_days:
        want = con.execute(
            f"""
            WITH closed AS (
                SELECT l_orderkey, MAX(l_shipdate) AS close_ts
                FROM '{sf_dir}/lineitem.parquet' GROUP BY l_orderkey
            )
            SELECT COUNT(*) FROM '{sf_dir}/orders.parquet'
            JOIN closed ON o_orderkey = l_orderkey
            WHERE date_trunc('day', o_orderdate) <= TIMESTAMP '{day}'
              AND GREATEST(date_trunc('day', close_ts),
                           date_trunc('day', o_orderdate))
                  > TIMESTAMP '{day}'
            """
        ).fetchone()[0]
        got = [r.backlog for r in rows if r.day == day][0]
        assert got == want, (day, got, want)


def test_dedup_savings_monotone_and_ties_out(spark, sf_dir):
    rows = _CATALOG["dedup_savings"][0](spark, sf_dir).collect()
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert sum(r.n_docs for r in rows) == n_docs
    for r in rows:
        assert r.tokens_after_near <= r.tokens_after_exact <= r.tokens_raw
        assert r.tokens_saved == r.tokens_raw - r.tokens_after_near
    # the sf0.001 slice has no exact-dup documents, but near-dup
    # clusters exist — the near pass must save something
    assert sum(r.tokens_after_exact for r in rows) <= sum(
        r.tokens_raw for r in rows
    )
    assert sum(r.tokens_after_near for r in rows) < sum(
        r.tokens_after_exact for r in rows
    )


def test_markov_transitions_golden_matrix(spark, tmp_path):
    """Crafted two-user stream with a known transition matrix: the
    operator must recover exact counts and probabilities, including
    the ts-tie broken by event_id and the per-user sequence boundary
    (no transition across users)."""
    from datetime import datetime, timedelta

    from lenses_topology_example_spark.operators.windows import (
        q_markov_transitions,
    )

    t0 = datetime(2024, 1, 1)
    rows = []
    # user 1: view > click > view > click > purchase
    for i, et in enumerate(["view", "click", "view", "click", "purchase"]):
        rows.append((100 + i, t0 + timedelta(minutes=i), 1, et, 1.0, "{}"))
    # user 2: view > view  (ts TIE on the second pair -> event_id order)
    rows.append((200, t0, 2, "view", 1.0, "{}"))
    rows.append((201, t0 + timedelta(minutes=1), 2, "view", 1.0, "{}"))
    rows.append((202, t0 + timedelta(minutes=1), 2, "click", 1.0, "{}"))

    d = tmp_path / "mkv"
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(f"{d}/events.parquet")

    got = {
        (r.cur_type, r.next_type): (r.n, r.p)
        for r in q_markov_transitions(spark, str(d)).collect()
    }
    assert got == {
        ("view", "click"): (3, round(3 / 4, 6)),
        ("view", "view"): (1, 0.25),
        ("click", "view"): (1, 0.5),
        ("click", "purchase"): (1, 0.5),
    }


def test_scd2_resolve_merges_same_instant_updates(spark):
    """Two log entries with equal (key, eff_ts) must merge into ONE
    version whose delta is the decimal-exact sum — not two
    arbitrarily-ordered zero-length versions."""
    from datetime import datetime

    from lenses_topology_example_spark.streaming.pipelines import scd2_resolve

    dim = spark.createDataFrame(
        [(1, "Customer#1", 7, 100.0, "SEG")],
        "c_custkey long, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string",
    )
    log = spark.createDataFrame(
        [
            (1, 10.25, datetime(1998, 2, 1)),
            (1, 5.50, datetime(1998, 2, 1)),
            (1, 1.00, datetime(1998, 6, 1)),
        ],
        "o_custkey long, delta double, eff_ts timestamp",
    )
    rows = scd2_resolve(dim, log).collect()
    assert len(rows) == 3  # base + merged instant + later update
    assert [r.acctbal for r in rows] == [100.0, 115.75, 116.75]
    assert [r.is_current for r in rows] == [False, False, True]
    assert rows[0].valid_to == rows[1].valid_from
    assert rows[1].valid_to == rows[2].valid_from


def test_token_budget_plan_water_filling_properties(spark, sf_dir):
    """Σ allocations == budget (exactly, within the 1e-6 decimal
    rounding of |sources| terms); small sources keep everything; every
    clipped source sits at the common cap; kept fractions are
    monotone non-increasing in source size."""
    rows = _CATALOG["token_budget_plan"][0](spark, sf_dir).collect()
    total = sum(r.tokens for r in rows)
    budget = (total * 3) // 5

    assert abs(sum(r.allocation for r in rows) - budget) < 1e-4 * len(rows)
    caps = {r.cap for r in rows if r.cap is not None}
    assert len(caps) == 1
    cap = caps.pop()
    for r in rows:
        if r.tokens <= cap:
            assert r.allocation == float(r.tokens)
            assert r.kept_frac == 1.0
        else:
            assert abs(r.allocation - cap) < 1e-9
            assert r.kept_frac < 1.0
    by_size = sorted(rows, key=lambda r: r.tokens)
    fracs = [r.kept_frac for r in by_size]
    assert all(a >= b - 1e-9 for a, b in zip(fracs, fracs[1:]))


def test_interval_merge_crafted_islands(spark, tmp_path):
    """Crafted interval set with known islands: overlap merges,
    touching merges, a long interval swallowing later short ones stays
    ONE island (the lag(end)-only bug this operator's running-max
    guard exists for), and a gap splits."""
    from datetime import datetime

    from lenses_topology_example_spark.operators.windows import (
        q_interval_merge,
    )

    d = lambda day: datetime(2024, 1, day)
    rows = [
        # supplier 1: [1,8) [5,12) overlap -> island; [12,19) touches
        # -> same island; [25,32) gap -> second island
        (1, 1, 10, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", d(1)),
        (1, 1, 10, 2, 1.0, 1.0, 0.0, 0.0, "N", "O", d(5)),
        (1, 1, 10, 3, 1.0, 1.0, 0.0, 0.0, "N", "O", d(12)),
        (1, 1, 10, 4, 1.0, 1.0, 0.0, 0.0, "N", "O", d(25)),
        # supplier 2: long [1,8) swallows [2,9)? no — equal length;
        # craft swallow via duplicates: [1,8) then [3,10) then [4,11):
        # all chain-overlap -> ONE island [1,11)
        (2, 1, 20, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", d(1)),
        (2, 1, 20, 2, 1.0, 1.0, 0.0, 0.0, "N", "O", d(3)),
        (2, 1, 20, 3, 1.0, 1.0, 0.0, 0.0, "N", "O", d(4)),
    ]
    p = tmp_path / "ivm"
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp",
    ).write.parquet(f"{p}/lineitem.parquet")

    got = {r.l_suppkey: r for r in q_interval_merge(spark, str(p)).collect()}
    # supplier 10 (key col is l_suppkey=10 for rows above): islands
    # [1,19) and [25,32) -> 2 islands, 18 + 7 = 25 days, 4 shipments
    assert got[10].n_islands == 2
    assert got[10].days_covered == 25
    assert got[10].n_shipments == 4
    # supplier 20: one island [1,11) -> 10 days, 3 shipments
    assert got[20].n_islands == 1
    assert got[20].days_covered == 10
    assert got[20].n_shipments == 3

"""Relational breadth tier: aggregations, joins, windows, set ops, scalar
and array function surface (SURVEY.md §2.4-2.5 extension queries).

The reference's only aggregate is the streaming word count
(kstreams/App.java:109); everything here is the capability-parity
extension declared in SURVEY.md §2 — all stock DataFrame ops, zero UDFs.

Determinism contract with the DuckDB oracle:
- every SUM over a double column casts to DECIMAL(38,6) first — decimal
  addition is exact and order-independent, so the result is identical at
  any parallelism (local[32] today, 1000 executors at 100 TB) — then one
  cast back to double at the boundary;
- AVG is computed as decimal-sum -> double / count (single IEEE division)
  rather than engine-native AVG, whose internal accumulation order is
  engine-specific;
- every ORDER BY carries a unique tiebreaker key so LIMIT/top-k is stable.

Scale notes: fact-fact joins (orders ⋈ customer, lineitem ⋈ orders) are
left to Catalyst as shuffle joins on the join key — at 100 TB these are
genuine co-partitioned sort-merge joins and AQE handles skew; bounded
dims (nation, region, the FX table) are broadcast explicitly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W, functions as F

from ..tables import load_table, parallel_scan


def dsum(col: Column) -> Column:
    """Order-independent exact sum of a double column (see module doc).

    Safe domain: |sum| < ~9.0e9 — past that, the scale-6 integer units
    exceed 2^53 and DuckDB's int128→double path double-rounds where
    Spark's BigDecimal single-rounds (the round-10 latent class,
    BASELINE.md). Sums that can cross at sf1.0+ (whole-table /
    coarse-group revenue totals) must use dsum4 instead;
    tests/test_decimal_exposure.py enforces this by projecting every
    oracle's double outputs to sf1.0 magnitude."""
    return F.sum(col.cast("decimal(38,6)")).cast("double")


# SQL twin of dsum for oracle queries.
def dsum_sql(expr: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(38,6))) AS DOUBLE)"


def dsum4(col: Column) -> Column:
    """dsum for sums that can cross ~9.0e9 at large scale factors:
    re-rounds the exact DECIMAL(38,6) sum to scale 4 (HALF_UP on both
    engines) before the double cast, keeping integer units under 2^53
    up to |sum| < ~9.0e11 — the decayed_revenue fix of record
    (BASELINE.md round-10 latent-class note)."""
    return F.round(F.sum(col.cast("decimal(38,6)")), 4).cast("double")


# SQL twin of dsum4 for oracle queries.
def dsum4_sql(expr: str) -> str:
    return f"CAST(ROUND(SUM(CAST({expr} AS DECIMAL(38,6))), 4) AS DOUBLE)"


def dsum2(col: Column) -> Column:
    """dsum for EXACT-2dp inputs (order/line prices): the scale-6 sum
    re-rounded to scale 2 is LOSSLESS (a sum of 2dp values IS a 2dp
    decimal), pushing the 2^53 double-cast ceiling to |sum| < ~9.0e13
    (sf ~1200 for whole-segment revenue). Found live in round 13: the
    sf10 parity sweep split winsorized_stats' means by 1 ulp — its
    per-segment sums (~7.5e11) crossed dsum's scale-6 line, invisible
    to the static output guard because a MEAN is a ratio
    (tests/test_decimal_exposure.py inspects outputs, not internal
    sums — the dynamic big-slice sweep is the complementary gate)."""
    return F.round(F.sum(col.cast("decimal(38,6)")), 2).cast("double")


# SQL twin of dsum2 for oracle queries.
def dsum2_sql(expr: str) -> str:
    return f"CAST(ROUND(SUM(CAST({expr} AS DECIMAL(38,6))), 2) AS DOUBLE)"


# --- aggregations -----------------------------------------------------------


def q_agg_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: 2-key groupBy, 6 aggregates.
    Filter + 7-column projection push into the parquet scan; partial
    HashAggregate collapses before the 6-key shuffle. The partial
    aggregate's decimal work is pure scan-side compute, so the filtered
    projection is parallel_scan-guarded (measured: 2.08 s
    single-task vs 1.36 s guarded on the one-row-group layout; the
    guard is a no-op on any multi-split scan)."""
    li = parallel_scan(
        spark,
        load_table(spark, sf_dir, "lineitem")
        .filter(
            F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            "l_quantity",
            "l_extendedprice",
            "l_discount",
            "l_tax",
        ),
    )
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    charge = disc_price * (F.lit(1.0) + F.col("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity")).alias("sum_qty"),
            dsum4(F.col("l_extendedprice")).alias("sum_base_price"),
            dsum4(disc_price).alias("sum_disc_price"),
            dsum4(charge).alias("sum_charge"),
            (dsum(F.col("l_quantity")) / F.count(F.lit(1))).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


SQL_AGG_REVENUE = f"""
    SELECT l_returnflag, l_linestatus,
           {dsum_sql('l_quantity')} AS sum_qty,
           {dsum4_sql('l_extendedprice')} AS sum_base_price,
           {dsum4_sql('l_extendedprice * (1.0 - l_discount)')} AS sum_disc_price,
           {dsum4_sql('l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)')} AS sum_charge,
           {dsum_sql('l_quantity')} / COUNT(*) AS avg_qty,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
"""


def q_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) per group — expands to a two-phase partial-distinct
    aggregate under Catalyst (no driver-side set)."""
    return (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


SQL_DISTINCT_USERS = """
    SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
    FROM events GROUP BY event_type
"""


def q_rollup_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (status, priority): grouping-set expansion, one pass."""
    return (
        load_table(spark, sf_dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum4(F.col("o_totalprice")).alias("revenue"),
        )
    )


SQL_ROLLUP_SALES = f"""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n_orders,
           {dsum4_sql('o_totalprice')} AS revenue
    FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


def q_cube_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority) — the full grouping-set lattice."""
    return (
        load_table(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


SQL_CUBE_SALES = """
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


# --- joins ------------------------------------------------------------------


def q_join_orders_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact equi-join (shuffle/SMJ at scale — both sides grow with
    SF, so no broadcast) then aggregate by segment."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey, "inner")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum4(F.col("o_totalprice")).alias("revenue"),
        )
    )


SQL_JOIN_ORDERS_CUSTOMER = f"""
    SELECT c_mktsegment,
           COUNT(*) AS n_orders,
           {dsum4_sql('o_totalprice')} AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
"""


def q_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped snowflake: lineitem ⋈ orders ⋈ customer ⋈ nation ⋈
    region. nation/region are bounded dims -> explicit broadcast (zero
    shuffle on the fact side for those hops); lineitem ⋈ orders stays a
    co-partitioned shuffle join on orderkey."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(dsum4(revenue).alias("revenue"), F.count(F.lit(1)).alias("n_items"))
    )


SQL_REGION_REVENUE = f"""
    SELECT r_name, n_name,
           {dsum4_sql('l_extendedprice * (1.0 - l_discount)')} AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
"""


def q_semi_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI (EXISTS): customers holding at least one urgent order.
    Semi join never duplicates the left side and ships only the join key."""
    cust = load_table(spark, sf_dir, "customer")
    urgent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return cust.join(
        urgent, cust.c_custkey == urgent.o_custkey, "left_semi"
    ).select("c_custkey", "c_name", "c_mktsegment")


SQL_SEMI_JOIN_CUSTOMERS = """
    SELECT c_custkey, c_name, c_mktsegment FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
"""


def q_anti_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI (NOT EXISTS): customers with no orders at all."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


SQL_ANTI_JOIN_CUSTOMERS = """
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def q_theta_join_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (theta) band count: per supplier name, how many parts
    price into the acctbal band [s_acctbal/4, s_acctbal/2).

    REWRITTEN round 13: the original broadcast-nested-loop part x
    supplier join was the round's ONE measured super-linear entry
    (bench_sf1_r13.json: 45.6x wall for the 10x sf0.1 -> sf1.0 step —
    BOTH sides scale with SF and the band matches ~30% of all pairs,
    so the join OUTPUT itself is O(SF^2); no join strategy fixes a
    quadratic output). Since the query only needs the per-supplier
    COUNT, the pairs are never needed: build the exact cumulative
    distribution of part prices once and answer each supplier with two
    CDF lookups.

    Exact-integer form (both engines agree bitwise): prices and
    acctbals are 2dp decimals, so with P = cents(p_retailprice) and
    A = cents(s_acctbal), p >= a/4 AND p < a/2 is EXACTLY
    2P < A <= 4P, giving n(A) = cdf(floor((A-1)/2)) -
    cdf(floor((A-1)/4)) where cdf(x) = #parts with P <= x. (The
    double-precision original can't disagree near band edges: the
    comparison only flips within ~2 ulp relative distance, and
    adjacent cent grid points differ by ~1e-8 relative — 8 orders
    coarser. The /4.0 and /2.0 divides are exponent shifts, exact.)

    Scale shape (100 TB): one map-side-combinable groupBy over part
    collapses to the |price grid| frame (cent values between min and
    max retail price — ~120k cells, SF-INVARIANT); a single bounded
    window turns it into a dense CDF small enough to BROADCAST; each
    supplier then does two broadcast-hash lookups — O(|part|) +
    O(|supplier|) with no pair materialization, vs the measured
    O(|part| x |supplier|) BNL. Re-measured after the rewrite:
    0.82x at the 10x sf1.0 step (BASELINE.md round-13) and EXACTLY
    1.00x at the 100x sf10 step (2M parts x 100k suppliers,
    bench_sf10_heads_r14.json) — the grid really is SF-invariant.
    Round 14: NULL p_retailprice/s_acctbal rows are filtered before
    the grid (pushed into the parquet scans), so the above-grid clamp
    path's `total` matches the rows the theta join would keep —
    proven against the join-form oracle on a null-bearing fixture
    (tests/test_round14_ops.py)."""
    from pyspark.sql import Window

    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")

    pc = (
        # NULL prices never satisfy the theta predicate — exclude them
        # BEFORE the grid so `total` (used on the above-grid clamp
        # path) can't count parts the original join dropped (r13
        # ADVICE; unreachable on TPC-H data but pins the semantics)
        part.filter(F.col("p_retailprice").isNotNull())
        .select(
            F.round(F.col("p_retailprice") * F.lit(100.0))
            .cast("long")
            .alias("pc")
        )
        .groupBy("pc")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.orderBy("pc").rowsBetween(Window.unboundedPreceding, 0)
    cdf_sparse = pc.select("pc", F.sum("c").over(w).alias("cum"))
    # densify over the bounded cent grid so supplier lookups are plain
    # equi-joins (forward-fill the step function between price points)
    rng = pc.agg(
        F.min("pc").alias("lo"),
        F.max("pc").alias("hi"),
        F.sum("c").alias("total"),
    )
    dense = rng.select(
        "lo",
        "hi",
        "total",
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("k"),
    )
    wf = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    cdf_dense = (
        dense.join(cdf_sparse, dense.k == cdf_sparse.pc, "left")
        .select(
            "k",
            "lo",
            "hi",
            "total",
            F.last("cum", ignorenulls=True).over(wf).alias("cum"),
        )
        .select("k", "lo", "hi", "total", F.coalesce("cum", F.lit(0)).alias("cum"))
    )

    s = supp.filter(F.col("s_acctbal").isNotNull()).select(
        "s_name",
        F.round(F.col("s_acctbal") * F.lit(100.0)).cast("long").alias("a"),
    ).select(
        "s_name",
        F.floor((F.col("a") - 1) / F.lit(2.0)).cast("long").alias("hi_key"),
        F.floor((F.col("a") - 1) / F.lit(4.0)).cast("long").alias("lo_key"),
    )

    # join both keys against the broadcast grid, then clamp: a key
    # below the grid reads 0, above it reads the total
    enriched = s.crossJoin(F.broadcast(rng))
    hi_cdf = (
        enriched.join(
            F.broadcast(cdf_dense.select(F.col("k").alias("hk"), F.col("cum").alias("hi_cum"))),
            F.col("hi_key") == F.col("hk"),
            "left",
        )
        .join(
            F.broadcast(cdf_dense.select(F.col("k").alias("lk"), F.col("cum").alias("lo_cum"))),
            F.col("lo_key") == F.col("lk"),
            "left",
        )
        .select(
            "s_name",
            (
                F.when(F.col("hi_key") < F.col("lo"), F.lit(0))
                .when(F.col("hi_key") > F.col("hi"), F.col("total"))
                .otherwise(F.col("hi_cum"))
                - F.when(F.col("lo_key") < F.col("lo"), F.lit(0))
                .when(F.col("lo_key") > F.col("hi"), F.col("total"))
                .otherwise(F.col("lo_cum"))
            ).alias("n"),
        )
    )
    return (
        hi_cdf.groupBy("s_name")
        .agg(F.sum("n").alias("n_parts"))
        .filter(F.col("n_parts") > 0)
        .select("s_name", F.col("n_parts").cast("long").alias("n_parts"))
    )


SQL_THETA_JOIN_PARTS = """
    SELECT s_name, COUNT(*) AS n_parts
    FROM part JOIN supplier
      ON p_retailprice >= s_acctbal / 4.0 AND p_retailprice < s_acctbal / 2.0
    GROUP BY s_name
"""


# --- windows / top-k / sort -------------------------------------------------


def q_topk_spenders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-10 by exact spend. orderBy+limit compiles to
    TakeOrderedAndProject — per-partition top-k then a driver merge of K
    rows per partition, never a full sort of the fact table."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_custkey")
        .agg(dsum(F.col("o_totalprice")).alias("spend"))
        .orderBy(F.col("spend").desc(), F.col("o_custkey").asc())
        .limit(10)
    )


SQL_TOPK_SPENDERS = f"""
    SELECT o_custkey, {dsum_sql('o_totalprice')} AS spend
    FROM orders GROUP BY o_custkey
    ORDER BY spend DESC, o_custkey ASC LIMIT 10
"""


def q_rank_top_payments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 per group via ranking window (partitionBy bounds state to the
    group; the unique event_id tiebreaker makes row_number stable)."""
    events = load_table(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy(
        F.col("value").desc(), F.col("event_id").asc()
    )
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("event_type", "event_id", "value", "rn")
    )


SQL_RANK_TOP_PAYMENTS = """
    SELECT event_type, event_id, value, rn FROM (
        SELECT event_type, event_id, value,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY value DESC, event_id ASC) AS rn
        FROM events
    ) WHERE rn <= 5
"""


def q_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-based analytics: running sum + lag + row_number per user.
    The running decimal sum is exact, so results are order-independent
    given the total (ts, event_id) ordering within each partition."""
    events = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    running = (
        F.sum(F.col("value").cast("decimal(38,6)"))
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .cast("double")
    )
    return events.select(
        "user_id",
        "event_id",
        F.row_number().over(w).alias("seq"),
        running.alias("running_value"),
        F.lag("event_type", 1).over(w).alias("prev_type"),
    )


SQL_WINDOW_RUNNING = """
    SELECT user_id, event_id,
           ROW_NUMBER() OVER w AS seq,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) OVER
                (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
               AS running_value,
           LAG(event_type, 1) OVER w AS prev_type
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


# --- set ops ----------------------------------------------------------------


def q_intersect_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct set semantics): event users who are customers."""
    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("id")
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id")
    )
    return ev.intersect(cust)


SQL_INTERSECT_USERS = """
    SELECT user_id AS id FROM events INTERSECT SELECT c_custkey AS id FROM customer
"""


def q_except_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT: customers who never produced an event."""
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id")
    )
    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("id")
    )
    # subtract == EXCEPT DISTINCT, exactly what the SQL expresses — one
    # set-op instead of exceptAll + two redundant distincts
    return cust.subtract(ev)


SQL_EXCEPT_USERS = """
    SELECT c_custkey AS id FROM customer EXCEPT SELECT user_id AS id FROM events
"""


# --- scalar / array function surface ----------------------------------------


def q_scalar_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String/date/math scalar library over orders — all JVM-side
    codegen'd expressions (the moral equivalent of the reference's
    per-record Java lambdas, PaymentsService.java:50-57, with no
    Python in the loop)."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.length("o_orderpriority").alias("prio_len"),
        F.substring("o_orderpriority", 1, 1).alias("prio_code"),
        F.concat_ws("#", "o_orderstatus", "o_orderpriority").alias("tag"),
        F.lower("o_orderpriority").alias("prio_lc"),
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.dayofmonth("o_orderdate").alias("dom"),
        F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
        F.round(F.col("o_totalprice") / F.lit(7.0), 2).alias("price_div"),
        F.abs(F.col("o_totalprice") - F.lit(100000.0)).alias("price_dev"),
        F.floor(F.col("o_totalprice")).alias("price_floor"),
        F.ceil(F.col("o_totalprice")).alias("price_ceil"),
        F.pmod(F.col("o_orderkey"), F.lit(97)).alias("key_mod"),
        F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("O")), F.lit("OPEN")).alias(
            "status_or_open"
        ),
        F.greatest(F.col("o_totalprice"), F.lit(50000.0)).alias("price_floor50k"),
    )


SQL_SCALAR_FNS = """
    SELECT o_orderkey,
           LENGTH(o_orderpriority) AS prio_len,
           SUBSTRING(o_orderpriority, 1, 1) AS prio_code,
           o_orderstatus || '#' || o_orderpriority AS tag,
           LOWER(o_orderpriority) AS prio_lc,
           CAST(YEAR(o_orderdate) AS INTEGER) AS yr,
           CAST(MONTH(o_orderdate) AS INTEGER) AS mo,
           CAST(DAY(o_orderdate) AS INTEGER) AS dom,
           DATE_TRUNC('month', o_orderdate)::TIMESTAMP AS month_start,
           ROUND(o_totalprice / 7.0, 2) AS price_div,
           ABS(o_totalprice - 100000.0) AS price_dev,
           CAST(FLOOR(o_totalprice) AS BIGINT) AS price_floor,
           CAST(CEIL(o_totalprice) AS BIGINT) AS price_ceil,
           o_orderkey % 97 AS key_mod,
           COALESCE(NULLIF(o_orderstatus, 'O'), 'OPEN') AS status_or_open,
           GREATEST(o_totalprice, 50000.0) AS price_floor50k
    FROM orders
"""


def q_array_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array function surface over tokenized documents (split -> array is
    the reference's only array use, akkastreams/App.java:87); size /
    element_at / distinct / contains / sort / slice+join, all native."""
    from .wordcount import tokens_col

    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_col(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.element_at(toks, 1).alias("first_token"),
        F.element_at(toks, -1).alias("last_token"),
        F.array_contains(toks, "the").cast("boolean").alias("has_the"),
        F.array_join(F.slice(F.array_sort(toks), 1, 3), " ").alias("first3_sorted"),
    )


SQL_ARRAY_FNS = r"""
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\W+'),
                           x -> x <> '') AS toks
        FROM documents
    )
    SELECT doc_id,
           CAST(len(toks) AS INTEGER) AS n_tokens,
           CAST(len(list_distinct(toks)) AS INTEGER) AS n_distinct_tokens,
           toks[1] AS first_token,
           toks[-1] AS last_token,
           list_contains(toks, 'the') AS has_the,
           array_to_string(list_sort(toks)[1:3], ' ') AS first3_sorted
    FROM t
"""

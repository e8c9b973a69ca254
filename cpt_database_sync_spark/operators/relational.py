"""Relational closure — the analytics surface of the engine.

The reference can only execute ``SELECT <all mapped columns> FROM <table>``
(`sync/QueryBuilder.java:46-75`); everything here is the declared extension
surface (SURVEY.md §2B). All operators are stock Catalyst constructs —
hash/broadcast joins, partial+final hash aggregation, window exec, top-k via
TakeOrderedAndProject — so predicate pushdown, column pruning, join
reordering and AQE apply for free.

Scale notes (100 TB):
- Dimension sides of joins are explicitly ``broadcast()``-hinted when they
  stay small at any SF (region/nation/buckets) — no shuffle of the fact.
- Fact-fact joins (orders ⋈ lineitem) shuffle on the join key; at scale the
  right answer is bucketing both tables on the key at write time, which
  these declarative plans pick up automatically.
- Aggregations are expressed groupBy→agg, giving map-side partial
  aggregation; no driver-side collection anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cpt_database_sync_spark.functions.numeric import (
    davg,
    dec,
    dsum,
    out_double,
    sql_davg,
    sql_dsum,
)
from cpt_database_sync_spark.plans.registry import register
from cpt_database_sync_spark.session import local_frame
from cpt_database_sync_spark.sources.tables import load


# ---------------------------------------------------------------------------
# Core sync lineage (directly generalizing the reference's scan path)
# ---------------------------------------------------------------------------


@register(
    "scan_project",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem
    """,
)
def scan_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection scan with static column pruning.

    Reference: `sync/QueryBuilder.java:46-75` builds ``SELECT c1..cn FROM t``
    over exactly the mapped columns. Spark-first: ``.select`` prunes the
    parquet ReadSchema to the 4 columns (verify via .explain ReadSchema).
    """
    return load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )


@register(
    "filter_pushdown",
    oracle=f"""
    SELECT
      {sql_dsum("CAST(l_extendedprice AS DECIMAL(12,4)) * CAST(l_discount AS DECIMAL(12,4))", 30, 8)} AS revenue,
      COUNT(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def filter_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate pushdown — the operator the reference scaffolded but left
    dead (`sync/QueryBuilder.java:68-73`: clauses hardcoded empty).

    TPC-H Q6-flavored. All four predicates reach the parquet scan as
    PushedFilters; only 4 columns are read.
    """
    li = load(spark, sf_dir, "lineitem")
    filtered = li.filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & F.col("l_discount").between(0.03, 0.07)
        & (F.col("l_quantity") < 24)
    )
    return filtered.agg(
        out_double(
            F.sum(
                F.col("l_extendedprice").cast("decimal(12,4)")
                * F.col("l_discount").cast("decimal(12,4)")
            ),
            6,
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "null_handling",
    oracle="""
    SELECT
      event_type,
      COUNT(*) AS n_total,
      COUNT(CASE WHEN event_type <> 'error' THEN value END) AS n_nonnull,
      CAST(SUM(CAST(COALESCE(CASE WHEN event_type <> 'error' THEN value END, 0.0) AS DECIMAL(14,6))) AS DOUBLE) AS sum_coalesced,
      CAST(SUM(CASE WHEN (CASE WHEN event_type <> 'error' THEN value END) IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null
    FROM events
    GROUP BY event_type
    """,
)
def null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null propagation through projection/filter/aggregation.

    Reference handles nulls via a `wasNull` probe per getter
    (`sync/JdbcRecordCursor.java:171-181`) and `setObject(i, null)` on write
    (`sync/JdbcPageSink.java:116-119`). Spark: nullable StructFields +
    null-aware expressions. The fixtures contain no natural nulls, so we
    inject them deterministically (value of 'error' events → NULL).
    """
    ev = load(spark, sf_dir, "events")
    v = F.when(F.col("event_type") != "error", F.col("value"))
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count(v).alias("n_nonnull"),
        F.sum(F.coalesce(v, F.lit(0.0)).cast("decimal(14,6)"))
        .cast("double")
        .alias("sum_coalesced"),
        F.sum(F.when(v.isNull(), 1).otherwise(0)).cast("bigint").alias("n_null"),
    )


# ---------------------------------------------------------------------------
# Joins
# ---------------------------------------------------------------------------


@register(
    "join_inner",
    oracle=f"""
    SELECT
      c.c_mktsegment,
      o.o_orderpriority,
      COUNT(*) AS n_items,
      {sql_dsum("CAST(l.l_extendedprice AS DECIMAL(12,4)) * (1 - CAST(l.l_discount AS DECIMAL(12,4)))", 30, 8)} AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
    GROUP BY c.c_mktsegment, o.o_orderpriority
    """,
)
def join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-way inner equi-join (TPC-H Q3-flavored) + grouped aggregation.

    customer is broadcast (dimension-sized at any SF relative to lineitem);
    orders ⋈ lineitem is a shuffle hash/sort-merge join on the key —
    bucket-able at scale. AQE picks the physical join at runtime.
    """
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderdate") >= "1996-01-01")
    li = load(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice").cast("decimal(12,4)") * (
        1 - F.col("l_discount").cast("decimal(12,4)")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            out_double(F.sum(revenue), 6).alias("revenue"),
        )
    )


@register(
    "join_left",
    oracle="""
    SELECT
      c.c_custkey,
      COUNT(o.o_orderkey) AS n_orders,
      CAST(COALESCE(SUM(CAST(o.o_totalprice AS DECIMAL(12,2))), 0) AS DOUBLE) AS total_spend
    FROM customer c
    LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey
    """,
)
def join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving customers with zero orders."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(F.sum(F.col("o_totalprice").cast("decimal(12,2)")), F.lit(0))
            .cast("double")
            .alias("total_spend"),
        )
    )


@register(
    "join_bucketed",
    oracle="""
    SELECT o.o_orderpriority, COUNT(*) AS n_items
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located join via write-time bucketing — the 100 TB fact-to-fact
    join strategy. Both sides are written bucketed+sorted by the join key;
    the sort-merge join then reads bucket-aligned files with NO exchange
    and NO sort on either side (asserted in tests/test_plans.py). At scale
    this is the difference between re-shuffling 100 TB per join and
    reading pre-partitioned data; the one-time bucketed write amortizes
    across every downstream join on the key.
    """
    import shutil

    n_buckets = 8
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    for name, table in (("orders", "b_orders"), ("lineitem", "b_lineitem")):
        # a previous session's managed-table directory survives the
        # in-memory catalog; drop both the entry and the location
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        shutil.rmtree(warehouse.removeprefix("file:") + f"/{table}", ignore_errors=True)
        (
            load(spark, sf_dir, name)
            .write.bucketBy(n_buckets, f"{name[0]}_orderkey")
            .sortBy(f"{name[0]}_orderkey")
            .mode("overwrite")
            .format("parquet")
            .saveAsTable(table)
        )
    o = spark.table("b_orders")
    li = spark.table("b_lineitem")
    return (
        o.hint("merge")  # force SMJ so the no-exchange property is load-bearing
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_items"))
    )


@register(
    "join_full",
    oracle="""
    SELECT
      COALESCE(ns.n_nationkey, c.c_nationkey) AS nationkey,
      ns.n_suppliers,
      COUNT(c.c_custkey) AS n_customers
    FROM (
      SELECT n.n_nationkey, COUNT(s.s_suppkey) AS n_suppliers
      FROM nation n JOIN supplier s ON s.s_nationkey = n.n_nationkey
      GROUP BY n.n_nationkey
    ) ns
    FULL OUTER JOIN customer c ON c.c_nationkey = ns.n_nationkey
    GROUP BY 1, 2
    """,
)
def join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join: nations' supplier counts against customers,
    preserving nations with suppliers but no customers AND customers in
    nations with no suppliers. Full-outer cannot broadcast either side
    (both must be preserved) — it shuffles both on the key; at 100 TB
    pre-bucket both sides on nationkey to make it co-located."""
    n = load(spark, sf_dir, "nation")
    s = load(spark, sf_dir, "supplier")
    c = load(spark, sf_dir, "customer")
    ns = (
        n.join(s, s.s_nationkey == n.n_nationkey)
        .groupBy("n_nationkey")
        .agg(F.count("s_suppkey").alias("n_suppliers"))
    )
    return (
        ns.join(c, c.c_nationkey == ns.n_nationkey, "full_outer")
        .groupBy(
            F.coalesce(ns.n_nationkey, c.c_nationkey).alias("nationkey"),
            "n_suppliers",
        )
        .agg(F.count("c_custkey").alias("n_customers"))
    )


@register(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE c_custkey IN (
      SELECT o_custkey FROM orders WHERE o_totalprice > 400000
    )
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS): customers having a big order. No payload
    columns from the right side cross the join — semi joins never duplicate
    left rows regardless of match multiplicity."""
    c = load(spark, sf_dir, "customer")
    big = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return c.join(big, c.c_custkey == big.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_orderdate >= TIMESTAMP '2000-01-01'
    )
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS): customers with no recent order."""
    c = load(spark, sf_dir, "customer")
    recent = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= "2000-01-01"
    )
    return c.join(recent, c.c_custkey == recent.o_custkey, "left_anti").select(
        "c_custkey", "c_mktsegment"
    )


@register(
    "join_range",
    oracle=f"""
    SELECT
      b.bucket,
      COUNT(*) AS n_parts,
      {sql_davg("p.p_retailprice", 12, 2)} AS avg_price
    FROM part p
    JOIN (VALUES (1, 10, 'small'), (10, 25, 'medium'), (25, 51, 'large'))
         AS b(lo, hi, bucket)
      ON p.p_size >= b.lo AND p.p_size < b.hi
    GROUP BY b.bucket
    """,
)
def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (range/theta) join: parts binned into size buckets.

    The bucket dim is tiny and the predicate non-equi, so the correct
    physical plan is BroadcastNestedLoopJoin — broadcast() makes it explicit.
    At 100 TB the fact side streams; no shuffle occurs.
    """
    p = load(spark, sf_dir, "part")
    buckets = local_frame(
        spark,
        [(1, 10, "small"), (10, 25, "medium"), (25, 51, "large")],
        "lo int, hi int, bucket string",
    )
    return (
        p.join(
            F.broadcast(buckets),
            (p.p_size >= buckets.lo) & (p.p_size < buckets.hi),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            davg(F.col("p_retailprice"), 12, 2).alias("avg_price"),
        )
    )


# ---------------------------------------------------------------------------
# Aggregation
# ---------------------------------------------------------------------------


@register(
    "agg_hash",
    oracle=f"""
    SELECT
      l_returnflag,
      l_linestatus,
      {sql_dsum("l_quantity")} AS sum_qty,
      {sql_dsum("l_extendedprice")} AS sum_base_price,
      {sql_dsum("CAST(l_extendedprice AS DECIMAL(12,4)) * (1 - CAST(l_discount AS DECIMAL(6,4)))", 30, 8)} AS sum_disc_price,
      {sql_dsum("CAST(l_extendedprice AS DECIMAL(12,4)) * (1 - CAST(l_discount AS DECIMAL(6,4))) * (1 + CAST(l_tax AS DECIMAL(6,4)))", 38, 12)} AS sum_charge,
      {sql_davg("l_quantity")} AS avg_qty,
      {sql_davg("l_extendedprice")} AS avg_price,
      {sql_davg("l_discount", 12, 6)} AS avg_disc,
      COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped hash aggregation — TPC-H Q1, the flagship query.

    Map-side partial aggregation + final hash agg over 6 groups; the scan
    reads only the 7 needed columns. This is the reference's entire fetch
    loop (`sync/FetchRunner.java:33-45`) upgraded from "copy rows" to
    "answer a query".
    """
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "2001-09-02")
    # Tight precisions keep the triple product at DECIMAL(28,12) — exact,
    # no precision-38 overflow (which would trigger lossy scale reduction).
    ep = F.col("l_extendedprice").cast("decimal(12,4)")
    disc = F.col("l_discount").cast("decimal(6,4)")
    tax = F.col("l_tax").cast("decimal(6,4)")
    # decimal(1,0) literal: a bare int literal would promote to decimal(10,0)
    # and push the triple product past precision 38 (lossy scale reduction).
    one = F.lit(1).cast("decimal(1,0)")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity")).alias("sum_qty"),
            dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            out_double(F.sum(ep * (one - disc)), 6).alias("sum_disc_price"),
            out_double(F.sum(ep * (one - disc) * (one + tax)), 6).alias("sum_charge"),
            davg(F.col("l_quantity")).alias("avg_qty"),
            davg(F.col("l_extendedprice")).alias("avg_price"),
            davg(F.col("l_discount"), 12, 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "agg_distinct",
    oracle="""
    SELECT
      l_returnflag,
      COUNT(DISTINCT l_suppkey) AS n_supp,
      COUNT(DISTINCT l_partkey) AS n_part,
      COUNT(DISTINCT l_orderkey) AS n_order
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column exact distinct aggregation (expand + two-phase agg)."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct("l_partkey").alias("n_part"),
        F.countDistinct("l_orderkey").alias("n_order"),
    )


@register(
    "agg_approx_distinct",
    oracle="""
    SELECT
      l_returnflag,
      COUNT(DISTINCT l_suppkey)  AS exact_supp,
      COUNT(DISTINCT l_orderkey) AS exact_order,
      TRUE AS approx_supp_ok,
      TRUE AS approx_order_ok
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) — the 100 TB path for
    distinct-cardinality where exact distinct would shuffle every key.
    rsd=0.01 keeps the sketch ~constant-size per group.

    Sketch estimates are engine-specific by design, so the raw estimate
    can't hash-match an oracle; instead the query emits the exact counts
    (checkable) plus a per-group flag that the HLL estimate landed within
    5×rsd of exact — the oracle asserts the flag, turning the sketch's
    accuracy contract into an exact-checkable result."""
    li = load(spark, sf_dir, "lineitem")
    tol = 5 * 0.01
    # Two separate aggregations joined on the (tiny) group keys: mixing
    # COUNT(DISTINCT) with approx_count_distinct in ONE agg makes Catalyst
    # push the HLL through the distinct-rewrite Expand — one rsd=0.01
    # sketch per (flag, suppkey, orderkey) group, ~180k sketches (measured
    # 6.5s at sf0.01 vs 0.4s split).
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("exact_supp"),
        F.countDistinct("l_orderkey").alias("exact_order"),
    )
    approx = li.groupBy(F.col("l_returnflag").alias("rf")).agg(
        F.approx_count_distinct("l_suppkey", rsd=0.01).alias("a_supp"),
        F.approx_count_distinct("l_orderkey", rsd=0.01).alias("a_order"),
    )
    # eqNullSafe: a NULL group key is a legitimate group (SQL GROUP BY
    # keeps it) but a plain equi-join between the two aggregates would
    # silently drop it (NULL never equals NULL)
    agg = exact.join(approx, F.col("l_returnflag").eqNullSafe(F.col("rf")))
    return agg.select(
        "l_returnflag",
        "exact_supp",
        "exact_order",
        (
            F.abs(F.col("a_supp") - F.col("exact_supp"))
            <= F.col("exact_supp") * tol
        ).alias("approx_supp_ok"),
        (
            F.abs(F.col("a_order") - F.col("exact_order"))
            <= F.col("exact_order") * tol
        ).alias("approx_order_ok"),
    )


@register(
    "rollup_cube",
    tags=("reverify:r10",),
    oracle=f"""
    SELECT
      COALESCE(l_returnflag, 'ALL') AS returnflag,
      COALESCE(l_linestatus, 'ALL') AS linestatus,
      COUNT(*) AS n_rows,
      {sql_dsum("l_quantity")} AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def rollup_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup (grouping sets): per-(flag,status), per-flag, and
    grand totals in one pass (Expand operator, single shuffle).

    ANSI edge: on EMPTY input SQL's ROLLUP still yields the () grouping
    set — one global row with COUNT 0 — but Spark's rollup yields zero
    rows (verified against Spark 4.1). Handled IN the plan (VERDICT r9
    next #7 — the earlier isEmpty() probe cost an extra driver job per
    invocation) by the SENTINEL-ROW device: one literal all-NULL row
    (sent = 1) unions into the input, guaranteeing the Expand always
    sees ≥ 1 row and therefore always emits the ()-set group; every
    aggregate CASEs the sentinel out (COUNT 0, SUM over no values =
    NULL, exactly ANSI's empty-input ()-row), and the phantom
    sentinel-only groups it mints at the finer grouping sets carry
    n_rows = 0 — impossible for a real group — so the HAVING-style
    filter keeps gid = 3 unconditionally and finer rows only when
    n_rows > 0. ONE scan, ONE Expand aggregation, zero extra jobs,
    zero checkpoints (the r10 first cut lazily checkpointed a
    two-branch union — correct, but the checkpoint materialization
    job doubled the measured cost; the sentinel form is strictly
    cheaper than even the original isEmpty probe)."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_quantity"
    )
    sentinel = spark.range(1).select(
        F.lit(None).cast("string").alias("l_returnflag"),
        F.lit(None).cast("string").alias("l_linestatus"),
        F.lit(None).cast("double").alias("l_quantity"),
        F.lit(1).alias("sent"),
    )
    base = li.withColumn("sent", F.lit(0)).unionByName(sentinel)
    real = F.col("sent") == 0
    # gid: rollup(f, s) grouping ids — 0 = (f,s), 1 = (f), 3 = ()
    rolled = base.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.when(real, 1)).alias("n_rows"),
        F.sum(dec(F.when(real, F.col("l_quantity")))).alias("qty_dec"),
        F.grouping_id().alias("gid"),
    )
    return rolled.filter((F.col("gid") == 3) | (F.col("n_rows") > 0)).select(
        F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
        F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
        "n_rows",
        out_double(F.col("qty_dec"), 4).alias("sum_qty"),
    )


# ---------------------------------------------------------------------------
# Window functions
# ---------------------------------------------------------------------------


@register(
    "window_rank",
    oracle="""
    SELECT c_custkey, c_nationkey, c_acctbal, rn
    FROM (
      SELECT c_custkey, c_nationkey, c_acctbal,
             ROW_NUMBER() OVER (
               PARTITION BY c_nationkey
               ORDER BY c_acctbal DESC, c_custkey
             ) AS rn
      FROM customer
    )
    WHERE rn <= 3
    """,
)
def window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking window: top-3 customers by balance per nation.

    c_custkey in the ORDER BY makes row_number deterministic under balance
    ties. One shuffle on the partition key; rank filter applied post-window
    (Spark pushes a WindowGroupLimit at the physical level).
    """
    c = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("c_custkey", "c_nationkey", "c_acctbal", "rn")
    )


@register(
    "window_frame",
    oracle="""
    SELECT
      o_custkey,
      o_orderkey,
      o_orderdate,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
        PARTITION BY o_custkey
        ORDER BY o_orderdate, o_orderkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
      ) AS DOUBLE) AS running_spend,
      LAG(o_totalprice) OVER (
        PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      ) AS prev_price
    FROM orders
    """,
)
def window_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic frame: per-customer running total + lag.

    Decimal inside the frame keeps the running sum exact (order-insensitive
    w.r.t. engine internals); o_orderkey tie-breaks equal order dates.
    """
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.sum(F.col("o_totalprice").cast("decimal(12,2)"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("double")
        .alias("running_spend"),
        F.lag("o_totalprice").over(w).alias("prev_price"),
    )


# ---------------------------------------------------------------------------
# Sort / limit / set ops
# ---------------------------------------------------------------------------


@register(
    "sort_limit",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
def sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: Spark plans TakeOrderedAndProject — per-partition heaps
    + driver merge of k rows, never a full global sort. o_orderkey
    tie-breaks equal prices for determinism."""
    o = load(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@register(
    "set_ops",
    oracle="""
    SELECT 'intersect' AS op, nationkey FROM (
      SELECT c_nationkey AS nationkey FROM customer
      INTERSECT
      SELECT s_nationkey FROM supplier
    )
    UNION ALL
    SELECT 'except' AS op, nationkey FROM (
      SELECT c_nationkey AS nationkey FROM customer
      EXCEPT
      SELECT s_nationkey FROM supplier
    )
    UNION ALL
    SELECT 'union' AS op, nationkey FROM (
      SELECT c_nationkey AS nationkey FROM customer
      UNION
      SELECT s_nationkey FROM supplier
    )
    """,
)
def set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations with DISTINCT semantics: INTERSECT / EXCEPT / UNION
    over customer vs supplier nation keys, tagged and unioned into one
    result."""
    cn = load(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    sn = load(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    tagged = [
        cn.intersect(sn).select(F.lit("intersect").alias("op"), "nationkey"),
        cn.subtract(sn).select(F.lit("except").alias("op"), "nationkey"),
        cn.union(sn).distinct().select(F.lit("union").alias("op"), "nationkey"),
    ]
    out = tagged[0]
    for t in tagged[1:]:
        out = out.unionByName(t)
    return out


_GSETS_SQL = f"""
    SELECT
      COALESCE(l_returnflag, 'ALL') AS returnflag,
      COALESCE(CAST(year(l_shipdate) AS VARCHAR(8)), 'ALL') AS ship_year,
      COUNT(*) AS n_rows,
      {sql_dsum("l_extendedprice", 12, 4)} AS sum_price
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, year(l_shipdate)),
                            (l_returnflag), (year(l_shipdate)))
"""


@register("grouping_sets", oracle=_GSETS_SQL)
def grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS — the general form rollup/cube specialize:
    (flag, year), (flag), (year) in ONE pass. Catalyst's Expand operator
    replicates each input row once per set before a single partial+final
    hash aggregation — one shuffle regardless of how many sets, versus
    one scan+shuffle per set for the naive UNION ALL rewrite.
    """
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_GSETS_SQL)


@register(
    "window_distribution",
    oracle="""
    SELECT c_custkey, c_nationkey,
           PERCENT_RANK() OVER w AS pct_rank,
           CUME_DIST() OVER w AS cume,
           NTILE(10) OVER w AS decile
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey
                 ORDER BY c_acctbal NULLS LAST, c_custkey)
    """,
)
def window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions — percent_rank, cume_dist, ntile:
    the rank-normalization trio behind percentile segmentation
    (customer deciles per market, score normalization before corpus
    mixing). One shuffle on the partition key serves all three (same
    window spec); c_custkey in the ORDER BY makes every row its own
    peer group, so the emitted fractions are pure integer-derived
    doubles — (rank-1)/(n-1) and rank/n — identical on both engines
    with no rounding needed.
    """
    c = load(spark, sf_dir, "customer")
    # null ordering pinned explicitly: Spark ASC defaults NULLS FIRST,
    # DuckDB NULLS LAST — unpinned, every rank in a partition containing
    # a NULL balance silently disagrees across engines
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").asc_nulls_last(), "c_custkey"
    )
    return c.select(
        "c_custkey",
        "c_nationkey",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.ntile(10).over(w).alias("decile"),
    )


@register(
    "join_null_safe",
    oracle="""
    WITH a AS (
      SELECT CASE WHEN event_type = 'error' THEN NULL ELSE event_type END AS k,
             COUNT(*) AS n_a
      FROM events WHERE user_id % 2 = 0 GROUP BY 1
    ),
    b AS (
      SELECT CASE WHEN event_type = 'error' THEN NULL ELSE event_type END AS k,
             COUNT(*) AS n_b
      FROM events WHERE user_id % 2 = 1 GROUP BY 1
    )
    SELECT a.k AS k, n_a, n_b
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    """,
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi join (``<=>`` / IS NOT DISTINCT FROM): NULL keys
    match NULL keys, where a plain equi join silently drops them — the
    standard trap when a join key is itself the result of an outer join
    or a NULLIF-style normalization. The fixtures have no natural NULLs
    (null_handling's note), so the key is deterministically NULLed for
    'error' events on both sides.

    Plan note: Spark keeps ``eqNullSafe`` a HASH-joinable predicate
    (keys compare as (coalesced value, isnull flag)) — no degradation to
    a nested-loop join, so the null-safe form costs the same as the
    plain join at 100 TB.
    """
    ev = load(spark, sf_dir, "events")
    k = F.when(F.col("event_type") != "error", F.col("event_type"))
    a = (
        ev.filter(F.col("user_id") % 2 == 0)
        .groupBy(k.alias("k"))
        .agg(F.count(F.lit(1)).alias("n_a"))
    )
    b = (
        ev.filter(F.col("user_id") % 2 == 1)
        .groupBy(k.alias("k"))
        .agg(F.count(F.lit(1)).alias("n_b"))
    )
    return a.join(b, a["k"].eqNullSafe(b["k"])).select(
        a["k"].alias("k"), "n_a", "n_b"
    )


_IN_EXISTS_SQL = """
    SELECT o.o_orderkey, o.o_totalprice
    FROM orders o
    WHERE EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 49
      )
      AND o.o_orderkey NOT IN (
        SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R'
      )
"""


@register("subquery_in_exists", oracle=_IN_EXISTS_SQL)
def subquery_in_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS + NOT IN subqueries through the SQL front-end —
    the predicate-subquery surface next to subquery_scalar. Catalyst
    rewrites EXISTS to a left-semi join and NOT IN to a null-aware
    left-anti join; the same SQL text runs verbatim on DuckDB as the
    oracle. (The DataFrame-API twins are join_semi / join_anti; this key
    checks the SQL rewrite path produces identical rows.)
    """
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_IN_EXISTS_SQL)


_ROLLMED_SQL = """
    SELECT user_id, event_id,
           quantile_cont(value, 0.5) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 10 PRECEDING AND CURRENT ROW) AS med
    FROM events
"""


@register("window_rolling_median", oracle=_ROLLMED_SQL)
def window_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling median over the trailing 11 readings per user — the
    robust denoiser for spiky telemetry (a rolling MEAN lets one
    outlier bleed into 11 output rows; the median kills it, which is
    why ops dashboards smooth with medians). Completes the window
    family: `window_frame` runs sums over row frames, this runs an
    order statistic.

    Spark evaluates percentile() as a window aggregate over the sliding
    frame; one shuffle on user_id, sorted once, frames slide in that
    order. Medians involve no arithmetic beyond a midpoint of two
    doubles (even warm-up frames), so parity with quantile_cont is
    bit-exact. At 100 TB this shape is safe precisely because the frame
    is ROWS-bounded: state per open frame is 11 values regardless of
    data volume; the RANGE-interval analogue bounds state by time
    instead (window_range_frame).
    """
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-10, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.percentile("value", 0.5).over(w).alias("med"),
    )


BLOOM_BITS = 1 << 19  # 2^19 bits = 64 KiB/lane; FPR ~ (n/m)^2 with 2 lanes
_BLOOM_FILTER = "o_totalprice > 450000"

_BLOOM_SQL = f"""
    SELECT l.l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,4))
                         * (1 - CAST(l.l_discount AS DECIMAL(6,4))))
                AS DECIMAL(18,6)) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.{_BLOOM_FILTER}
    GROUP BY l.l_returnflag
"""


def _bloom_lane(keys: DataFrame, key: str, seed: int):
    """(word, mask) Bloom lane: each key sets ONE bit; bits OR together
    with a map-side-combined bit_or aggregation, so the lane costs one
    tiny shuffle of at most BLOOM_BITS/64 rows."""
    pos = F.pmod(F.xxhash64(F.col(key), F.lit(seed)), F.lit(BLOOM_BITS))
    return (
        keys.select(
            (pos / 64).cast("long").alias("word"),
            pos.cast("long").alias("p"),
        )
        .groupBy("word")
        .agg(F.bit_or(F.expr("shiftleft(1L, CAST(p % 64 AS INT))")).alias("mask"))
    )


def _bloom_probe(df: DataFrame, key: str, lane: DataFrame, seed: int) -> DataFrame:
    """Keep rows whose lane bit is set (possible member). Left join +
    bit test: an absent word means no build key hashed there."""
    pos = F.pmod(F.xxhash64(F.col(key), F.lit(seed)), F.lit(BLOOM_BITS))
    tagged = df.withColumn(f"_w{seed}", (pos / 64).cast("long")).withColumn(
        f"_p{seed}", (pos % 64).cast("int")
    )
    lane = lane.withColumnRenamed("word", f"_w{seed}").withColumnRenamed(
        "mask", f"_m{seed}"
    )
    return (
        tagged.join(F.broadcast(lane), f"_w{seed}", "left")
        .filter(F.expr(f"shiftright(coalesce(_m{seed}, 0L), _p{seed}) & 1 = 1"))
        .drop(f"_w{seed}", f"_p{seed}", f"_m{seed}")
    )


@register("join_bloom_prefilter", oracle=_BLOOM_SQL)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered fact join — the runtime-filter pattern for the
    case where the build side is too big to broadcast but still
    selective: hash the build keys into fixed-size bit-mask lanes
    (64 KiB each, built with a map-side-combined bit_or — the shuffle
    moves ≤ 8192 (word, mask) rows no matter how many keys), broadcast
    the LANES onto the probe scan, and drop probe rows whose bits
    aren't set BEFORE the join shuffle. Two independent xxhash64 lanes
    give FPR ≈ (n/m)²; false positives are removed by the exact join
    that follows, so the prefilter is semantics-free — the oracle is
    the plain join. Spark's own InjectRuntimeFilter does this
    transparently when thresholds allow; building it from relational
    pieces makes the mechanism visible, testable, and available to
    plans the rule declines (e.g. below its creation-side threshold).

    At 100 TB: the probe side never shuffles dropped rows — with a
    0.1%-selective build filter the join shuffle shrinks ~1000× for the
    cost of two broadcast map joins against 64 KiB masks. That trade is
    the whole reason runtime filters exist.
    """
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice", "l_discount"
    )
    build = orders.filter(_BLOOM_FILTER).select("o_orderkey")
    pruned = li
    for seed in (7, 13):
        pruned = _bloom_probe(
            pruned, "l_orderkey", _bloom_lane(build, "o_orderkey", seed), seed
        )
    joined = pruned.join(build, pruned.l_orderkey == build.o_orderkey)
    return joined.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        (
            F.sum(
                F.col("l_extendedprice").cast("decimal(12,4)")
                * (1 - F.col("l_discount").cast("decimal(6,4)"))
            )
            .cast("decimal(18,6)")
            .cast("double")
        ).alias("revenue"),
    )


@register(
    "set_ops_all",
    oracle="""
    WITH cn AS (SELECT c_nationkey AS nationkey FROM customer),
         sn AS (SELECT s_nationkey AS nationkey FROM supplier)
    SELECT 'intersect_all' AS op, nationkey
    FROM (SELECT nationkey FROM cn INTERSECT ALL SELECT nationkey FROM sn)
    UNION ALL
    SELECT 'except_all' AS op, nationkey
    FROM (SELECT nationkey FROM cn EXCEPT ALL SELECT nationkey FROM sn)
    UNION ALL
    SELECT 'union_all' AS op, nationkey
    FROM (SELECT nationkey FROM cn UNION ALL SELECT nationkey FROM sn)
    """,
)
def set_ops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BAG-semantics set operations — set_ops' ALL counterparts, which
    are different operators, not a flag: INTERSECT ALL keeps
    min(multiplicity) copies per value, EXCEPT ALL subtracts
    multiplicities (a value with 30 customer rows and 4 supplier rows
    survives 26 times), UNION ALL concatenates without the distinct
    shuffle. The multiplicity arithmetic is what audits need (how many
    MORE rows does A have than B per key) where the DISTINCT forms only
    answer membership.

    Physics: Spark plans intersectAll/exceptAll as a count-aggregate per
    side + a generate/replicate of min/difference counts — one shuffle
    per side on the value, never a row-by-row anti-join; UNION ALL is a
    pure concatenation (zero shuffle — the reason it, not UNION, is the
    default glue everywhere else in this repo).
    """
    cn = load(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    sn = load(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    tagged = [
        cn.intersectAll(sn).select(
            F.lit("intersect_all").alias("op"), "nationkey"
        ),
        cn.exceptAll(sn).select(F.lit("except_all").alias("op"), "nationkey"),
        cn.union(sn).select(F.lit("union_all").alias("op"), "nationkey"),
    ]
    out = tagged[0]
    for t in tagged[1:]:
        out = out.unionByName(t)
    return out


_GROUPING_SQL = """
    SELECT
      l_returnflag,
      l_linestatus,
      CAST(GROUPING(l_returnflag) AS INT) AS is_total_flag,
      CAST(GROUPING(l_linestatus) AS INT) AS is_total_status,
      CAST(COUNT(*) AS BIGINT) AS n_rows,
      CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                            (l_returnflag), (l_linestatus), ())
"""


@register("grouping_surface", oracle=_GROUPING_SQL, tags=("reverify:r10",))
def grouping_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING() flag surface — the disambiguation half of grouping
    sets that `grouping_sets`/`rollup_cube` don't expose: a NULL group
    key is ambiguous (was the data NULL, or is this row a subtotal?),
    and GROUPING(col) = 1 is the only portable way to tell. Consumers
    pivot on the flags to route subtotal rows; BI layers generate
    exactly this shape. One dialect-portable string is query AND oracle
    (the sql_frontend discipline) — per-column GROUPING() flags rather
    than Spark's packed grouping_id(), whose bit order is
    engine-specific.

    Physics: identical to rollup_cube — ONE scan, one Expand (4 set
    replicas), one partial+final hash agg; the flags are computed from
    the expand's internal grouping id, costing nothing extra. Integral
    quantities keep sum_qty exact in BIGINT on both engines.

    ANSI edge, handled IN the plan (VERDICT r9 next #7, the rollup_cube
    SENTINEL-ROW device): GROUPING SETS (..., ()) over empty input
    still emits the ()-set row (both flags 1, COUNT 0) per ANSI, but
    Spark emits zero rows. One literal all-NULL sentinel row unions
    into the input so the Expand always sees ≥ 1 row and emits the
    ()-set group; the aggregates CASE the sentinel out (COUNT 0 /
    NULL SUM — exactly ANSI's empty ()-row), and the HAVING keeps
    finer-set rows only when they hold a real row (a sentinel-only
    phantom group has n_rows = 0, impossible for a real group). ONE
    scan, ONE Expand, no isEmpty() driver probe, no second job — and
    the whole treatment stays inside the single dialect-portable-ish
    string (the sentinel UNION ALL is the one Spark-only line; the
    ORACLE remains the plain ANSI statement, which DuckDB already
    evaluates per ANSI).
    """
    from cpt_database_sync_spark.plans.sqlfront import register_views  # noqa: PLC0415

    register_views(spark, sf_dir)
    return spark.sql(f"""
        SELECT
          l_returnflag,
          l_linestatus,
          CAST(GROUPING(l_returnflag) AS INT) AS is_total_flag,
          CAST(GROUPING(l_linestatus) AS INT) AS is_total_status,
          CAST(COUNT(CASE WHEN sent = 0 THEN 1 END) AS BIGINT) AS n_rows,
          CAST(SUM(CASE WHEN sent = 0
                        THEN CAST(l_quantity AS BIGINT) END) AS BIGINT)
            AS sum_qty
        FROM (
          SELECT l_returnflag, l_linestatus, l_quantity, 0 AS sent
          FROM lineitem
          UNION ALL
          SELECT CAST(NULL AS STRING), CAST(NULL AS STRING),
                 CAST(NULL AS DOUBLE), 1
        )
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                (l_returnflag), (l_linestatus), ())
        HAVING (GROUPING(l_returnflag) = 1 AND GROUPING(l_linestatus) = 1)
            OR COUNT(CASE WHEN sent = 0 THEN 1 END) > 0
    """)


_SKYLINE_SQL = """
    SELECT p.p_partkey, p.p_retailprice, p.p_size
    FROM part p
    WHERE NOT EXISTS (
      SELECT 1 FROM part q
      WHERE (q.p_retailprice <  p.p_retailprice AND q.p_size >= p.p_size)
         OR (q.p_retailprice <= p.p_retailprice AND q.p_size >  p.p_size)
    )
"""


def pareto_sweep(pts: DataFrame) -> DataFrame:
    """The 2-D sort-sweep skyline core over an arbitrary
    ``(p_partkey, p_retailprice, p_size)`` relation under
    (minimize price, maximize size). Pure dataflow — no fixture
    knowledge — so property tests can drive it on random point sets
    (including coordinate ties and NULL dimensions); the registered
    ``skyline_pareto`` is this core applied to ``part``.
    """
    has_null = F.col("p_retailprice").isNull() | F.col("p_size").isNull()
    nn = pts.filter(~has_null)
    null_lane = pts.filter(has_null)
    best = nn.groupBy("p_retailprice").agg(F.max("p_size").alias("gb"))
    sweep = Window.orderBy("p_retailprice").rowsBetween(
        Window.unboundedPreceding, -1
    )
    survivors = (
        best.withColumn("prevmax", F.max("gb").over(sweep))
        .filter(F.col("prevmax").isNull() | (F.col("gb") > F.col("prevmax")))
        .select(F.col("p_retailprice").alias("sk_price"), F.col("gb").alias("sk_size"))
    )
    sky = nn.join(
        F.broadcast(survivors),
        (nn.p_retailprice == F.col("sk_price")) & (nn.p_size == F.col("sk_size")),
    ).select("p_partkey", "p_retailprice", "p_size")
    return sky.unionByName(null_lane)


@register("skyline_pareto", oracle=_SKYLINE_SQL)
def skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto skyline of parts under (minimize p_retailprice, maximize
    p_size): every part not dominated by another that is at least as
    cheap AND at least as big with one strict — the multi-objective
    top-k ("best price/capability trade-offs") an OLAP engine answers
    for any cost/benefit column pair. Ties on both dimensions are
    mutually non-dominating, so coordinate-duplicates all surface.

    Algorithm: the 2-D sort-sweep, run on the COMPRESSED per-price
    relation. (1) per-price best: groupBy(price).max(size) — map-side
    combined, the only raw-data shuffle, and itself a dominance prune
    (within a price, only the max-size points can survive); (2) one
    ordered sweep over the distinct-price relation computing the
    strictly-cheaper prefix max (rowsBetween(-inf, -1)), keeping groups
    whose best strictly exceeds it; (3) the surviving (price, best)
    pairs — skyline-sized — broadcast back to recover the rows. The
    sweep's single-partition window touches |distinct prices| rows,
    never the corpus; if the cost dimension is continuous at 100 TB,
    insert a partition-local Arrow skyline prune (mapInPandas, the
    sequence_packing pattern) before (1) — local dominance is a sound
    pre-filter because dominance is transitive.

    The oracle states the DEFINITION (NOT EXISTS dominance) rather than
    the sweep — two independent algorithms must agree exactly. Only
    comparisons touch the double price column (no float arithmetic), so
    both engines decide identical predicates on identical parquet bits.
    NULL semantics come from the oracle: a row with a NULL dimension
    satisfies no dominance predicate in either role — it is always a
    skyline member and never eliminates anyone — so such rows bypass
    the sweep through an explicit union lane (the payload-nulls
    fixture exercises this).
    """
    pts = load(spark, sf_dir, "part").select("p_partkey", "p_retailprice", "p_size")
    return pareto_sweep(pts)

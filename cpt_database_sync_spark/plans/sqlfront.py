"""SQL front-end: the fixture catalog exposed as temp views + spark.sql.

The reference generates exactly one SQL shape and parses none
(`sync/QueryBuilder.java:46-75`); the rebuilt engine inherits Spark's full
ANSI SQL front-end for free. ``register_views`` binds every fixture table
as a temporary view so users can run textual SQL against the same catalog
the DataFrame API sees — same Catalyst plans, same optimizations (the
plan-identity is asserted in tests/test_plans.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from cpt_database_sync_spark.plans.registry import register
from cpt_database_sync_spark.sources.tables import ALL_TABLES, load


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Bind every fixture table as a temp view (idempotent; re-binding is
    skipped while the same sf_dir stays registered — each bind re-reads
    parquet footers)."""
    marker = "spark.cpt_database_sync.registered_sf_dir"
    if spark.conf.get(marker, None) == sf_dir:
        return
    for t in ALL_TABLES:
        load(spark, sf_dir, t).createOrReplaceTempView(t)
    spark.conf.set(marker, sf_dir)


_Q1_SQL = """
    SELECT
      l_returnflag,
      l_linestatus,
      COUNT(*) AS n_rows,
      CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,4))) AS DECIMAL(18,4)) AS DOUBLE) AS sum_qty,
      CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))) AS DECIMAL(18,4)) AS DOUBLE) AS sum_price
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-01'
    GROUP BY l_returnflag, l_linestatus
"""


@register("sql_frontend", oracle=_Q1_SQL)
def sql_frontend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship aggregation expressed as textual SQL through
    ``spark.sql`` — same string runs on DuckDB verbatim (the oracle IS the
    query), proving the ANSI surface; Catalyst compiles it to the identical
    partial+final hash-agg plan the DataFrame API produces."""
    register_views(spark, sf_dir)
    return spark.sql(_Q1_SQL)


_Q3_SQL = """
    SELECT
      o.o_orderkey,
      CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,4))
                    * (1 - CAST(l.l_discount AS DECIMAL(6,4))))
           AS DECIMAL(18,6)) AS DOUBLE) AS revenue,
      o.o_orderdate,
      o.o_orderpriority
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1995-03-15'
      AND l.l_shipdate  > TIMESTAMP '1995-03-01'
    GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
"""


@register("sql_tpch_q3", oracle=_Q3_SQL)
def sql_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority), textual SQL on both engines.

    The optimizer checkpoints this shape exercises: segment filter pushed
    into the customer scan, date filters into orders/lineitem, the small
    filtered customer side broadcast into orders, and the revenue sum in
    the exact decimal lane (price x (1-discount) terminates at scale 8,
    summed at DECIMAL; see functions/numeric.py). Grouping on the join
    key reuses the lineitem-orders shuffle partitioning.
    """
    register_views(spark, sf_dir)
    return spark.sql(_Q3_SQL)


_Q5_SQL = """
    SELECT
      n.n_name,
      CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,4))
                    * (1 - CAST(l.l_discount AS DECIMAL(6,4))))
           AS DECIMAL(18,6)) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n.n_name
"""


@register("sql_tpch_q5", oracle=_Q5_SQL)
def sql_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local supplier volume): the 6-table join closure —
    region→nation→supplier pruning chain, the customer⋈supplier
    same-nation condition, and a date-range window on orders — as one
    textual SQL string both engines run verbatim.

    The optimizer checkpoints: region/nation are BROADCAST_DIMS-tiny and
    fold into broadcast hash joins; the region filter prunes nations
    before any fact table is touched (join reordering); the date range
    pushes into the orders scan; revenue sums in the exact decimal lane.
    Six tables is where join ORDER starts to dominate — at 100 TB a bad
    order shuffles lineitem twice; Catalyst's cost-based reorder plus AQE
    keeps the fact table shuffled once, which is the property sql_frontend
    exists to surface.
    """
    register_views(spark, sf_dir)
    return spark.sql(_Q5_SQL)


_Q18_SQL = """
    SELECT
      c.c_name,
      c.c_custkey,
      o.o_orderkey,
      o.o_orderdate,
      o.o_totalprice,
      SUM(l.l_quantity) AS sum_qty
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey
      HAVING SUM(l_quantity) > 150
    )
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    ORDER BY o.o_totalprice DESC, o.o_orderdate, o.o_orderkey
    LIMIT 100
"""


@register("sql_tpch_q18", oracle=_Q18_SQL)
def sql_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customer): an IN aggregate-subquery
    (HAVING over a grouped lineitem pass) feeding a 3-table join + group
    + global top-100 — the classic two-pass-over-the-fact shape.

    Optimizer checkpoints: the IN subquery rewrites to a left-semi join
    whose build side is the HAVING-filtered order keys; the top-100 runs
    as TakeOrderedAndProject (per-partition heaps), never a global sort.
    Quantities are integral, so SUM(l_quantity) is exact in the double
    lane at any bench scale and the HAVING threshold cuts identically on
    both engines. The tie-break (totalprice DESC, orderdate, orderkey)
    is total, so LIMIT 100 is deterministic — spec Q18 orders by
    (o_totalprice, o_orderdate) alone, which under-specifies the cut.
    """
    register_views(spark, sf_dir)
    return spark.sql(_Q18_SQL)


_RECURSIVE_SQL = """
    WITH RECURSIVE cal(day) AS (
      SELECT CAST('2024-01-01' AS DATE)
      UNION ALL
      SELECT CAST(day + INTERVAL '1' DAY AS DATE) FROM cal
      WHERE day < CAST('2024-01-31' AS DATE)
    )
    SELECT cal.day, COUNT(e.event_id) AS n_events
    FROM cal LEFT JOIN events e ON CAST(e.ts AS DATE) = cal.day
    GROUP BY cal.day
"""


@register("sql_recursive_cte", oracle=_RECURSIVE_SQL)
def sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4.0+) through the SQL front-end: a calendar
    spine generated by linear recursion, outer-joined to events — the
    densification shape gapfill_daily builds with sequence()+explode,
    here expressed in the SQL-standard recursion both engines parse, so
    ONE dialect-portable string is the query AND the oracle (the
    sql_frontend discipline).

    Scale note: the recursion materializes one row per day — driver-tiny
    — then the join is a broadcast of the spine against the fact scan.
    Recursive CTEs whose working set GROWS per step (graph closure) need
    the iterative-DataFrame loop (connected_components) instead; Spark
    evaluates recursion with a per-step union, so a spine/hierarchy
    (bounded depth, bounded rows) is the right use, a frontier expansion
    is not.
    """
    register_views(spark, sf_dir)
    return spark.sql(_RECURSIVE_SQL)


_Q10_SQL = """
    SELECT
      c.c_custkey,
      c.c_name,
      CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,4))
                    * (1 - CAST(l.l_discount AS DECIMAL(6,4))))
           AS DECIMAL(18,6)) AS DOUBLE) AS revenue,
      CAST(c.c_acctbal AS DOUBLE) AS c_acctbal,
      n.n_name
    FROM customer c
    JOIN orders o   ON c.c_custkey  = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1996-04-01'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
"""


@register("sql_tpch_q10", oracle=_Q10_SQL)
def sql_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned-item reporting): which customers returned the
    most revenue in a quarter — fact-to-fact join (orders⋈lineitem) with
    a dimension closure (customer⋈nation) and a global top-20.

    Optimizer checkpoints: the quarter predicate pushes into the orders
    scan and the returnflag predicate into lineitem BEFORE the join
    (both show as PushedFilters); nation is broadcast; the top-20 runs
    as TakeOrderedAndProject with the deterministic (revenue DESC,
    custkey) tie-break — spec Q10 orders by revenue alone, which
    under-specifies the cut. Revenue sums in the exact decimal lane.
    The date window uses this dataset's 1995-2001 order range (the spec
    dates 1993-10/1994-01 fall outside it; same selectivity shape).
    """
    register_views(spark, sf_dir)
    return spark.sql(_Q10_SQL)


_Q14_SQL = """
    WITH rev AS (
      SELECT CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                           THEN CAST(l.l_extendedprice AS DECIMAL(12,4))
                                * (1 - CAST(l.l_discount AS DECIMAL(6,4)))
                           ELSE CAST(0 AS DECIMAL(12,4)) END)
                AS DECIMAL(18,6)) AS promo,
             CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,4))
                      * (1 - CAST(l.l_discount AS DECIMAL(6,4))))
                AS DECIMAL(18,6)) AS total
      FROM lineitem l
      JOIN part p ON l.l_partkey = p.p_partkey
      WHERE l.l_shipdate >= TIMESTAMP '1996-03-01'
        AND l.l_shipdate <  TIMESTAMP '1996-04-01'
    )
    SELECT CAST(promo AS DOUBLE) AS promo_revenue,
           CAST(total AS DOUBLE) AS total_revenue,
           100 * CAST(promo AS DOUBLE) / CAST(total AS DOUBLE) AS promo_pct
    FROM rev
"""


@register("sql_tpch_q14", oracle=_Q14_SQL)
def sql_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect): the month's promo share of revenue —
    a fact⋈dimension join reduced to ONE ratio row.

    Optimizer checkpoints: the one-month shipdate window pushes into the
    lineitem scan (the join reads ~1% of the fact), part broadcasts, and
    both conditional sums ride a single aggregation (no second pass for
    the denominator). Exactness: both sums stay in the decimal lane and
    convert to double correctly rounded (a one-month window keeps the
    unscaled sum < 2^53; at sf ≳ 1 widen the output lane per
    functions/numeric.py), after which the percentage is a single IEEE
    division — bit-identical on both engines.
    """
    register_views(spark, sf_dir)
    return spark.sql(_Q14_SQL)


_Q13_SQL = """
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (
      SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
      FROM customer c
      LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                        AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    ) c_orders
    GROUP BY c_count
"""


@register("sql_tpch_q13", oracle=_Q13_SQL)
def sql_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (customer distribution): the histogram of orders per
    customer INCLUDING zero-order customers — the query shape that
    forces an outer join before aggregation (an inner join silently
    drops the most interesting bucket, c_count = 0).

    Optimizer checkpoints: the join-side filter stays in the ON clause
    (moving it to WHERE would turn the LEFT join into an inner one —
    the classic outer-join bug this query exists to catch) and pushes
    into the orders scan; COUNT(o_orderkey) — not COUNT(*) — makes the
    no-match rows count 0. Two aggregations, both map-side combined;
    the second input is |customers| rows. The spec's `comment NOT LIKE
    '%special%requests%'` filter maps to an orderpriority predicate —
    this dataset has no comment column; same join-filter shape.
    """
    register_views(spark, sf_dir)
    return spark.sql(_Q13_SQL)


_ANSI_EXTRAS_SQL = """
    SELECT
      o_orderpriority,
      CAST(COUNT(*) FILTER (WHERE o_totalprice > 200000) AS BIGINT)
        AS n_big,
      CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT)
        AS n_final,
      CAST(MAX(o_totalprice) FILTER (WHERE o_orderstatus <> 'F')
           AS DOUBLE) AS max_open_price,
      CAST(rank() OVER w AS BIGINT) AS prio_rank
    FROM orders
    GROUP BY o_orderpriority
    WINDOW w AS (ORDER BY COUNT(*) DESC, o_orderpriority NULLS LAST)
"""


@register("sql_ansi_extras", oracle=_ANSI_EXTRAS_SQL)
def sql_ansi_extras(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI surface pack, one dialect-portable string (the sql_frontend
    discipline): aggregate FILTER clauses (three conditional aggregates
    on ONE pass — the portable spelling of `CASE WHEN` pivot lanes),
    a named WINDOW clause over the aggregate's output, and explicit
    NULLS ordering. FILTER compiles to the same partial+final hash agg
    as the CASE form — no extra scan per condition, which is the whole
    point at 100 TB; the window then runs over |groups| rows.
    """
    register_views(spark, sf_dir)
    return spark.sql(_ANSI_EXTRAS_SQL)


_LATERAL_SQL = """
    SELECT c.c_custkey, c.c_mktsegment, t.o_orderkey, t.o_totalprice, t.rk
    FROM customer c,
    LATERAL (
      SELECT o.o_orderkey, o.o_totalprice,
             row_number() OVER (ORDER BY o.o_totalprice DESC, o.o_orderkey)
               AS rk
      FROM orders o
      WHERE o.o_custkey = c.c_custkey
      ORDER BY o.o_totalprice DESC, o.o_orderkey
      LIMIT 2
    ) t
    WHERE c.c_custkey <= 300
"""


@register("join_lateral", oracle=_LATERAL_SQL)
def join_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL join — top-2 orders per customer written the
    way a SQL user writes it (a correlated LIMIT subquery per row),
    executed the way a distributed engine must: Catalyst decorrelates
    the LATERAL into a ranked window over ONE orders shuffle — never a
    per-customer re-scan (the literal reading would scan orders
    |customers| times; DuckDB's executor makes the same rewrite). The
    deterministic (price, orderkey) tie-break makes LIMIT 2 total.
    This is the SQL-frontend twin of the DataFrame `window_rank`
    top-k-per-group pattern, checking the decorrelation path produces
    identical rows.
    """
    register_views(spark, sf_dir)
    return spark.sql(_LATERAL_SQL)


_Q19_SQL = """
    SELECT CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,4))
                          * (1 - CAST(l.l_discount AS DECIMAL(6,4))))
                AS DECIMAL(18,6)) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE
      (p.p_brand = 'Brand#13' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity >= 1 AND l.l_quantity <= 11)
      OR
      (p.p_brand = 'Brand#20' AND p.p_size BETWEEN 10 AND 30
       AND l.l_quantity >= 10 AND l.l_quantity <= 20)
      OR
      (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 25 AND 50
       AND l.l_quantity >= 20 AND l.l_quantity <= 30)
"""


@register("sql_tpch_q19", oracle=_Q19_SQL)
def sql_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (discounted revenue): the OR-of-ANDs predicate shape —
    three disjunctive brand/size/quantity bands over a fact⋈dimension
    join, reduced to one revenue row.

    The optimizer checkpoints disjunction handling: the single-table
    conjuncts COMMON to every branch can't be factored here (the
    branches genuinely differ), but each side's derivable envelope CAN
    — Catalyst pushes `p_brand IN (…)` into the part scan and the
    l_quantity envelope into lineitem via constraint propagation, so
    the join sees pre-filtered inputs even though the full predicate
    only evaluates post-join. Part broadcasts; revenue rides the exact
    decimal lane. (Adapted to this dataset's columns: the spec's
    container/shipmode conjuncts have no counterpart here; the
    disjunctive-pushdown shape is the point.)
    """
    register_views(spark, sf_dir)
    return spark.sql(_Q19_SQL)


_LIMIT_OFFSET_SQL = """
    SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20 OFFSET 40
"""


@register("sql_limit_offset", oracle=_LIMIT_OFFSET_SQL)
def sql_limit_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset-free pagination — ORDER BY … LIMIT k OFFSET n — through
    the SQL front-end (one dialect-portable string, the sql_frontend
    discipline). The engine must fetch the top n+k rows and drop the
    first n; Spark plans TakeOrderedAndProject with an offset (per-
    partition heaps of n+k, never a global sort), so page-depth cost
    grows with n — the docstring's warning to users: deep pagination at
    100 TB should switch to keyset pagination (WHERE (price, key) <
    last-seen — an indexable/pushable predicate), this operator is the
    bounded-depth report-page shape. The (price, key) tie-break makes
    the page cut total, hence deterministic cross-engine.
    """
    register_views(spark, sf_dir)
    return spark.sql(_LIMIT_OFFSET_SQL)

"""Statistical aggregates — numerically reproducible by construction.

Naive stddev/variance/corr over doubles is accumulation-order-dependent
(different partial-agg orders → different low bits per engine/run). Here
every moment (Σx, Σx², Σxy) is an exact decimal sum; the closed-form
combination happens once, driver-side of the aggregation, in double — the
same operands on every engine, hence bit-identical results. This is the
same decimal-lane discipline the reference applies to DECIMAL transport
(`sync/StandardReadMappings.java:79-96`), applied to second moments.

Percentiles are exact order statistics with linear interpolation — both
engines sort the same doubles, so results agree exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cpt_database_sync_spark.operators import lanes
from cpt_database_sync_spark.plans.registry import register
from cpt_database_sync_spark.session import bounded_cache, local_frame
from cpt_database_sync_spark.sources.tables import load, table_rowcount


def _moment_sums(x_expr: str, y_expr: str):
    """Spark columns for n, Σx, Σy, Σx², Σy², Σxy — all exact decimals
    emitted as doubles (inputs are 2-dp money values: squares terminate at
    scale 4/8, sums stay under the 2^53 unscaled bound at bench SFs)."""
    x = F.col(x_expr).cast("decimal(12,4)")
    y = F.col(y_expr).cast("decimal(12,4)")
    # Spark's decimal→double (BigDecimal.doubleValue) is correctly rounded
    # at any magnitude, so no rescale is needed on this side.
    out = lambda c: c.cast("double")  # noqa: E731
    return {
        "n": F.count(F.lit(1)),
        "sx": out(F.sum(x)),
        "sy": out(F.sum(y)),
        "sxx": out(F.sum(x * x)),
        "syy": out(F.sum(y * y)),
        "sxy": out(F.sum(x * y)),
    }


# DuckDB's direct decimal→double double-rounds once the unscaled value
# exceeds 2^53 (int128 → double → /10^s); the VARCHAR bridge goes through
# strtod, which is correctly rounded — matching Java exactly.
_SQL_MOMENTS = """
      COUNT(*) AS n,
      CAST(CAST(SUM(x) AS VARCHAR) AS DOUBLE) AS sx,
      CAST(CAST(SUM(y) AS VARCHAR) AS DOUBLE) AS sy,
      CAST(CAST(SUM(x * x) AS VARCHAR) AS DOUBLE) AS sxx,
      CAST(CAST(SUM(y * y) AS VARCHAR) AS DOUBLE) AS syy,
      CAST(CAST(SUM(x * y) AS VARCHAR) AS DOUBLE) AS sxy
"""


@register(
    "agg_stats",
    oracle=f"""
    WITH m AS (
      SELECT l_returnflag, {_SQL_MOMENTS}
      FROM (
        SELECT l_returnflag,
               CAST(l_quantity AS DECIMAL(19,4)) AS x,
               CAST(l_extendedprice AS DECIMAL(19,4)) AS y
        FROM lineitem
      )
      GROUP BY l_returnflag
    )
    SELECT
      l_returnflag, n,
      sx / n AS mean_qty,
      (sxx - sx * sx / n) / (n - 1) AS var_qty,
      sqrt(CASE WHEN (sxx - sx * sx / n) / (n - 1) < 0 THEN 0
                ELSE (sxx - sx * sx / n) / (n - 1) END) AS std_qty,
      (sxy - sx * sy / n)
        / (sqrt(CASE WHEN sxx - sx * sx / n < 0 THEN 0
                     ELSE sxx - sx * sx / n END)
           * sqrt(CASE WHEN syy - sy * sy / n < 0 THEN 0
                       ELSE syy - sy * sy / n END)) AS corr_qty_price
    FROM m
    """,
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean / sample variance / stddev / Pearson correlation per group,
    reproducibly: exact decimal moments combined in closed form."""
    li = load(spark, sf_dir, "lineitem")
    m = _moment_sums("l_quantity", "l_extendedprice")
    g = li.groupBy("l_returnflag").agg(
        m["n"].alias("n"),
        m["sx"].alias("sx"),
        m["sy"].alias("sy"),
        m["sxx"].alias("sxx"),
        m["syy"].alias("syy"),
        m["sxy"].alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    # try_divide on the n-1 and zero-variance denominators: a 1-row group
    # has no sample variance/correlation — NULL, exactly what the
    # oracle's x/0 yields (DuckDB), instead of an ANSI abort. Every sqrt
    # argument is clamped at 0 with a NULL-PRESERVING CASE (not greatest,
    # which folds NULL to 0 on both engines): the moments are doubles, so
    # a constant-valued group's true-zero variance can land an epsilon
    # NEGATIVE (fl(Σx²) − fl(Σx)²/n) — unclamped, Spark's sqrt yields NaN
    # (which would even PASS downstream gates under NaN ordering) while
    # DuckDB's raises.
    def pos(v):
        return F.when(v < 0, F.lit(0.0)).otherwise(v)

    var = F.try_divide(sxx - sx * sx / n, n - 1)
    return g.select(
        "l_returnflag",
        "n",
        (sx / n).alias("mean_qty"),
        var.alias("var_qty"),
        F.sqrt(pos(var)).alias("std_qty"),
        F.try_divide(
            sxy - sx * sy / n,
            F.sqrt(pos(sxx - sx * sx / n)) * F.sqrt(pos(syy - sy * sy / n)),
        ).alias("corr_qty_price"),
    )


@register(
    "agg_percentile",
    oracle="""
    SELECT
      l_returnflag,
      quantile_cont(l_extendedprice, 0.5)  AS median_price,
      quantile_cont(l_extendedprice, 0.9)  AS p90_price,
      quantile_cont(l_extendedprice, 0.99) AS p99_price,
      min(l_extendedprice) AS min_price,
      max(l_extendedprice) AS max_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (order statistics + linear interpolation) per
    group. At 100 TB switch to approx_percentile (t-digest sketch) — kept
    exact here because the oracle must agree bit-for-bit."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", 0.5).alias("median_price"),
        F.percentile("l_extendedprice", 0.9).alias("p90_price"),
        F.percentile("l_extendedprice", 0.99).alias("p99_price"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
    )


@register(
    "pivot_table",
    oracle="""
    SELECT
      l_returnflag,
      CAST(CAST(SUM(CASE WHEN l_linestatus = 'F'
                 THEN CAST(l_quantity AS DECIMAL(12,4)) END) AS DECIMAL(18,4)) AS DOUBLE) AS F,
      CAST(CAST(SUM(CASE WHEN l_linestatus = 'O'
                 THEN CAST(l_quantity AS DECIMAL(12,4)) END) AS DECIMAL(18,4)) AS DOUBLE) AS O
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def pivot_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (wide aggregation): status values become columns. Passing the
    pivot values explicitly avoids the extra distinct-values job Spark
    otherwise runs before planning."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(12,4)"))
            .cast("decimal(18,4)")
            .cast("double")
        )
    )


@register(
    "subquery_scalar",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_totalprice > 1.5 * (
      SELECT CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS DOUBLE)
             / COUNT(*)
      FROM orders
    )
    """,
)
def subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery through the SQL API: orders above 1.5× the global
    average price. The subquery's average uses the exact decimal lane so
    the threshold is the identical double on both engines. Catalyst plans
    the subquery once and broadcasts the scalar."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders
        WHERE o_totalprice > 1.5 * (
          SELECT CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS DOUBLE)
                 / COUNT(*)
          FROM orders
        )
        """
    )


@register(
    "agg_collect",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           string_agg(DISTINCT CAST(user_id AS VARCHAR), ','
                      ORDER BY CAST(user_id AS VARCHAR)) AS user_list
    FROM events
    GROUP BY event_type
    """,
)
def agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered array aggregation: the distinct users per event type,
    surfaced as a canonical comma-joined string (collect_set →
    sort_array → concat_ws).

    collect_set is a partial-aggregating set union (map-side dedup before
    the shuffle); the sort happens once per tiny result group. Collected
    sets must fit a single row — at 100 TB this shape is for bounded
    per-group cardinalities (here: users per event type); unbounded
    groups belong in explode/agg form instead.
    """
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.concat_ws(
            ",", F.sort_array(F.collect_set(F.col("user_id").cast("string")))
        ).alias("user_list"),
    )


@register(
    "unpivot_melt",
    oracle="""
    SELECT o_orderkey, metric, CAST(val AS DOUBLE) AS val
    FROM (
      SELECT o_orderkey,
             o_totalprice AS price,
             CAST(o_custkey AS DOUBLE) AS custkey,
             CAST(year(o_orderdate) AS DOUBLE) AS order_year
      FROM orders WHERE o_orderkey <= 500
    )
    UNPIVOT INCLUDE NULLS (val FOR metric IN (price, custkey, order_year))
    """,
)
def unpivot_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshaping (melt), the inverse of ``pivot_table``: one
    row per (id, metric, value). Spark's unpivot is a zero-shuffle
    Expand — each input row emits one output row per value column in the
    same task, so the reshape is free at any scale; only downstream
    grouping pays."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 500)
    wide = o.select(
        "o_orderkey",
        F.col("o_totalprice").alias("price"),
        F.col("o_custkey").cast("double").alias("custkey"),
        F.year("o_orderdate").cast("double").alias("order_year"),
    )
    return wide.unpivot(
        ids=["o_orderkey"],
        values=["price", "custkey", "order_year"],
        variableColumnName="metric",
        valueColumnName="val",
    )


HIST_BINS = 100
HIST_QS = (0.5, 0.95, 0.99)


def hist_empty_result(spark):
    """Typed empty frame matching the quantile-histogram output schema —
    returned when the input has no non-NULL values (lo/hi are undefined,
    so there is no histogram domain; the oracle's CDF walk is likewise
    empty). Shared by the batch and streaming variants."""
    fields = "event_type STRING, n BIGINT, " + ", ".join(
        f"est_p{int(q * 100)} DOUBLE" for q in HIST_QS
    )
    return local_frame(spark, [], fields)


def hist_bin_col(lo: float, hi: float):
    """Bin index for a fixed-[lo, hi] histogram of ``value``, shared by
    the batch and streaming variants. Degenerate-span guard: when every
    value equals lo (hi == lo) all rows land in bin 0 instead of dividing
    by zero (NaN bins). NULL values must be filtered by the caller — the
    engines order NULL bins differently in the CDF walk."""
    span = hi - lo
    if span == 0:
        return F.lit(0).cast("bigint")
    return F.least(
        F.floor((F.col("value").cast("double") - lo) / span * HIST_BINS),
        F.lit(HIST_BINS - 1),
    ).cast("bigint")


def _hist_oracle() -> str:
    q_cols = ", ".join(
        f"""CAST(lims.lo + (MIN(CASE WHEN cum >= {q} * n THEN bin END) + 1)
             * (lims.hi - lims.lo) / {HIST_BINS} AS DOUBLE) AS est_p{int(q * 100)}"""
        for q in HIST_QS
    )
    return f"""
    WITH lims AS (
      SELECT CAST(MIN(value) AS DOUBLE) AS lo, CAST(MAX(value) AS DOUBLE) AS hi
      FROM events WHERE value IS NOT NULL
    ),
    hist AS (
      SELECT event_type,
             CAST(CASE WHEN lims.hi = lims.lo THEN 0
                  ELSE least(floor((CAST(value AS DOUBLE) - lims.lo)
                        / (lims.hi - lims.lo) * {HIST_BINS}),
                        {HIST_BINS - 1}) END AS BIGINT) AS bin,
             COUNT(*) AS cnt
      FROM events, lims WHERE value IS NOT NULL GROUP BY 1, 2
    ),
    cdf AS (
      SELECT event_type, bin, cnt,
             SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
             SUM(cnt) OVER (PARTITION BY event_type) AS n
      FROM hist
    )
    SELECT event_type, CAST(MAX(n) AS BIGINT) AS n, {q_cols}
    FROM cdf, lims
    GROUP BY event_type, lims.lo, lims.hi
    """


@register("quantile_histogram", oracle=_hist_oracle(), tags=("reverify:r7",))
def quantile_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable histogram quantiles: per-group p50/p95/p99 estimated
    from a fixed-bin histogram — the RE-AGGREGATABLE percentile pattern
    (bins sum across partitions, days, or streaming micro-batches,
    unlike exact percentiles which need the raw data every time; the
    same role ``distinct_users_bitmap`` plays for COUNT DISTINCT).

    Global [lo, hi] is one scalar driver read (the watermark pattern);
    binning is map-only integer arithmetic; the histogram aggregation is
    partial+final with at most |groups|×BINS rows shuffled regardless of
    corpus size; the CDF walk runs over that tiny table. Every estimate
    is bin-edge arithmetic on exact integer counts — deterministic and
    identical on both engines, no rounding. At 100 TB: persist the
    per-day histograms and any period's quantiles come from summing bin
    counts, never rescanning events.
    """
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    lo, hi = (
        ev.agg(
            F.min("value").cast("double"), F.max("value").cast("double")
        ).collect()[0]
    )
    if lo is None:  # every value NULL (or table empty): no domain to bin
        return hist_empty_result(spark)
    lo, hi = float(lo), float(hi)
    hist = (
        ev.select("event_type", hist_bin_col(lo, hi).alias("bin"))
        .groupBy("event_type", "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return hist_quantile_finalize(hist, lo, hi)


def hist_quantile_finalize(hist, lo: float, hi: float):
    """CDF walk + p50/p95/p99 extraction over a (event_type, bin, cnt)
    histogram — shared by ``quantile_histogram`` and its streaming twin
    (the ``psi_finalize`` discipline: one finalizer, two maintainers, so
    a quantile-edge fix cannot silently apply to only one variant).
    Estimates are bin-edge arithmetic on exact integer counts."""
    from pyspark.sql import Window  # noqa: PLC0415

    span = hi - lo
    w_cum = Window.partitionBy("event_type").orderBy("bin")
    w_all = Window.partitionBy("event_type")
    cdf = hist.select(
        "event_type",
        "bin",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_all).alias("n"),
    )
    aggs = [F.max("n").cast("bigint").alias("n")]
    for q in HIST_QS:
        bin_q = F.min(F.when(F.col("cum") >= q * F.col("n"), F.col("bin")))
        aggs.append(
            (F.lit(lo) + (bin_q + 1) * span / HIST_BINS)
            .cast("double")
            .alias(f"est_p{int(q * 100)}")
        )
    return cdf.groupBy("event_type").agg(*aggs)



_CORR_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def _corr_matrix_oracle() -> str:
    cols = _CORR_COLS
    sums = ["COUNT(*) AS n"]
    for i, c in enumerate(cols):
        sums.append(f"CAST(CAST(SUM(x{i}) AS VARCHAR) AS DOUBLE) AS s{i}")
        sums.append(
            f"CAST(CAST(SUM(x{i} * x{i}) AS VARCHAR) AS DOUBLE) AS s{i}{i}"
        )
    pairs = [(i, j) for i in range(len(cols)) for j in range(len(cols)) if i < j]
    for i, j in pairs:
        sums.append(
            f"CAST(CAST(SUM(x{i} * x{j}) AS VARCHAR) AS DOUBLE) AS s{i}{j}"
        )
    casts = ", ".join(
        f"CAST({c} AS DECIMAL(19,4)) AS x{i}" for i, c in enumerate(cols)
    )
    rows = " UNION ALL ".join(
        f"""SELECT '{cols[i]}' AS x_var, '{cols[j]}' AS y_var,
            (s{i}{j} - s{i} * s{j} / n)
              / (sqrt(greatest(0, s{i}{i} - s{i} * s{i} / n))
                 * sqrt(greatest(0, s{j}{j} - s{j} * s{j} / n))) AS corr
            FROM m"""
        for i, j in pairs
    )
    return f"""
    WITH m AS (
      SELECT {", ".join(sums)}
      FROM (SELECT {casts} FROM lineitem)
    )
    {rows}
    """


@register("corr_matrix", oracle=_corr_matrix_oracle())
def corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full pairwise Pearson correlation matrix over the fact table's
    numeric columns in ONE pass — the feature-correlation screen a
    training pipeline runs before selecting/derived-weighting features
    (``agg_stats`` computes one grouped pair; this computes all k(k-1)/2
    pairs from a single aggregation).

    One partial+final aggregation produces every moment (k sums, k
    squares, k(k-1)/2 cross products — 15 decimal sums for k=4) from one
    scan; the matrix assembly is arithmetic over that single 1-row
    result. Shuffle volume is the moment row, independent of corpus
    size. Exact decimal lane throughout (the agg_stats discipline: sums
    exact as decimals, correctly-rounded to double on both engines), so
    the correlations match bit-for-bit.
    """
    li = load(spark, sf_dir, "lineitem")
    cols = _CORR_COLS
    xs = [F.col(c).cast("decimal(12,4)") for c in cols]
    out = lambda c: c.cast("double")  # noqa: E731
    aggs = [F.count(F.lit(1)).alias("n")]
    for i, x in enumerate(xs):
        aggs.append(out(F.sum(x)).alias(f"s{i}"))
        aggs.append(out(F.sum(x * x)).alias(f"s{i}{i}"))
    pairs = [(i, j) for i in range(len(cols)) for j in range(len(cols)) if i < j]
    for i, j in pairs:
        aggs.append(out(F.sum(xs[i] * xs[j])).alias(f"s{i}{j}"))
    m = li.agg(*aggs)
    n = F.col("n")

    def corr(i: int, j: int):
        si, sj = F.col(f"s{i}"), F.col(f"s{j}")
        sii, sjj, sij = F.col(f"s{i}{i}"), F.col(f"s{j}{j}"), F.col(f"s{i}{j}")
        # try_divide: zero variance (degenerate input) → NULL, like the
        # oracle's x/0, not an ANSI abort. The variance terms are clamped
        # at 0 on BOTH engines: this lane converts moments to double
        # before combining, so a true-zero variance can land an epsilon
        # NEGATIVE (sii = fl(Σx²) vs fl(Σx)²) — Spark's sqrt would yield
        # NaN and DuckDB's would raise; positive variances are untouched.
        zero = F.lit(0.0)
        return F.try_divide(
            sij - si * sj / n,
            F.sqrt(F.greatest(zero, sii - si * si / n))
            * F.sqrt(F.greatest(zero, sjj - sj * sj / n)),
        )

    pair_structs = F.array(
        *[
            F.struct(
                F.lit(cols[i]).alias("x_var"),
                F.lit(cols[j]).alias("y_var"),
                corr(i, j).alias("corr"),
            )
            for i, j in pairs
        ]
    )
    return (
        m.select(F.explode(pair_structs).alias("p"))
        .select("p.x_var", "p.y_var", "p.corr")
    )


# Count-min sketch: DEPTH independent hash rows of WIDTH counters. eps-bound
# multiplier 3 (> e): the classic guarantee est <= true + e*N/WIDTH holds
# per row with prob 1-1/e; the min over DEPTH=4 rows makes a 3*N/WIDTH
# excess astronomically unlikely (needs a heavy colliding bucket in all 4
# seeded rows for the same key).
CM_DEPTH = 4
CM_WIDTH = 2048
CM_BOUND = 3
CM_TOPK = 5


def _cm_lanes():
    """One (row, bucket) pair per sketch row for the current ``term``."""
    return F.array(
        *[
            F.struct(
                F.lit(d).alias("d"),
                F.pmod(F.xxhash64(F.col("term"), F.lit(d)), F.lit(CM_WIDTH)).alias(
                    "bucket"
                ),
            )
            for d in range(CM_DEPTH)
        ]
    )


def _cm_oracle() -> str:
    return f"""
    WITH words AS (
      SELECT lang, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    counts AS (
      SELECT lang, term, COUNT(*) AS exact_cnt
      FROM words WHERE term <> '' GROUP BY 1, 2
    ),
    ranked AS (
      SELECT lang, term, exact_cnt,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY lang ORDER BY exact_cnt DESC, term
             ) AS INTEGER) AS rk
      FROM counts
    )
    SELECT lang, term, exact_cnt, rk,
           TRUE AS cm_overcounts, TRUE AS cm_within_eps
    FROM ranked WHERE rk <= {CM_TOPK}
    """


@register("agg_approx_topk", oracle=_cm_oracle())
def agg_approx_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via a count-min sketch — the third member of the
    re-aggregatable serving family (bitmap → COUNT DISTINCT, histogram →
    percentiles, count-min → top-k frequency): per-language top terms
    with the sketch's accuracy contract made exact-checkable.

    The sketch is DEPTH×WIDTH counters per group: each word increments
    one bucket per seeded hash row, aggregated with map-side combine so
    the shuffle carries at most |langs|×DEPTH×WIDTH rows per task
    REGARDLESS of corpus size (plan-gated) — and bucket counts are
    mergeable across partitions, days, or streaming micro-batches, which
    is what exact top-k loses the moment data is distributed. A term's
    estimate is min over rows of its bucket count: never an undercount,
    and over by at most ~e·N/WIDTH with overwhelming probability.

    Oracle discipline (= ``agg_approx_distinct``): sketch estimates are
    engine-specific, so the query emits the EXACT per-term counts and
    ranks (checkable) plus two flags — ``cm_overcounts`` (est ≥ exact,
    a mathematical invariant of count-min) and ``cm_within_eps``
    (est ≤ exact + CM_BOUND·N/WIDTH) — which the oracle asserts TRUE,
    turning the sketch's contract into an exact-checkable result. The
    exact side here is oracle instrumentation; the 100 TB serving path
    maintains only the sketch (plus the candidate heap) incrementally.
    """
    from pyspark.sql import Window  # noqa: PLC0415

    docs = load(spark, sf_dir, "documents")
    words = docs.select(
        "lang", F.explode(F.split("text", " ")).alias("term")
    ).filter(F.col("term") != "")
    sketch = (
        words.select("lang", F.explode(_cm_lanes()).alias("l"))
        .select("lang", F.col("l.d").alias("d"), F.col("l.bucket").alias("bucket"))
        .groupBy("lang", "d", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    totals = (
        sketch.filter(F.col("d") == 0)
        .groupBy("lang")
        .agg(F.sum("cnt").alias("n_total"))
    )
    exact = words.groupBy("lang", "term").agg(F.count(F.lit(1)).alias("exact_cnt"))
    w = Window.partitionBy("lang").orderBy(F.col("exact_cnt").desc(), "term")
    topk = exact.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= CM_TOPK
    )
    probes = topk.select(
        "lang", "term", "exact_cnt", "rk", F.explode(_cm_lanes()).alias("l")
    ).select(
        "lang", "term", "exact_cnt", "rk",
        F.col("l.d").alias("d"), F.col("l.bucket").alias("bucket"),
    )
    est = (
        sketch.join(F.broadcast(probes), ["lang", "d", "bucket"])
        .groupBy("lang", "term", "exact_cnt", "rk")
        .agg(F.min("cnt").alias("est"))
    )
    return est.join(F.broadcast(totals), "lang").select(
        "lang",
        "term",
        "exact_cnt",
        "rk",
        (F.col("est") >= F.col("exact_cnt")).alias("cm_overcounts"),
        (
            F.col("est")
            <= F.col("exact_cnt") + CM_BOUND * F.col("n_total") / F.lit(CM_WIDTH)
        ).alias("cm_within_eps"),
    )


APPROX_PCT_ACC = 10000  # GK sketch accuracy: rank error <= n / accuracy


@register(
    "agg_approx_percentile",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           quantile_cont(l_extendedprice, 0.5)  AS exact_p50,
           quantile_cont(l_extendedprice, 0.95) AS exact_p95,
           TRUE AS approx_p50_ok, TRUE AS approx_p95_ok
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (Greenwald-Khanna sketch) — the percentile that
    actually runs at 100 TB (constant memory per group, mergeable
    partials; exact percentiles re-sort the raw data every time) — with
    its rank-error contract made exact-checkable, the
    ``agg_approx_distinct`` discipline applied to order statistics.

    GK guarantees the returned value's exact RANK is within
    n/accuracy of the target rank. The query emits the exact
    (interpolated) percentiles — checkable bit-for-bit — plus one flag
    per quantile: the approx value's exact rank interval
    [count(x < v) + 1, count(x <= v)] (an interval because of ties)
    must intersect the target window p·n ± n/accuracy. Rank-counting is
    one extra pass with the per-group sketch results broadcast — no
    second sort. The oracle asserts the flags, turning the sketch's
    guarantee into a pass/fail result.
    """
    li = load(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    ap = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        # the sketch (like every percentile) sees only non-NULL values,
        # so its rank contract is relative to THIS count, not COUNT(*)
        F.count("l_extendedprice").alias("nv"),
        F.percentile("l_extendedprice", 0.5).alias("exact_p50"),
        F.percentile("l_extendedprice", 0.95).alias("exact_p95"),
        F.percentile_approx("l_extendedprice", 0.5, APPROX_PCT_ACC).alias("a50"),
        F.percentile_approx("l_extendedprice", 0.95, APPROX_PCT_ACC).alias("a95"),
    )
    # eqNullSafe joins throughout: the NULL flag group is a real group
    # (SQL GROUP BY keeps it); plain equi-joins would silently drop it
    sketches = ap.select(
        F.col("l_returnflag").alias("rf"), "a50", "a95"
    )
    ranks = (
        li.join(
            F.broadcast(sketches), F.col("l_returnflag").eqNullSafe(F.col("rf"))
        )
        .drop("rf")
        .groupBy("l_returnflag")
        .agg(
            F.sum((F.col("l_extendedprice") < F.col("a50")).cast("long")).alias("lt50"),
            F.sum((F.col("l_extendedprice") <= F.col("a50")).cast("long")).alias("le50"),
            F.sum((F.col("l_extendedprice") < F.col("a95")).cast("long")).alias("lt95"),
            F.sum((F.col("l_extendedprice") <= F.col("a95")).cast("long")).alias("le95"),
        )
    )

    def ok(lt: str, le: str, p: float, sketch: str):
        target = F.lit(p) * F.col("nv")
        # +1 row of slop: at n < accuracy the eps·n window shrinks below
        # one row and the check would hinge on GK's internal rank
        # convention (count< vs count<=); the sketch contract is rank
        # error <= eps*n rows, so one extra row keeps the test honest
        # without ever masking a real contract breach at scale.
        err = F.col("nv") / F.lit(APPROX_PCT_ACC) + 1
        cond = (F.col(lt) + 1 <= target + err) & (F.col(le) >= target - err)
        # a group with zero non-NULL values has no sketch and no ranks —
        # the contract is vacuously satisfied (oracle emits TRUE)
        return F.when(F.col(sketch).isNull(), F.lit(True)).otherwise(cond)

    ranks = ranks.select(
        F.col("l_returnflag").alias("rf2"), "lt50", "le50", "lt95", "le95"
    )
    return ap.join(
        ranks, F.col("l_returnflag").eqNullSafe(F.col("rf2"))
    ).select(
        "l_returnflag",
        "n",
        "exact_p50",
        "exact_p95",
        ok("lt50", "le50", 0.5, "a50").alias("approx_p50_ok"),
        ok("lt95", "le95", 0.95, "a95").alias("approx_p95_ok"),
    )


_ENTROPY_DIMS = [
    ("event_type", "event_type"),
    ("dow", "CAST(dayofweek(ts) AS VARCHAR)"),
    ("user_id", "CAST(user_id AS VARCHAR)"),
]

_ENTROPY_SQL = f"""
    WITH longform AS (
      {" UNION ALL ".join(
          f"SELECT '{name}' AS col_name, {expr} AS val FROM events"
          for name, expr in _ENTROPY_DIMS)}
    ),
    counts AS (
      SELECT col_name, val, COUNT(*) AS c
      FROM longform GROUP BY col_name, val
    )
    SELECT col_name,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           CAST(SUM(c) AS BIGINT) AS n_rows,
           CAST(MAX(c) AS BIGINT) AS max_cnt,
           round(ln(CAST(SUM(c) AS DOUBLE))
                 - CAST(CAST(SUM(c * CAST(round(ln(CAST(c AS DOUBLE)), 9)
                                           AS DECIMAL(15,9))) AS DECIMAL(24,9))
                        AS DOUBLE) / CAST(SUM(c) AS DOUBLE),
                 9) AS entropy_nats
    FROM counts GROUP BY col_name
"""


@register("entropy_profile", oracle=_ENTROPY_SQL)
def entropy_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon-entropy profile of categorical dimensions — the
    column-level information screen a feature pipeline runs before
    encoding decisions (near-zero entropy ⇒ constant column, entropy
    ≈ ln(n_distinct) ⇒ uniform key; `table_profile` counts, this
    measures concentration).

    One scan: the dimensions unpivot into long form (an Expand, no
    extra read per column), one shuffle to count (col, val) pairs, then
    a col-keyed re-aggregation whose input is |distinct values| rows.
    Entropy uses H = ln(n) − (Σ c·ln c)/n so the only per-group
    transcendental is ln(c) over integer counts; each ln is quantized
    to a DECIMAL(15,9) lane before the multi-term sum, making the
    accumulation order-insensitive and cross-engine exact (a raw double
    Σ c·ln c would drift in the low bits with partial-agg order). At
    100 TB the counts shuffle is the only data-sized stage and it
    map-side combines; everything after is |vocabulary|-sized.
    """
    ev = load(spark, sf_dir, "events")
    longform = ev.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("event_type").alias("col_name"),
                    F.col("event_type").alias("val"),
                ),
                F.struct(
                    F.lit("dow").alias("col_name"),
                    F.dayofweek("ts").cast("string").alias("val"),
                ),
                F.struct(
                    F.lit("user_id").alias("col_name"),
                    F.col("user_id").cast("string").alias("val"),
                ),
            )
        ).alias("kv")
    ).select("kv.col_name", "kv.val")
    counts = longform.groupBy("col_name", "val").agg(F.count(F.lit(1)).alias("c"))
    return counts.groupBy("col_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.sum("c").cast("long").alias("n_rows"),
        F.max("c").cast("long").alias("max_cnt"),
        F.round(
            F.log(F.sum("c").cast("double"))
            - F.sum(
                F.col("c")
                * F.round(F.log(F.col("c").cast("double")), 9).cast("decimal(15,9)")
            )
            .cast("decimal(24,9)")
            .cast("double")
            / F.sum("c").cast("double"),
            9,
        ).alias("entropy_nats"),
    )


_WINSOR_SQL = """
    WITH bounds AS (
      SELECT event_type,
             quantile_cont(value, 0.05) AS p05,
             quantile_cont(value, 0.95) AS p95
      FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           b.p05,
           b.p95,
           CAST(SUM(CASE WHEN e.value < b.p05 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_lo,
           CAST(SUM(CASE WHEN e.value > b.p95 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hi,
           CAST(CAST(SUM(CAST(
                 CASE WHEN e.value < b.p05 THEN b.p05
                      WHEN e.value > b.p95 THEN b.p95
                      ELSE e.value END AS DECIMAL(14,6)))
               AS DECIMAL(18,6)) AS DOUBLE) / COUNT(*) AS win_mean
    FROM events e JOIN bounds b ON e.event_type = b.event_type
    GROUP BY e.event_type, b.p05, b.p95
"""


@register("winsorize_scale", oracle=_WINSOR_SQL)
def winsorize_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized robust statistics per group: clamp values into the
    [p05, p95] band and report the clamp counts + winsorized mean — the
    outlier-robust normalization a feature pipeline applies before
    z-scaling (a single fat-finger reading otherwise poisons mean/std
    for the whole group; `anomaly_zscore` flags outliers, this bounds
    their influence).

    Two passes by construction (percentiles are rank statistics: no
    single-pass exact form): pass one computes exact per-group p05/p95,
    pass two re-aggregates clamped values. The bounds table is
    |groups|-sized and broadcast back onto the fact scan, so the second
    pass adds no shuffle beyond the group agg; both passes share one
    clustering. Exact percentiles (Spark percentile ≡ DuckDB
    quantile_cont, same linear interpolation) and the decimal mean lane
    keep parity bit-exact. At 100 TB swap pass one to approx_percentile
    (t-digest) and pin the bounds — the serving shape the docs of
    quantile_histogram already use.
    """
    ev = load(spark, sf_dir, "events").select("event_type", "value")
    bounds = ev.groupBy("event_type").agg(
        F.percentile("value", 0.05).alias("p05"),
        F.percentile("value", 0.95).alias("p95"),
    )
    clamped = ev.join(F.broadcast(bounds), "event_type").select(
        "event_type",
        "p05",
        "p95",
        (F.col("value") < F.col("p05")).cast("long").alias("lo"),
        (F.col("value") > F.col("p95")).cast("long").alias("hi"),
        F.when(F.col("value") < F.col("p05"), F.col("p05"))
        .when(F.col("value") > F.col("p95"), F.col("p95"))
        .otherwise(F.col("value"))
        .cast("decimal(14,6)")
        .alias("wv"),
    )
    return clamped.groupBy("event_type", "p05", "p95").agg(
        F.sum("lo").cast("long").alias("n_lo"),
        F.sum("hi").cast("long").alias("n_hi"),
        (
            F.sum("wv").cast("decimal(18,6)").cast("double")
            / F.count(F.lit(1))
        ).alias("win_mean"),
    )


_MODE_SQL = """
    WITH counts AS (
      SELECT user_id, event_type, COUNT(*) AS c
      FROM events GROUP BY user_id, event_type
    )
    SELECT user_id, event_type AS mode_event_type, CAST(c AS BIGINT) AS n
    FROM counts
    QUALIFY row_number() OVER (
      PARTITION BY user_id ORDER BY c DESC, event_type DESC) = 1
"""


@register("agg_mode_frequent", oracle=_MODE_SQL)
def agg_mode_frequent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group mode (most frequent value). Spark's own
    ``mode()`` leaves ties unspecified — useless under a differential
    oracle and dangerous in any pipeline that must be re-runnable — so
    the argmax is a total order: highest count, then highest value,
    computed as ONE ``max(struct(c, val))`` aggregation.

    Two aggregations, both map-side combined: (group, val) counts, then
    the struct-max per group — the second input is already ≤ |groups| ×
    |vocabulary| rows. No window, no sort, no shuffle beyond the two
    keyed exchanges; at 100 TB the struct-max pattern is the cheap way
    to argmax (a row_number window over the counts would re-sort every
    group for one surviving row — that's the ORACLE's formulation, kept
    deliberately different to cross-check the tie-break).
    """
    ev = load(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    best = counts.groupBy("user_id").agg(
        F.max(F.struct(F.col("c"), F.col("event_type"))).alias("m")
    )
    return best.select(
        "user_id",
        F.col("m.event_type").alias("mode_event_type"),
        F.col("m.c").cast("long").alias("n"),
    )


_WQ_LEVELS = (("p50", 0.5), ("p90", 0.9))

_WEIGHTED_PCT_SQL = f"""
    WITH by_val AS (
      SELECT l_returnflag AS flag, l_extendedprice AS val,
             SUM(l_quantity) AS w
      FROM lineitem GROUP BY 1, 2
    ),
    cum AS (
      SELECT flag, val, w,
             SUM(w) OVER (PARTITION BY flag ORDER BY val
                          ROWS UNBOUNDED PRECEDING) AS cw,
             SUM(w) OVER (PARTITION BY flag) AS tw
      FROM by_val
    )
    SELECT flag,
           {", ".join(
               f"MIN(CASE WHEN cw >= {q} * tw THEN val END) AS {name}"
               for name, q in _WQ_LEVELS)}
    FROM cum GROUP BY flag
"""


@register("percentile_weighted", oracle=_WEIGHTED_PCT_SQL)
def percentile_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted percentiles — each value counts with its weight (here:
    price percentiles weighted by quantity, i.e. "the price at which
    half the UNITS ship", not half the line items). No engine builtin
    takes weights, so the rank statistic is built from its definition:
    the smallest value whose cumulative weight reaches q·W (lower
    weighted quantile, no interpolation — every emitted value is an
    actual data value, deterministic on both engines).

    Shape: pre-aggregate to distinct (group, value) with summed weights
    (map-side combined — the cumsum window then works on |distinct
    values| rows, not raw rows), one running-sum window per group, and
    a conditional-min agg per level — all levels ride the same cumsum.
    Exactness: weights are integral, so every sum is an exact double
    regardless of accumulation order; q·W is one IEEE multiply on both
    engines. At 100 TB swap the exact cumsum for the mergeable
    quantile_histogram bins when values are dense; this exact form is
    the calibration reference.
    """
    li = load(spark, sf_dir, "lineitem")
    by_val = li.groupBy(
        F.col("l_returnflag").alias("flag"), F.col("l_extendedprice").alias("val")
    ).agg(F.sum("l_quantity").alias("w"))
    wflag = Window.partitionBy("flag")
    cum = by_val.select(
        "flag",
        "val",
        F.sum("w")
        .over(wflag.orderBy("val").rowsBetween(Window.unboundedPreceding, 0))
        .alias("cw"),
        F.sum("w").over(wflag).alias("tw"),
    )
    return cum.groupBy("flag").agg(
        *[
            F.min(F.when(F.col("cw") >= q * F.col("tw"), F.col("val"))).alias(name)
            for name, q in _WQ_LEVELS
        ]
    )


_TREND_SQL = """
    WITH daily AS (
      SELECT event_type,
             date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS x,
             CAST(SUM(CAST(value AS DECIMAL(14,6))) AS DECIMAL(20,6)) AS y
      FROM events GROUP BY 1, 2
    ),
    m AS (
      SELECT event_type,
             COUNT(*) AS n,
             SUM(x) AS sx,
             SUM(x * x) AS sxx,
             CAST(SUM(y) AS DECIMAL(28,6)) AS sy,
             CAST(SUM(x * y) AS DECIMAL(30,6)) AS sxy
      FROM daily GROUP BY event_type
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_days,
           round((n * CAST(sxy AS DOUBLE) - sx * CAST(sy AS DOUBLE))
                 / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx), 9)
             AS slope,
           round((CAST(sy AS DOUBLE) - ((n * CAST(sxy AS DOUBLE)
                                         - sx * CAST(sy AS DOUBLE))
                 / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)) * sx)
                 / n, 9) AS intercept
    FROM m
"""


@register("trend_fit", oracle=_TREND_SQL)
def trend_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS trend line over the daily rollup — "is this metric
    drifting" as a closed-form fit (slope + intercept of daily value
    against day number), the dashboard regression every metrics store
    draws. Extends the exact-moment family: `agg_stats` does one
    group's variance/corr, `corr_matrix` all pairs, this the regression
    coefficients — same discipline throughout: rollup sums in the
    decimal lane (exact, order-insensitive), moments as exact decimal
    sums over |days|-sized data, ONE double conversion per moment
    (magnitudes far under 2⁵³ ⇒ correctly rounded on both engines),
    then identical IEEE arithmetic for the closed form. Two map-side-
    combined aggregations, both rollup-sized; no window, no sort.
    """
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")).alias(
            "x"
        ),
    ).agg(F.sum(F.col("value").cast("decimal(14,6)")).cast("decimal(20,6)").alias("y"))
    m = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum("y").cast("decimal(28,6)").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("decimal(30,6)").alias("sxy"),
    )
    n = F.col("n")
    sx = F.col("sx").cast("double")
    sxx = F.col("sxx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    # try_divide: a single observed day has no slope (denominator 0) —
    # NULL like the oracle's x/0, not an ANSI abort; the intercept goes
    # NULL with it through NULL arithmetic, both engines alike
    slope = F.try_divide(n * sxy - sx * sy, n * sxx - sx * sx)
    return m.select(
        "event_type",
        n.cast("long").alias("n_days"),
        F.round(slope, 9).alias("slope"),
        F.round((sy - slope * sx) / n, 9).alias("intercept"),
    )


SKEW_TOP_K = 10


@register(
    "data_skew_profile",
    oracle=f"""
    WITH c AS (
      SELECT l_suppkey, COUNT(*) AS cnt FROM lineitem GROUP BY l_suppkey
    ),
    t AS (SELECT SUM(cnt) AS n FROM c),
    top AS (
      SELECT l_suppkey, cnt FROM c
      ORDER BY cnt DESC, l_suppkey LIMIT {SKEW_TOP_K}
    )
    SELECT
      CAST(row_number() OVER w AS INT) AS rank,
      l_suppkey,
      CAST(cnt AS BIGINT) AS cnt,
      CAST(cnt AS DOUBLE) / (SELECT n FROM t) AS share,
      CAST(SUM(cnt) OVER w AS DOUBLE) / (SELECT n FROM t) AS cum_share
    FROM top
    WINDOW w AS (ORDER BY cnt DESC, l_suppkey)
    """,
)
def data_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-key diagnosis — the profiler run BEFORE the shuffle it
    protects: top-K keys by row count with each key's share and the
    cumulative share of the head. This is the measurement that decides
    between a plain shuffle join, salting (join_skew_salted /
    agg_skew_salted), and AQE's runtime skew split (the plan gate in
    test_plans.py) — at 100 TB you profile a 0.1% sample or yesterday's
    partition first; the operator is the same either way.

    Physics: ONE map-side-combined count per key (shuffle carries
    |distinct keys| partial rows), top-K as TakeOrderedAndProject
    (per-partition heaps, never a global sort), the grand total as a
    one-row broadcast, and the cumulative window runs over K rows on
    one core. Shares divide exact BIGINTs as doubles — one correctly
    rounded IEEE step each, so the ranking AND the ratios are
    bit-identical cross-engine (tie-break on the key makes top-K total).
    """
    li = load(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("cnt"))
    top = counts.orderBy(F.desc("cnt"), "l_suppkey").limit(SKEW_TOP_K)
    # The grand total is Σ per-key counts = COUNT(*) of the fact — the
    # parquet footer already holds it (r14, guide §2.4: the r13 form
    # ran the count-by-key rollup TWICE, once more just to re-sum it).
    # Footer miss falls back to the second-pass aggregate.
    n_rows = table_rowcount(sf_dir, "lineitem")
    top = (
        top.withColumn("n", F.lit(n_rows).cast("bigint"))
        if n_rows
        else top.crossJoin(F.broadcast(counts.agg(F.sum("cnt").alias("n"))))
    )
    w = Window.orderBy(F.desc("cnt"), "l_suppkey")
    return top.select(
        F.row_number().over(w).alias("rank"),
        "l_suppkey",
        "cnt",
        (F.col("cnt").cast("double") / F.col("n")).alias("share"),
        (F.sum("cnt").over(w).cast("double") / F.col("n")).alias("cum_share"),
    )


@register(
    "join_size_estimate",
    oracle="""
    WITH ol AS (
      SELECT 'orders_lineitem' AS join_name,
             (SELECT COUNT(*) FROM orders) AS n_left,
             (SELECT COUNT(*) FROM lineitem) AS n_right,
             SUM(a.ca * b.cb) AS est_out_rows,
             MAX(a.ca * b.cb) AS max_key_rows
      FROM (SELECT o_orderkey AS k, COUNT(*) AS ca FROM orders GROUP BY 1) a
      JOIN (SELECT l_orderkey AS k, COUNT(*) AS cb FROM lineitem GROUP BY 1) b
        USING (k)
    ),
    ev AS (
      SELECT 'events_self_user' AS join_name,
             (SELECT COUNT(*) FROM events) AS n_left,
             (SELECT COUNT(*) FROM events) AS n_right,
             SUM(c * c) AS est_out_rows,
             MAX(c * c) AS max_key_rows
      FROM (SELECT user_id, COUNT(*) AS c FROM events GROUP BY 1)
    ),
    li AS (
      SELECT 'lineitem_self_part' AS join_name,
             (SELECT COUNT(*) FROM lineitem) AS n_left,
             (SELECT COUNT(*) FROM lineitem) AS n_right,
             SUM(c * c) AS est_out_rows,
             MAX(c * c) AS max_key_rows
      FROM (SELECT l_partkey, COUNT(*) AS c FROM lineitem GROUP BY 1)
    )
    SELECT join_name, CAST(n_left AS BIGINT) AS n_left,
           CAST(n_right AS BIGINT) AS n_right,
           CAST(est_out_rows AS BIGINT) AS est_out_rows,
           CAST(max_key_rows AS BIGINT) AS max_key_rows
    FROM (SELECT * FROM ol UNION ALL SELECT * FROM ev
          UNION ALL SELECT * FROM li)
    """,
)
def join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic join-cardinality prediction — |A ⋈ B| = Σ_k cA(k)·cB(k)
    computed from per-key histograms WITHOUT running the join. The
    pre-flight check before any fact-to-fact or self-join: est_out_rows
    says whether the join explodes (the two self-joins here are the
    dedup-candidate and pair-counting shapes whose blowup this repo's
    blocking/banding exists to avoid), and max_key_rows is the single
    hottest key's output — the number that decides salting
    (data_skew_profile's companion: that ranks input skew, this ranks
    OUTPUT skew, and a modest input key can still dominate the output
    since contributions square).

    This is exactly the estimate a cost-based optimizer computes from
    column histograms; materialized as an operator it costs one
    map-side-combined count per side plus a |distinct keys| histogram
    join — at 100 TB that is the difference between predicting a 10¹⁴-
    row disaster and materializing it. Exact integer arithmetic end to
    end (for equi-joins on these histograms the 'estimate' is exact,
    asserted against the real join count in tests/test_units.py).
    """
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    ev = load(spark, sf_dir, "events")

    def hist(df: DataFrame, key: str) -> DataFrame:
        return df.groupBy(F.col(key).alias("k")).agg(
            F.count(F.lit(1)).alias("c")
        )

    def estimate(name: str, ha: DataFrame, hb: DataFrame, nl, nr) -> DataFrame:
        prod = ha.withColumnRenamed("c", "ca").join(
            hb.withColumnRenamed("c", "cb"), "k"
        )
        return (
            prod.agg(
                F.sum(F.col("ca") * F.col("cb")).alias("est_out_rows"),
                F.max(F.col("ca") * F.col("cb")).alias("max_key_rows"),
            )
            .withColumn("join_name", F.lit(name))
            .withColumn("n_left", F.lit(nl).cast("bigint"))
            .withColumn("n_right", F.lit(nr).cast("bigint"))
            .select(
                "join_name", "n_left", "n_right", "est_out_rows", "max_key_rows"
            )
        )

    # Table cardinalities from parquet footers (metadata-only, exact —
    # the catalog-statistics device; r14, guide §1.2): r13 ran three
    # full-scan count JOBS for numbers the footers already hold. Footer
    # miss (0 = unknown) falls back to counting.
    n_o = table_rowcount(sf_dir, "orders") or orders.count()
    n_l = table_rowcount(sf_dir, "lineitem") or li.count()
    n_e = table_rowcount(sf_dir, "events") or ev.count()
    h_ev = hist(ev, "user_id")
    h_lp = hist(li, "l_partkey")
    return (
        estimate("orders_lineitem", hist(orders, "o_orderkey"),
                 hist(li, "l_orderkey"), n_o, n_l)
        .unionByName(estimate("events_self_user", h_ev, h_ev, n_e, n_e))
        .unionByName(estimate("lineitem_self_part", h_lp, h_lp, n_l, n_l))
    )


PSI_BINS = 10
PSI_BIN_WIDTH = 50  # calibrated for events.value ∈ [0, 500)
PSI_CUTOFF = "2024-01-16 00:00:00"


def _psi_oracle() -> str:
    """Build the PSI oracle from the same loop that builds the Spark
    expressions — the symmetry IS the correctness argument: every
    conditional count, smoothed share, and ln term is the same
    expression tree on both engines."""
    bin_expr = "CAST(least(floor(value / 50), 9) AS INT)"
    cas = ",\n        ".join(
        f"SUM(CASE WHEN ts < TIMESTAMP '{PSI_CUTOFF}'"
        f" AND {bin_expr} = {i} THEN 1 ELSE 0 END) AS ca{i}"
        for i in range(PSI_BINS)
    )
    cbs = ",\n        ".join(
        f"SUM(CASE WHEN ts >= TIMESTAMP '{PSI_CUTOFF}'"
        f" AND {bin_expr} = {i} THEN 1 ELSE 0 END) AS cb{i}"
        for i in range(PSI_BINS)
    )
    terms = " + ".join(
        f"((CAST(ca{i} + 1 AS DOUBLE) / CAST(na + {PSI_BINS} AS DOUBLE)"
        f" - CAST(cb{i} + 1 AS DOUBLE) / CAST(nb + {PSI_BINS} AS DOUBLE))"
        f" * ln((CAST(ca{i} + 1 AS DOUBLE) / CAST(na + {PSI_BINS} AS DOUBLE))"
        f" / (CAST(cb{i} + 1 AS DOUBLE) / CAST(nb + {PSI_BINS} AS DOUBLE))))"
        for i in range(PSI_BINS)
    )
    return f"""
    WITH counts AS (
      SELECT event_type,
        {cas},
        {cbs},
        SUM(CASE WHEN ts < TIMESTAMP '{PSI_CUTOFF}' THEN 1 ELSE 0 END) AS na,
        SUM(CASE WHEN ts >= TIMESTAMP '{PSI_CUTOFF}' THEN 1 ELSE 0 END) AS nb
      FROM events GROUP BY event_type
    )
    SELECT event_type, CAST(na AS BIGINT) AS n_before,
           CAST(nb AS BIGINT) AS n_after,
           round({terms}, 9) AS psi
    FROM counts
    """


@register("drift_psi", oracle=_psi_oracle())
def drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor: Population Stability Index of the
    value distribution, before vs after a cutoff, per event type —
    PSI = Σ_bins (p_before − p_after)·ln(p_before/p_after). The number a
    training-data pipeline watches per ingestion batch (rule of thumb:
    <0.1 stable, >0.25 investigate) — snapshot_diff tells you WHICH rows
    changed; this tells you whether the DISTRIBUTION moved.

    Determinism engineering: (1) bins are PINNED calibration constants
    (width 50 over [0,500)) — the production posture the histogram
    family documents, and zero extra scans; (2) Laplace-smoothed shares
    (c+1)/(n+B) keep empty bins finite and are exact-integer divisions —
    one correctly-rounded IEEE step each; (3) the 10 terms are summed as
    ONE explicit left-associated expression, not a float aggregation —
    float addition isn't associative, so an agg-based sum would be
    partition-order-dependent; a fixed expression tree pins the float
    ops — but ln() itself differs by 1 ulp between the JVM's and
    DuckDB's libm on some inputs (measured here), so psi carries the
    round(9) contract anomaly_zscore established for transcendental
    outputs; the inputs to every ln are still bit-identical. ONE aggregation
    pass computes all 22 conditional counts map-side-combined; the
    shuffle carries |event_types| rows. The oracle SQL is GENERATED from
    the same loop as the Spark expressions — symmetry by construction.
    """
    from functools import reduce  # noqa: PLC0415

    ev = load(spark, sf_dir, "events")
    bin_col = F.least(F.floor(F.col("value") / PSI_BIN_WIDTH), F.lit(9)).cast(
        "int"
    )
    before = F.col("ts") < PSI_CUTOFF
    after = F.col("ts") >= PSI_CUTOFF
    aggs = []
    for i in range(PSI_BINS):
        aggs.append(
            F.sum(F.when(before & (bin_col == i), 1).otherwise(0)).alias(f"ca{i}")
        )
        aggs.append(
            F.sum(F.when(after & (bin_col == i), 1).otherwise(0)).alias(f"cb{i}")
        )
    aggs.append(F.sum(before.cast("int")).alias("na"))
    aggs.append(F.sum(after.cast("int")).alias("nb"))
    counts = ev.groupBy("event_type").agg(*aggs)
    return psi_finalize(counts)


def psi_finalize(counts: DataFrame) -> DataFrame:
    """PSI from a per-type row of ca0..ca9/cb0..cb9/na/nb counts — the
    shared finalizer for the batch (drift_psi) and stream-maintained
    (stream_drift_psi) count paths; same fixed expression tree, same
    round(9) ln contract."""
    from functools import reduce  # noqa: PLC0415

    def share(c: str, n: str):
        return (F.col(c) + 1).cast("double") / (F.col(n) + PSI_BINS).cast(
            "double"
        )

    terms = [
        (share(f"ca{i}", "na") - share(f"cb{i}", "nb"))
        * F.log(share(f"ca{i}", "na") / share(f"cb{i}", "nb"))
        for i in range(PSI_BINS)
    ]
    return counts.select(
        "event_type",
        F.col("na").cast("bigint").alias("n_before"),
        F.col("nb").cast("bigint").alias("n_after"),
        F.round(reduce(lambda a, b: a + b, terms), 9).alias("psi"),
    )


# Benford first-digit law: P(d) = log10(1 + 1/d). The probabilities are
# computed ONCE here in Python and embedded as the SAME literals in both
# the Spark expression and the DuckDB oracle — transcendental parity by
# construction (no engine evaluates log10 at query time).
import math as _math  # noqa: E402

BENFORD_P = {d: round(_math.log10(1.0 + 1.0 / d), 12) for d in range(1, 10)}

_BENFORD_VALUES = ", ".join(f"({d}, {p!r})" for d, p in BENFORD_P.items())

_BENFORD_SQL = f"""
    WITH obs AS (
      SELECT o_orderpriority AS grp,
             CAST(regexp_extract(CAST(o_totalprice AS VARCHAR), '[1-9]')
                  AS INT) AS digit,
             count(*) AS c
      FROM orders
      WHERE o_totalprice IS NOT NULL
        AND regexp_extract(CAST(o_totalprice AS VARCHAR), '[1-9]') <> ''
      GROUP BY 1, 2
    ),
    g AS (SELECT grp, SUM(c) AS n FROM obs GROUP BY grp),
    bp(digit, p) AS (VALUES {_BENFORD_VALUES})
    SELECT g.grp AS o_orderpriority,
           CAST(bp.digit AS INT) AS digit,
           CAST(g.n AS BIGINT) AS n_group,
           CAST(COALESCE(o.c, 0) AS BIGINT) AS obs,
           round(CAST(g.n AS DOUBLE) * bp.p, 9) AS expected,
           round((COALESCE(o.c, 0) - CAST(g.n AS DOUBLE) * bp.p)
                 * (COALESCE(o.c, 0) - CAST(g.n AS DOUBLE) * bp.p)
                 / (CAST(g.n AS DOUBLE) * bp.p), 9) AS chi_term
    FROM g CROSS JOIN bp
    LEFT JOIN obs o ON o.grp = g.grp AND o.digit = bp.digit
"""


@register("benford_check", oracle=_BENFORD_SQL)
def benford_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law conformance audit of order totals per priority
    class — the classic forensic data-quality screen (fabricated or
    unit-mangled monetary columns drift from the log-uniform first-digit
    law long before any range check fires). Emits all 9 digits per
    group — absent digits surface as obs = 0 rows, which carry the
    LARGEST evidence of tampering, so an inner join that drops them
    would hide exactly the signal the audit exists for — with observed
    count, Benford-expected count, and the per-cell chi-square term;
    the release gate thresholds Σ chi_term against the χ²(8) critical
    value.

    Exactness: the first significant digit is extracted from the
    DECIMAL's string form (format-invariant: the first [1-9] character
    is the same under any zero-padding convention, and no log10 of the
    value is ever taken); counts are exact BIGINTs; the Benford
    probabilities are module-level Python literals shared verbatim by
    both engines; expected/chi_term are the identical IEEE expression
    tree on exact operands.

    Physics: ONE map-side-combined count over (priority, digit) — the
    only corpus-sized stage — then a |groups|-row re-aggregation and a
    9-row literal cross join. The digit-domain completion is
    group-sized, never data-sized.
    """
    orders = load(spark, sf_dir, "orders")
    digit = F.regexp_extract(F.col("o_totalprice").cast("string"), "[1-9]", 0)
    # obs feeds BOTH the group totals and the domain-completion join;
    # cut lineage on the (groups x 9)-sized relation so orders is
    # scanned exactly once — plan-gated.
    obs = (
        orders.filter(F.col("o_totalprice").isNotNull() & (digit != ""))
        .groupBy(
            F.col("o_orderpriority").alias("grp"),
            digit.cast("int").alias("digit"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    return benford_complete(spark, obs)


def benford_complete(spark: SparkSession, obs: DataFrame) -> DataFrame:
    """Domain-completion + chi-term stage of the Benford audit, shared
    by `benford_check` (batch obs) and `stream_benford` (served
    streaming obs): obs(grp, digit, c) → all 9 digits per group with
    observed/expected/chi_term. Group-sized arithmetic only."""
    g = obs.groupBy("grp").agg(F.sum("c").alias("n"))
    bp = spark.range(1).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("bd"), F.lit(p).alias("p")
                    )
                    for d, p in BENFORD_P.items()
                ]
            )
        ).alias("kv")
    ).select(F.col("kv.bd").alias("bd"), F.col("kv.p").alias("p"))
    o2 = obs.select(
        F.col("grp").alias("o_grp"), F.col("digit").alias("o_digit"), "c"
    )
    exp_cnt = F.col("n").cast("double") * F.col("p")
    dev = F.coalesce(F.col("c"), F.lit(0)) - exp_cnt
    return (
        g.crossJoin(F.broadcast(bp))
        .join(
            F.broadcast(o2),
            (F.col("grp") == F.col("o_grp")) & (F.col("bd") == F.col("o_digit")),
            "left",
        )
        .select(
            F.col("grp").alias("o_orderpriority"),
            F.col("bd").cast("int").alias("digit"),
            F.col("n").cast("bigint").alias("n_group"),
            F.coalesce(F.col("c"), F.lit(0)).cast("bigint").alias("obs"),
            F.round(exp_cnt, 9).alias("expected"),
            F.round(dev * dev / exp_cnt, 9).alias("chi_term"),
        )
    )


_MI_SQL = """
    WITH cells AS (
      SELECT event_type AS x,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) % 7 AS y,
             count(*) AS nxy
      FROM events GROUP BY 1, 2
    ),
    mx AS (SELECT x, SUM(nxy) AS nx FROM cells GROUP BY x),
    my AS (SELECT y, SUM(nxy) AS ny FROM cells GROUP BY y),
    tot AS (SELECT SUM(nxy) AS n FROM cells)
    SELECT c.x AS event_type,
           CAST(c.y AS BIGINT) AS dow,
           CAST(c.nxy AS BIGINT) AS n_xy,
           CAST(mx.nx AS BIGINT) AS n_x,
           CAST(my.ny AS BIGINT) AS n_y,
           CAST(tot.n AS BIGINT) AS n,
           round(ln((CAST(c.nxy AS DOUBLE) * tot.n)
                    / (CAST(mx.nx AS DOUBLE) * my.ny)), 9) AS pmi,
           round((CAST(c.nxy AS DOUBLE) / tot.n)
                 * ln((CAST(c.nxy AS DOUBLE) * tot.n)
                      / (CAST(mx.nx AS DOUBLE) * my.ny)), 9) AS mi_term
    FROM cells c
    JOIN mx ON mx.x IS NOT DISTINCT FROM c.x
    JOIN my ON my.y IS NOT DISTINCT FROM c.y
    CROSS JOIN tot
"""


@register("mutual_info_categorical", oracle=_MI_SQL)
def mutual_info_categorical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise and aggregate-ready mutual information between two
    categorical dimensions (event type × day-of-week) — the dependence
    screen `corr_matrix` cannot run on non-numeric columns: a feature
    pipeline uses the MI to decide whether a dimension is redundant
    before encoding, and the per-cell PMI to find WHICH combinations
    carry the association (pmi > 0: over-represented pairing).

    Emits per-cell rows — cnt triple, PMI, and the cell's MI
    contribution — rather than a cross-row float sum: summing doubles
    across cells is accumulation-order-dependent, so the total MI is
    the consumer's Σ mi_term over this (|x|·|y|)-row relation (the
    `attribution_linear` per-row doctrine; each emitted double is ONE
    identical IEEE expression tree on exact integer counts, and the
    single ln per row rounds identically at 9 dp — the
    `entropy_profile` precedent). Ratios run in the double lane, so no
    BIGINT product overflow exists at any corpus size. NULL categories
    are real groups: both engines join them null-safely
    (IS NOT DISTINCT FROM ≡ eqNullSafe).

    Physics: ONE map-side-combined count over (x, y) touches the
    corpus; the marginals and grand total re-aggregate the
    contingency-table-sized cell relation and join back as broadcasts.
    Day-of-week is the portable epoch-day % 7 (`seasonality_dow`).
    """
    ev = load(spark, sf_dir, "events")
    dow = (
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
        % 7
    )
    # cells feeds FOUR consumers (output join, both marginals, the grand
    # total); cut lineage on the contingency-sized relation so raw events
    # are scanned exactly once — the seasonal_decompose discipline,
    # plan-gated.
    cells = (
        ev.groupBy(F.col("event_type").alias("x"), dow.alias("y"))
        .agg(F.count(F.lit(1)).alias("nxy"))
        .localCheckpoint(eager=False)
    )
    mx = cells.groupBy("x").agg(F.sum("nxy").alias("nx")).select(
        F.col("x").alias("mx_x"), "nx"
    )
    my = cells.groupBy("y").agg(F.sum("nxy").alias("ny")).select(
        F.col("y").alias("my_y"), "ny"
    )
    tot = cells.agg(F.sum("nxy").alias("n"))
    ratio = (F.col("nxy").cast("double") * F.col("n")) / (
        F.col("nx").cast("double") * F.col("ny")
    )
    return (
        cells.join(F.broadcast(mx), F.col("x").eqNullSafe(F.col("mx_x")))
        .join(F.broadcast(my), F.col("y").eqNullSafe(F.col("my_y")))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("x").alias("event_type"),
            F.col("y").cast("bigint").alias("dow"),
            F.col("nxy").cast("bigint").alias("n_xy"),
            F.col("nx").cast("bigint").alias("n_x"),
            F.col("ny").cast("bigint").alias("n_y"),
            F.col("n").cast("bigint").alias("n"),
            F.round(F.log(ratio), 9).alias("pmi"),
            F.round(
                (F.col("nxy").cast("double") / F.col("n")) * F.log(ratio), 9
            ).alias("mi_term"),
        )
    )


WINSOR_ACC = 10000  # GK accuracy for the approx winsorize lane

_WINSOR_APPROX_SQL = """
    WITH bounds AS (
      SELECT event_type,
             CAST(COUNT(value) AS BIGINT) AS nv,
             quantile_cont(value, 0.05) AS p05,
             quantile_cont(value, 0.95) AS p95
      FROM events WHERE event_type IS NOT NULL GROUP BY event_type
    )
    SELECT e.event_type,
           b.nv,
           b.p05,
           b.p95,
           CAST(SUM(CASE WHEN e.value < b.p05 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_lo,
           CAST(SUM(CASE WHEN e.value > b.p95 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hi,
           CAST(CAST(SUM(CAST(
                 CASE WHEN e.value < b.p05 THEN b.p05
                      WHEN e.value > b.p95 THEN b.p95
                      ELSE e.value END AS DECIMAL(14,6)))
               AS DECIMAL(18,6)) AS DOUBLE) / COUNT(*) AS win_mean,
           TRUE AS approx_p05_ok,
           TRUE AS approx_p95_ok
    FROM events e JOIN bounds b ON e.event_type = b.event_type
    GROUP BY e.event_type, b.nv, b.p05, b.p95
"""


def _winsor_bounds(ev, n_rows: int):
    """Per-type (nv, exact p05/p95, GK a05/a95) bounds relation for
    ``winsorize_approx`` — PRE-checkpoint, so the plan gates can assert
    the lane shape directly (the op wraps it in a lazy localCheckpoint,
    which hides the subtree from the served plan).

    Small lane (``lanes`` "single_task_rows" over ``n_rows``): ONE
    exact-Percentile buffer and ONE GK sketch per group serve both tail
    percentages (array percentages share the state and are
    bit-identical per element). Scale lane: the exact p05/p95 come from
    the two-level chunked device (`iqr_fences`/`tail_cvar` discipline —
    no per-group value buffer) over the non-NULL values; the count and
    the mergeable sketches stay one hash rollup, and the left join keeps
    all-NULL groups (nv=0, NULL bounds) exactly as the small lane's
    groupBy does."""
    if lanes.exceeds("single_task_rows", n_rows):
        from cpt_database_sync_spark.operators.ranks import (  # noqa: PLC0415
            group_quantiles_cont,
        )

        nvs = ev.groupBy("event_type").agg(
            F.count("value").alias("nv"),
            F.percentile_approx(
                "value", F.array(F.lit(0.05), F.lit(0.95)), F.lit(WINSOR_ACC)
            ).alias("_a"),
        )
        qex = group_quantiles_cont(
            ev.filter(F.col("value").isNotNull()),
            ["event_type"],
            "value",
            {"p05": 0.05, "p95": 0.95},
            chunk_width=RANK_CHUNK_WIDTH,
        ).drop("n")
        return nvs.join(qex, "event_type", "left").select(
            "event_type",
            "nv",
            "p05",
            "p95",
            F.col("_a")[0].alias("a05"),
            F.col("_a")[1].alias("a95"),
        )
    b0 = ev.groupBy("event_type").agg(
        F.count("value").alias("nv"),
        F.percentile("value", F.array(F.lit(0.05), F.lit(0.95))).alias("_p"),
        F.percentile_approx(
            "value", F.array(F.lit(0.05), F.lit(0.95)), F.lit(WINSOR_ACC)
        ).alias("_a"),
    )
    return b0.select(
        "event_type",
        "nv",
        F.col("_p")[0].alias("p05"),
        F.col("_p")[1].alias("p95"),
        F.col("_a")[0].alias("a05"),
        F.col("_a")[1].alias("a95"),
    )


@register("winsorize_approx", oracle=_WINSOR_APPROX_SQL)
def winsorize_approx(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """`winsorize_scale`'s documented 100 TB lane made checkable — the
    second half of VERDICT r9 next #5 (`anomaly_mad_approx` is the
    first): the p05/p95 clamp bounds swapped for ``percentile_approx``
    sketches (constant per-group memory, mergeable partials — the exact
    percentile re-buffers every group's values each run), with the GK
    rank contract converted into flags the oracle asserts. The emitted
    winsorized statistics stay EXACT (bit-checkable, identical to
    winsorize_scale's lanes); the sketch bounds appear only inside the
    rank flags, since GK output can vary with partition merge order
    (``agg_approx_distinct`` discipline).

    Rank contract per flag: the sketch value's exact rank interval
    [count< + 1, count<=] must intersect p·nv ± nv/ACC (+1 row of slop
    below one-row windows), counted in the SAME pass that clamps — no
    extra scan, no sort. NULL event_type is out of contract on both
    sides (the oracle's equi-join drops it).

    Physics: two passes exactly like winsorize_scale — per-group bounds
    (carrying one shared GK sketch beside the exact percentiles), then
    one broadcast-join + map-side-combined re-aggregation doing clamp
    counts, the winsorized decimal mean, and the four rank counts
    together. Small lane (``lanes`` "single_task_rows", events footer
    count): the exact p05/p95 share ONE Percentile buffer per group.
    Scale lane: they come from the two-level chunked device
    (``ranks.group_quantiles_cont`` — the ``iqr_fences``/``tail_cvar``
    lane), so no per-group value buffer exists at scale; the sketches
    are mergeable either way.
    """
    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type").isNotNull())
        .select("event_type", "value")
    )
    bounds = _winsor_bounds(
        ev, table_rowcount(sf_dir, "events")
    ).localCheckpoint(eager=False)
    joined = ev.join(F.broadcast(bounds), "event_type")
    wv = (
        F.when(F.col("value") < F.col("p05"), F.col("p05"))
        .when(F.col("value") > F.col("p95"), F.col("p95"))
        .otherwise(F.col("value"))
        .cast("decimal(14,6)")
    )
    agg = joined.groupBy("event_type", "nv", "p05", "p95").agg(
        # when/otherwise, not a bare boolean cast: an all-NULL group's
        # comparisons are all NULL and SUM would return NULL where the
        # oracle's CASE...ELSE 0 returns 0 (degenerate-fixture class)
        F.sum(
            F.when(F.col("value") < F.col("p05"), 1).otherwise(0)
        ).cast("long").alias("n_lo"),
        F.sum(
            F.when(F.col("value") > F.col("p95"), 1).otherwise(0)
        ).cast("long").alias("n_hi"),
        (
            F.sum(wv).cast("decimal(18,6)").cast("double") / F.count(F.lit(1))
        ).alias("win_mean"),
        F.sum((F.col("value") < F.col("a05")).cast("long")).alias("lt05"),
        F.sum((F.col("value") <= F.col("a05")).cast("long")).alias("le05"),
        F.sum((F.col("value") < F.col("a95")).cast("long")).alias("lt95"),
        F.sum((F.col("value") <= F.col("a95")).cast("long")).alias("le95"),
        F.max("a05").alias("a05"),
        F.max("a95").alias("a95"),
    )

    def rank_ok(lt: str, le: str, p: float, sketch: str) -> Column:
        target = F.lit(p) * F.col("nv")
        err = F.col("nv") / F.lit(WINSOR_ACC) + 1
        cond = (F.col(lt) + 1 <= target + err) & (F.col(le) >= target - err)
        return F.when(F.col(sketch).isNull(), F.lit(True)).otherwise(cond)

    return agg.select(
        "event_type",
        F.col("nv").cast("long").alias("nv"),
        "p05",
        "p95",
        "n_lo",
        "n_hi",
        "win_mean",
        rank_ok("lt05", "le05", 0.05, "a05").alias("approx_p05_ok"),
        rank_ok("lt95", "le95", 0.95, "a95").alias("approx_p95_ok"),
    )


# The dimension-rank family's window lane (gini / lorenz here,
# rfm_segments in analytics.py) sorts each nation's FULL customer
# rollup inside one task. Above ``lanes`` "single_task_rows" (customer
# footer count) ranks come from the two-level chunked row_number
# (operators/ranks.py): cents-range chunks sort corpus fractions in
# parallel, the chunk balance prefixes over |nations|x|chunks|
# aggregate rows, and NTILE becomes a closed form over (rank, n).
CENTS_CHUNK_WIDTH = 10_000_000  # $100k lifetime-spend chunks

_GINI_EXPR = (
    "round((2 * CAST(s1 AS DOUBLE)"
    " - (n_customers + 1) * CAST(total_cents AS DOUBLE))"
    " / NULLIF(CAST(n_customers AS DOUBLE) * CAST(total_cents AS DOUBLE),"
    " CAST(0 AS DOUBLE)), 9)"
)

_GINI_SQL = f"""
    WITH spend AS (
      SELECT c.c_custkey, c.c_nationkey,
             CAST(COALESCE(SUM(CAST(o.o_totalprice AS DECIMAL(12,2))), 0)
                  * 100 AS BIGINT) AS cents
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT c_nationkey, cents,
             row_number() OVER (PARTITION BY c_nationkey
                                ORDER BY cents, c_custkey) AS i
      FROM spend
    ),
    agg AS (
      SELECT c_nationkey,
             CAST(COUNT(*) AS BIGINT) AS n_customers,
             CAST(SUM(cents) AS BIGINT) AS total_cents,
             SUM(CAST(i AS DECIMAL(19,0)) * CAST(cents AS DECIMAL(19,0))) AS s1
      FROM ranked GROUP BY 1
    )
    SELECT c_nationkey, n_customers, total_cents,
           {_GINI_EXPR} AS gini
    FROM agg
"""


# NOT reverify-tagged despite the r13 dispatch add: the r13 driver
# budget is spent on the r6 cohort (verdict next #4 arithmetic — 42
# cohort keys + 8 front-of-queue = the 50-key budget), and this is the
# round's most-evidenced small change (sf0.01 vanilla parity, sf1
# BIG-lane oracle row in STEPUP_r13, twin + plan gates; the shared
# ranks.py device is also driver-exercised through lorenz_deciles,
# which keeps its tag).
@register("gini_concentration", oracle=_GINI_SQL)
def gini_concentration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Gini coefficient of customer spend per nation — the inequality/
    concentration rollup a marketplace-health dashboard runs (is revenue
    spread across the base or carried by whales?): G = (2·Σ i·xᵢ −
    (n+1)·Σxᵢ) / (n·Σxᵢ) over the ascending-sorted spends, the standard
    rank formula. Zero-order customers count with spend 0 (a nation
    where most customers never bought IS concentrated — dropping them
    would hide exactly the signal).

    Exactness: spend runs in the DECIMAL(12,2) money lane and lands as
    exact BIGINT cents; the rank-weighted sum Σ i·xᵢ runs in
    DECIMAL(19,0)×DECIMAL(19,0) products (BIGINT i·cents would overflow
    near 9.2e18 at deployment row counts — the PageRank precondition
    discipline, solved in-plan here); rank ties (equal spends) cannot
    perturb Σ i·xᵢ because a tied block contributes x·Σi regardless of
    internal order, and the order is pinned (cents, custkey) anyway.
    The one double division is the identical expression tree on both
    engines (shared _GINI_EXPR text), NULL on an all-zero nation.

    Physics: one customer-keyed outer join + rollup (spend), then the
    rank. Small lane (``lanes`` "single_task_rows", customer footer
    count): a nation-partitioned window sort over the |customers|
    rollup. Scale lane: the two-level chunked row_number —
    cents-range chunks sort in parallel, the balance prefixes over
    chunk AGGREGATES only (operators/ranks.py) — so no task ever
    sorts a nation's whole slice. One map-side-combined per-nation
    aggregation either way.
    """
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    spend = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_nationkey")
        .agg(
            (
                F.coalesce(
                    F.sum(F.col("o_totalprice").cast("decimal(12,2)")),
                    F.lit(0),
                )
                * 100
            )
            .cast("bigint")
            .alias("cents")
        )
    )
    if lanes.exceeds("single_task_rows", table_rowcount(sf_dir, "customer")):
        from cpt_database_sync_spark.operators.ranks import (  # noqa: PLC0415
            two_level_row_number,
        )

        ranked = two_level_row_number(
            spend,
            F.expr(f"cents div {CENTS_CHUNK_WIDTH}"),
            ["cents", "c_custkey"],
            group_cols=("c_nationkey",),
            out="i",
        ).select("c_nationkey", "cents", "i")
    else:
        w = Window.partitionBy("c_nationkey").orderBy("cents", "c_custkey")
        ranked = spend.select(
            "c_nationkey", "cents", F.row_number().over(w).alias("i")
        )
    agg = ranked.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("cents").cast("bigint").alias("total_cents"),
        F.sum(
            F.col("i").cast("decimal(19,0)") * F.col("cents").cast("decimal(19,0)")
        ).alias("s1"),
    )
    return agg.select(
        "c_nationkey",
        "n_customers",
        "total_cents",
        F.expr(_GINI_EXPR).alias("gini"),
    )


_HHI_EXPR = (
    "round(CAST(sumsq AS DOUBLE)"
    " / NULLIF(CAST(market_q AS DOUBLE) * CAST(market_q AS DOUBLE),"
    " CAST(0 AS DOUBLE)), 9)"
)

_HHI_SQL = f"""
    WITH sq AS (
      SELECT s.s_nationkey, l.l_suppkey,
             CAST(SUM(CAST(l.l_quantity AS DECIMAL(12,4))) * 10000 AS BIGINT)
               AS q
      FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
      GROUP BY 1, 2
    ),
    m AS (
      SELECT s_nationkey,
             CAST(COUNT(*) AS BIGINT) AS n_suppliers,
             CAST(SUM(q) AS BIGINT) AS market_q,
             SUM(CAST(q AS DECIMAL(19,0)) * CAST(q AS DECIMAL(19,0))) AS sumsq
      FROM sq GROUP BY 1
    )
    SELECT s_nationkey, n_suppliers, market_q, {_HHI_EXPR} AS hhi
    FROM m
"""


@register("hhi_concentration", oracle=_HHI_SQL)
def hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman index of supplier concentration per nation
    market — the antitrust-grade concentration score (Σ shareᵢ², 1/n =
    perfect competition … 1.0 = monopoly) that complements
    `gini_concentration`: Gini measures inequality of the distribution,
    HHI measures how few hands hold it — a data-sourcing pipeline runs
    the same score over corpus provenance (is the training set
    dominated by one domain?).

    Exactness: shares are never materialized — HHI = Σqᵢ²/Q² needs ONE
    terminal division: per-supplier quantities land as exact scaled
    BIGINTs (DECIMAL(12,4)·10⁴), the squared sum runs in
    DECIMAL(19,0)×DECIMAL(19,0) (BIGINT q² would overflow at ~3e9
    units — the gini_concentration lane), and the single double
    division is the identical expression tree on both engines (shared
    _HHI_EXPR text), NULL for an all-NULL-quantity market.

    Physics: one fact-sized aggregation (supplier×nation rollup,
    map-side combined, supplier dimension broadcast) then a
    |suppliers|-sized re-aggregation. No window, no sort, no second
    fact pass.
    """
    li = load(spark, sf_dir, "lineitem").select("l_suppkey", "l_quantity")
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    sq = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy("s_nationkey", "l_suppkey")
        .agg(
            (F.sum(F.col("l_quantity").cast("decimal(12,4)")) * 10000)
            .cast("bigint")
            .alias("q")
        )
    )
    m = sq.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
        F.sum("q").cast("bigint").alias("market_q"),
        F.sum(
            F.col("q").cast("decimal(19,0)") * F.col("q").cast("decimal(19,0)")
        ).alias("sumsq"),
    )
    return m.select(
        "s_nationkey", "n_suppliers", "market_q", F.expr(_HHI_EXPR).alias("hhi")
    )


# quantile_normalize's window lane sorts each channel's FULL fact
# slice inside one task (parallelism = |channels| = 5 at any corpus
# size). Above ``lanes`` "single_task_rows" the rank
# structure comes from per-(channel, value) ROLLUPS through the
# channel-grouped two-level chunked prefix (`_rank_avg2_two_level` —
# the spearman device) and joins back to the fact on (channel, value):
# the fact is never sorted inside a task, only shuffled on join keys.
# Bit-identical: percent_rank's RANK is the peer group's MIN rank —
# a pure function of the per-value rollup — and (min_rank−1)/(n−1) is
# the same exact-long-over-exact-long IEEE division in both lanes.


@register(
    "quantile_normalize",
    oracle="""
    SELECT event_id, event_type, value,
           percent_rank() OVER (PARTITION BY event_type ORDER BY value) AS qn
    FROM events
    WHERE value IS NOT NULL
    """,
    tags=("reverify:r13",),
)
def quantile_normalize(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quantile (rank/CDF) normalization per channel — the
    distribution-free feature transform (map each value to its within-group
    percentile position, qn = (rank−1)/(n−1)) a feature pipeline
    applies when channels have incomparable scales and outliers make
    z-scaling useless (`winsorize_scale` bounds outliers; this erases
    scale entirely — the two standard robust alternatives).

    Exactness: percent_rank is pure rank arithmetic — (rank−1)/(n−1)
    with SQL rank semantics (ties share the min rank of the peer
    group), so tied values get identical qn REGARDLESS of tie order
    and the one division is exact-int/exact-int IEEE on both engines;
    the single-row-group convention (0.0) was probed identical on
    Spark and DuckDB. NULL values have no rank position and are out of
    contract on both sides; NULL event_type is a real group (window
    partitions keep it on both engines).

    Physics: small lane (``lanes`` "single_task_rows", events footer
    count), ONE type-keyed shuffle and a within-partition sort — the
    canonical window shape. Scale lane: the rank structure comes from
    per-(type, value) rollups through the type-grouped two-level
    chunked prefix and a rank-aligned join back to the fact on
    (type, value) — the fact is never sorted inside a task,
    parallelism is |distinct values|-wide, and the per-type n joins as
    a |types|-row broadcast. NULL event_type stays a real group in both
    lanes (the big lane groups and joins on a (is_null, value) struct
    key, sidestepping NULL-droppping equi-join semantics). The further
    documented swap is the approx-CDF transform (percentile_approx
    grid + broadcast interpolation — the winsorize_approx lane) when
    even the rollup is too hot.
    """
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    if lanes.exceeds("single_task_rows", table_rowcount(sf_dir, "events")):
        # NULL-proof group key: equi-joins drop NULL keys, but NULL
        # event_type is a real channel. (is_null, coalesced value) is
        # total and collision-free.
        gkey = F.struct(
            F.col("event_type").isNull().alias("gn"),
            F.coalesce(F.col("event_type"), F.lit("")).alias("gv"),
        )
        fact = ev.select("event_id", "event_type", "value", gkey.alias("g"))
        rel = fact.groupBy("g", "value").agg(
            F.count(F.lit(1)).cast("long").alias("cnt")
        )
        rel = _rank_avg2_two_level(rel, passengers=["value"], group_cols=("g",))
        # min (SQL RANK) rank of the peer group from the doubled average
        # rank: avg2 = 2*cum − cnt + 1 ⇒ min_rank = (avg2 − cnt + 1) div 2
        # (always even numerator — exact integer arithmetic).
        rel = rel.select(
            "g",
            "value",
            F.expr("(avg2 - cnt + 1) div 2").cast("long").alias("min_rank"),
            "cnt",
        )
        n_per = rel.groupBy("g").agg(F.sum("cnt").cast("long").alias("n"))
        qn_rel = rel.join(F.broadcast(n_per), "g").select(
            "g",
            "value",
            F.when(F.col("n") == 1, F.lit(0.0))
            .otherwise(
                (F.col("min_rank") - 1).cast("double")
                / (F.col("n") - 1).cast("double")
            )
            .alias("qn"),
        )
        return fact.join(qn_rel, ["g", "value"]).select(
            "event_id", "event_type", "value", "qn"
        )
    w = Window.partitionBy("event_type").orderBy("value")
    return ev.select(
        "event_id",
        "event_type",
        "value",
        F.percent_rank().over(w).alias("qn"),
    )


LORENZ_DECILES = 10

_LORENZ_SQL = f"""
    WITH spend AS (
      SELECT c.c_custkey, c.c_nationkey,
             CAST(COALESCE(SUM(CAST(o.o_totalprice AS DECIMAL(12,2))), 0)
                  * 100 AS BIGINT) AS cents
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    ),
    bucketed AS (
      SELECT c_nationkey, cents,
             NTILE({LORENZ_DECILES}) OVER (PARTITION BY c_nationkey
                                           ORDER BY cents, c_custkey) AS decile
      FROM spend
    ),
    per_decile AS (
      SELECT c_nationkey, decile,
             CAST(COUNT(*) AS BIGINT) AS n_customers,
             CAST(SUM(cents) AS BIGINT) AS decile_cents
      FROM bucketed GROUP BY 1, 2
    ),
    cum AS (
      SELECT c_nationkey, decile, n_customers, decile_cents,
             CAST(SUM(decile_cents) OVER (PARTITION BY c_nationkey
                                          ORDER BY decile
                                          ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS cum_cents,
             CAST(SUM(decile_cents) OVER (PARTITION BY c_nationkey)
                  AS BIGINT) AS total_cents
      FROM per_decile
    )
    SELECT c_nationkey, CAST(decile AS INT) AS decile,
           n_customers, decile_cents, cum_cents,
           round(CAST(cum_cents AS DOUBLE)
                 / NULLIF(CAST(total_cents AS DOUBLE), CAST(0 AS DOUBLE)), 9)
             AS cum_share
    FROM cum
"""


@register("lorenz_deciles", oracle=_LORENZ_SQL, tags=("reverify:r13",))
def lorenz_deciles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Lorenz curve by spend decile per nation — `gini_concentration`'s
    companion VIEW (Gini is the area summary; this is the curve a
    dashboard draws): customers sorted by spend split into 10 pinned
    deciles, each with its customer count, decile spend, cumulative
    spend, and cumulative share of the nation's total ("the bottom 50%
    hold 9% of spend"). Zero-order customers sit in the bottom deciles
    at exact 0.

    Exactness: spend in exact BIGINT cents; NTILE deterministic via the
    TOTAL (cents, custkey) order; cumulative sums are BIGINT window
    sums over the 10-row decile relation; the one share division is the
    identical expression tree on both engines, NULL for an all-zero
    nation.

    Physics: one per-customer rollup (the gini_concentration stage),
    then the rank. Small lane (``lanes`` "single_task_rows", customer
    footer count): one nation-partitioned dimension sort for NTILE.
    Scale lane: the two-level chunked row_number
    plus the closed-form NTILE over (rank, per-nation n) — both from
    operators/ranks.py, no per-nation relation sort, the per-nation n
    carried on the chunk-aggregate broadcast. Everything downstream
    runs on the |nations|×10 decile relation — broadcast-scale
    regardless of corpus size.
    """
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    spend = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_nationkey")
        .agg(
            (
                F.coalesce(
                    F.sum(F.col("o_totalprice").cast("decimal(12,2)")),
                    F.lit(0),
                )
                * 100
            )
            .cast("bigint")
            .alias("cents")
        )
    )
    if lanes.exceeds("single_task_rows", table_rowcount(sf_dir, "customer")):
        from cpt_database_sync_spark.operators.ranks import (  # noqa: PLC0415
            ntile_col_sql,
            two_level_row_number,
        )

        ranked = two_level_row_number(
            spend,
            F.expr(f"cents div {CENTS_CHUNK_WIDTH}"),
            ["cents", "c_custkey"],
            group_cols=("c_nationkey",),
            out="i",
            total_col="n",
        )
        bucketed = ranked.select(
            "c_nationkey",
            "cents",
            F.expr(ntile_col_sql("i", "n", LORENZ_DECILES)).alias("decile"),
        )
    else:
        wb = Window.partitionBy("c_nationkey").orderBy("cents", "c_custkey")
        bucketed = spend.select(
            "c_nationkey",
            "cents",
            F.ntile(LORENZ_DECILES).over(wb).alias("decile"),
        )
    per_decile = bucketed.groupBy("c_nationkey", "decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("cents").cast("bigint").alias("decile_cents"),
    )
    wc = (
        Window.partitionBy("c_nationkey")
        .orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy("c_nationkey")
    cum = per_decile.select(
        "c_nationkey",
        "decile",
        "n_customers",
        "decile_cents",
        F.sum("decile_cents").over(wc).cast("bigint").alias("cum_cents"),
        F.sum("decile_cents").over(wt).cast("bigint").alias("total_cents"),
    )
    return cum.select(
        "c_nationkey",
        F.col("decile").cast("int").alias("decile"),
        "n_customers",
        "decile_cents",
        "cum_cents",
        F.round(
            F.col("cum_cents").cast("double")
            / F.nullif(F.col("total_cents").cast("double"), F.lit(0.0)),
            9,
        ).alias("cum_share"),
    )


# Exact two-sample Kolmogorov–Smirnov drift, before/after the SAME
# calibration cutoff drift_psi uses — the two monitors pair: PSI is the
# binned, smoothed index (robust, thresholdable); KS is the exact
# sup-CDF-gap with a distribution-free critical value. α = 0.05 →
# c(α) = 1.358 (the classic Smirnov asymptotic constant).
KS_CRIT = 1.358

_DRIFT_KS_SQL = f"""
    WITH v AS (
      SELECT event_type, value,
             CASE WHEN ts < TIMESTAMP '{PSI_CUTOFF}' THEN 1 ELSE 0 END AS a
      FROM events
      WHERE value IS NOT NULL AND isfinite(value)
        AND ts IS NOT NULL AND event_type IS NOT NULL
    ),
    per_v AS (
      SELECT event_type, value,
             SUM(a) AS ca, SUM(1 - a) AS cb
      FROM v GROUP BY event_type, value
    ),
    cum AS (
      SELECT event_type, value,
             SUM(ca) OVER w AS cua, SUM(cb) OVER w AS cub,
             SUM(ca) OVER wt AS na, SUM(cb) OVER wt AS nb
      FROM per_v
      WINDOW w AS (PARTITION BY event_type ORDER BY value
                   ROWS UNBOUNDED PRECEDING),
             wt AS (PARTITION BY event_type)
    ),
    d AS (
      SELECT event_type, MAX(na) AS n_before, MAX(nb) AS n_after,
             MAX(abs(CAST(cua AS DOUBLE) / CAST(na AS DOUBLE)
                     - CAST(cub AS DOUBLE) / CAST(nb AS DOUBLE))) AS d_stat
      FROM cum WHERE na > 0 AND nb > 0
      GROUP BY event_type
    )
    SELECT event_type,
           CAST(n_before AS BIGINT) AS n_before,
           CAST(n_after AS BIGINT) AS n_after,
           d_stat,
           d_stat > {KS_CRIT} * sqrt(
             CAST(n_before + n_after AS DOUBLE)
             / (CAST(n_before AS DOUBLE) * CAST(n_after AS DOUBLE))
           ) AS drifted
    FROM d
"""


# drift_ks's per-type ordered CDF pass runs over DISTINCT values, which
# scale with the corpus for continuous measures. Above ``lanes``
# "single_task_rows" (events footer count, an upper bound on distinct
# values) both cumulative counts run chunk-locally with a prefix over
# the chunk AGGREGATES only. The CDF gap is a pure function of the
# per-value cumulative counts the device preserves.


@register("drift_ks", oracle=_DRIFT_KS_SQL, tags=("reverify:r13",))
def drift_ks(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov drift per event type —
    `drift_psi`'s companion monitor over the SAME before/after cutoff:
    PSI bins and smooths (robust, but its value depends on the bin
    calibration); KS is binning-free — D = sup_x |F̂_before(x) −
    F̂_after(x)| over the empirical CDFs — with the distribution-free
    Smirnov threshold c(α)·√((n+m)/(n·m)), so `drifted` is an actual
    hypothesis test, not a rule of thumb. The pair is the standard
    drift dashboard: PSI for trend lines, KS for alarms.

    Exactness: per distinct value the before/after counts are exact
    BIGINTs; each CDF gap is two exact-integer divisions, one subtract,
    one abs — identical IEEE ops on identical operands (no
    transcendentals, so no libm-ulp hedge needed; the MAX over
    identical float sets is identical). NaN/±Inf values are quarantined
    by the non-finite doctrine; NULL value / ts / type rows are out of
    contract on both sides. Types with an empty side have no defined D
    and are excluded (WHERE na > 0 AND nb > 0).

    Physics: one type-keyed exchange of the (type, value)-deduplicated
    counts feeds both the ordered cumulative window and the totals;
    everything upstream is a map-side-combined groupBy. In the small
    lane the per-type sort is over DISTINCT values; in the scale lane
    (see the comment above) both cumulative counts run through the
    two-level chunked prefix — value-range chunks locally, balance
    over chunk AGGREGATES. The further documented swap
    is the GK-sketch lane (`winsorize_approx`'s trade: D to within the
    sketch's rank ε).
    """
    ev = load(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
        & ~F.isnan("value")
        & F.col("ts").isNotNull()
        & F.col("event_type").isNotNull()
        & (F.abs("value") != float("inf"))
    )
    a = (F.col("ts") < F.lit(PSI_CUTOFF).cast("timestamp")).cast("long")
    per_v = ev.groupBy("event_type", "value").agg(
        F.sum(a).alias("ca"), F.sum(1 - a).alias("cb")
    )
    if lanes.exceeds("single_task_rows", table_rowcount(sf_dir, "events")):
        chunked = per_v.withColumn(
            "chunk", F.floor(F.col("value") / RANK_CHUNK_WIDTH).cast("long")
        )
        w_local = (
            Window.partitionBy("event_type", "chunk")
            .orderBy("value")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        local = chunked.select(
            "event_type",
            "chunk",
            F.sum("ca").over(w_local).alias("la"),
            F.sum("cb").over(w_local).alias("lb"),
        )
        totals = chunked.groupBy("event_type", "chunk").agg(
            F.sum("ca").alias("ta"), F.sum("cb").alias("tb")
        )
        w_prefix = (
            Window.partitionBy("event_type")
            .orderBy("chunk")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        w_type = Window.partitionBy("event_type")
        bal = totals.select(
            "event_type",
            "chunk",
            F.coalesce(F.sum("ta").over(w_prefix), F.lit(0)).alias("ba"),
            F.coalesce(F.sum("tb").over(w_prefix), F.lit(0)).alias("bb"),
            F.sum("ta").over(w_type).alias("na"),
            F.sum("tb").over(w_type).alias("nb"),
        )
        cum = local.join(F.broadcast(bal), ["event_type", "chunk"]).select(
            "event_type",
            (F.col("ba") + F.col("la")).alias("cua"),
            (F.col("bb") + F.col("lb")).alias("cub"),
            "na",
            "nb",
        )
    else:
        w = (
            Window.partitionBy("event_type")
            .orderBy("value")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        wt = Window.partitionBy("event_type")
        cum = per_v.select(
            "event_type",
            F.sum("ca").over(w).alias("cua"),
            F.sum("cb").over(w).alias("cub"),
            F.sum("ca").over(wt).alias("na"),
            F.sum("cb").over(wt).alias("nb"),
        )
    gap = F.abs(
        F.col("cua").cast("double") / F.col("na").cast("double")
        - F.col("cub").cast("double") / F.col("nb").cast("double")
    )
    d = (
        cum.filter((F.col("na") > 0) & (F.col("nb") > 0))
        .groupBy("event_type")
        .agg(
            F.max("na").cast("long").alias("n_before"),
            F.max("nb").cast("long").alias("n_after"),
            F.max(gap).alias("d_stat"),
        )
    )
    crit = F.lit(KS_CRIT) * F.sqrt(
        (F.col("n_before") + F.col("n_after")).cast("double")
        / (
            F.col("n_before").cast("double")
            * F.col("n_after").cast("double")
        )
    )
    return d.select(
        "event_type",
        "n_before",
        "n_after",
        "d_stat",
        (F.col("d_stat") > crit).alias("drifted"),
    )


_CHI2_SQL = """
    WITH cells AS (
      SELECT o_orderpriority AS prio, o_orderstatus AS status,
             COUNT(*) AS n_obs
      FROM orders
      WHERE o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL
      GROUP BY 1, 2
    ),
    m AS (
      SELECT prio, status, n_obs,
             SUM(n_obs) OVER (PARTITION BY prio) AS r_tot,
             SUM(n_obs) OVER (PARTITION BY status) AS c_tot,
             SUM(n_obs) OVER () AS n
      FROM cells
    ),
    contrib AS (
      SELECT prio, status, n,
             (CAST(n_obs AS DOUBLE)
              - CAST(r_tot AS DOUBLE) * CAST(c_tot AS DOUBLE)
                / CAST(n AS DOUBLE))
             * (CAST(n_obs AS DOUBLE)
                - CAST(r_tot AS DOUBLE) * CAST(c_tot AS DOUBLE)
                  / CAST(n AS DOUBLE))
             / (CAST(r_tot AS DOUBLE) * CAST(c_tot AS DOUBLE)
                / CAST(n AS DOUBLE)) AS g
      FROM m
    ),
    folded AS (
      SELECT MAX(n) AS n,
             COUNT(DISTINCT prio) AS n_prio,
             COUNT(DISTINCT status) AS n_status,
             list_reduce(
               list_prepend(CAST(0 AS DOUBLE),
                            list(g ORDER BY prio, status)),
               (acc, x) -> acc + x) AS chi2
      FROM contrib
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST(n_prio AS INT) AS n_prio,
           CAST(n_status AS INT) AS n_status,
           CAST((n_prio - 1) * (n_status - 1) AS INT) AS dof,
           chi2,
           sqrt(chi2 / (CAST(n AS DOUBLE)
                        * CAST(least(n_prio, n_status) - 1 AS DOUBLE)))
             AS cramers_v
    FROM folded
"""


@register("chi2_independence", oracle=_CHI2_SQL)
def chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson χ² test of independence over the order-priority ×
    order-status contingency table, with Cramér's V effect size — the
    categorical-association screen `mutual_info_categorical` (bits)
    and `corr_matrix` (numeric) don't provide in test-statistic form:
    χ² = Σ_cells (O − E)²/E with E = row·col/N, dof = (r−1)(c−1),
    V = √(χ²/(N·(min(r,c)−1))). The feature-audit primitive — "is this
    categorical column informative about that one" with a calibrated
    null.

    Exactness: observed counts and margins are exact BIGINTs from ONE
    cell rollup (margins via windows over the CELLS, never a second
    corpus pass); each expected value and cell contribution is a fixed
    IEEE expression over exact integers; and the cross-cell sum — the
    one float AGGREGATION — is a LEFT FOLD over the (prio, status)-
    sorted cell list on BOTH engines (Spark HOF ``aggregate``, DuckDB
    ``list_reduce`` with a SCALAR accumulator — the safe case; float
    addition is non-associative, so an agg-based SUM would be
    partition-order-dependent — the drift_psi doctrine). sqrt is
    correctly rounded per IEEE-754, so chi2 and cramers_v are raw
    bit-equal doubles. NULL categories are excluded as out of contract.

    Physics: one map-side-combined corpus rollup to r×c cells;
    everything after runs on the cell relation (r×c rows — catalog-
    sized at any corpus volume). The fold list is r×c long; at 100 TB
    nothing changes.
    """
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isNotNull()
        & F.col("o_orderstatus").isNotNull()
    )
    cells = o.groupBy(
        F.col("o_orderpriority").alias("prio"),
        F.col("o_orderstatus").alias("status"),
    ).agg(F.count(F.lit(1)).alias("n_obs"))
    m = cells.select(
        "prio",
        "status",
        "n_obs",
        F.sum("n_obs").over(Window.partitionBy("prio")).alias("r_tot"),
        F.sum("n_obs").over(Window.partitionBy("status")).alias("c_tot"),
        F.sum("n_obs").over(Window.partitionBy()).alias("n"),
    )
    e = (
        F.col("r_tot").cast("double")
        * F.col("c_tot").cast("double")
        / F.col("n").cast("double")
    )
    g = (F.col("n_obs").cast("double") - e) * (
        F.col("n_obs").cast("double") - e
    ) / e
    contrib = m.select("prio", "status", "n", g.alias("g"))
    folded = contrib.agg(
        F.max("n").alias("n"),
        F.countDistinct("prio").alias("n_prio"),
        F.countDistinct("status").alias("n_status"),
        F.expr(
            "aggregate(transform(sort_array(collect_list("
            "struct(prio, status, g))), s -> s.g), CAST(0 AS DOUBLE), "
            "(acc, x) -> acc + x)"
        ).alias("chi2"),
    )
    return folded.select(
        F.col("n").cast("long").alias("n"),
        F.col("n_prio").cast("int").alias("n_prio"),
        F.col("n_status").cast("int").alias("n_status"),
        ((F.col("n_prio") - 1) * (F.col("n_status") - 1))
        .cast("int")
        .alias("dof"),
        "chi2",
        # try_divide: a 1×c or r×1 table has min(r,c)−1 = 0 — V is
        # undefined (NULL), matching DuckDB's x/0 → NULL (degenerate-
        # fixture gate; ANSI division would abort instead).
        F.sqrt(
            F.try_divide(
                F.col("chi2"),
                F.col("n").cast("double")
                * (F.least("n_prio", "n_status") - 1).cast("double"),
            )
        ).alias("cramers_v"),
    )


# --- Spearman rank correlation -----------------------------------------

# One shared closed form (identical expression text on both engines):
# Pearson over DOUBLED average ranks. Doubling keeps tie-averaged ranks
# integral (avg rank of a tie run is rank + (t-1)/2, so 2r = 2*rank + t
# - 1 is exact BIGINT); rho is scale-invariant, so the factor 4 in
# covariance and both variances cancels.
_SPEARMAN_EXPR = (
    "round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " / NULLIF(sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    " * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
    " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), CAST(0 AS DOUBLE)), 9)"
)

_SPEARMAN_SQL = f"""
    WITH r AS (
      SELECT l_returnflag AS flag,
             2 * RANK() OVER (PARTITION BY l_returnflag
                              ORDER BY l_quantity)
               + COUNT(*) OVER (PARTITION BY l_returnflag, l_quantity)
               - 1 AS rx,
             2 * RANK() OVER (PARTITION BY l_returnflag
                              ORDER BY l_extendedprice)
               + COUNT(*) OVER (PARTITION BY l_returnflag, l_extendedprice)
               - 1 AS ry
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
    ),
    m AS (
      SELECT flag,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(rx) AS DECIMAL(38,0)) AS sx,
             CAST(SUM(ry) AS DECIMAL(38,0)) AS sy,
             CAST(SUM(rx * rx) AS DECIMAL(38,0)) AS sxx,
             CAST(SUM(ry * ry) AS DECIMAL(38,0)) AS syy,
             CAST(SUM(rx * ry) AS DECIMAL(38,0)) AS sxy
      FROM r GROUP BY 1
    )
    SELECT flag AS l_returnflag, n,
           {_SPEARMAN_EXPR} AS rho
    FROM m
"""


# spearman's window lane sorts each flag's FULL fact slice inside one
# task (parallelism = |flags| = 3). Above ``lanes`` "single_task_rows"
# (lineitem footer count, an upper bound per flag) the
# rank structure comes from per-(flag, value) ROLLUPS run through the
# two-level chunked prefix (`_rank_avg2_two_level` grouped by flag — no
# unpartitioned window anywhere) and joined back to the fact on
# (flag, value): the fact is never sorted, only shuffled on join keys,
# full parallelism. Tie-averaged ranks are a pure function of the
# per-value rollup, so both lanes return the same rows.


@register("spearman_corr", oracle=_SPEARMAN_SQL, tags=("reverify:r12",))
def spearman_corr(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Spearman rank correlation between quantity and extended price
    per return flag — the robust counterpart to `corr_matrix`'s Pearson
    (monotone association, insensitive to outliers and any monotone
    rescale of either axis): rank both variables within the group with
    AVERAGE ranks for ties, then Pearson over the ranks. The standard
    ordinal-association statistic a metrics layer runs on replicated
    fact data; the reference can only move the rows
    (`sync/QueryBuilder.java:46-75` — no aggregation surface at all).

    Exactness: doubled average ranks are exact BIGINTs (2r = 2*RANK() +
    tie_count - 1 — the `mann_whitney_u` device), every moment is an
    exact DECIMAL(38,0) ↔ HUGEINT sum, and both engines substitute the
    SAME closed-form text (`_SPEARMAN_EXPR`) over identical operands —
    one correctly-rounded double per moment, round-9 display. Doubling
    cancels: covariance and both variances scale by 4. NULL measures
    are out of contract on both sides (rank order of NULL differs by
    engine).

    Physics: small lane, two
    within-group sort windows over the fact (rank by x, rank by y —
    one exchange on the group key, two in-partition sorts), then one
    map-side-combined moment rollup to |groups| rows. Scale lane: the
    rank structure comes from per-(flag, value) rollups through the
    flag-grouped two-level chunked prefix, joined back to the fact on
    (flag, value) — the fact is never sorted inside a task (see the
    comment above). Both lanes feed the identical moment rollup.
    The further documented swap is approximate ranks from the GK
    sketch lane (`agg_approx_percentile`) feeding the same closed
    form — rank-interval contract instead of exact ranks.
    """
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity").isNotNull() & F.col("l_extendedprice").isNotNull()
    )
    if lanes.exceeds("single_task_rows", table_rowcount(sf_dir, "lineitem")):
        li2 = li.select(
            "l_returnflag",
            F.col("l_quantity").alias("q"),
            F.col("l_extendedprice").alias("p"),
        )

        def rank_rel(col: str, out: str) -> DataFrame:
            rel = li2.groupBy(
                "l_returnflag", F.col(col).alias("value")
            ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
            rel = _rank_avg2_two_level(
                rel, passengers=["value"], group_cols=("l_returnflag",)
            )
            return rel.select(
                "l_returnflag",
                F.col("value").alias(col),
                F.col("avg2").alias(out),
            )

        ranked = (
            li2.join(rank_rel("q", "rx2"), ["l_returnflag", "q"])
            .join(rank_rel("p", "ry2"), ["l_returnflag", "p"])
            .select(
                "l_returnflag",
                F.col("rx2").cast("decimal(18,0)").alias("rx"),
                F.col("ry2").cast("decimal(18,0)").alias("ry"),
            )
        )
        m = ranked.groupBy("l_returnflag").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("rx").cast("decimal(38,0)").alias("sx"),
            F.sum("ry").cast("decimal(38,0)").alias("sy"),
            F.sum(F.col("rx") * F.col("rx")).cast("decimal(38,0)").alias("sxx"),
            F.sum(F.col("ry") * F.col("ry")).cast("decimal(38,0)").alias("syy"),
            F.sum(F.col("rx") * F.col("ry")).cast("decimal(38,0)").alias("sxy"),
        )
        return m.select(
            "l_returnflag", "n", F.expr(_SPEARMAN_EXPR).alias("rho")
        )
    wq = Window.partitionBy("l_returnflag").orderBy("l_quantity")
    wqt = Window.partitionBy("l_returnflag", "l_quantity")
    wp = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
    wpt = Window.partitionBy("l_returnflag", "l_extendedprice")
    ranked = li.select(
        F.col("l_returnflag"),
        (2 * F.rank().over(wq) + F.count(F.lit(1)).over(wqt) - 1)
        .cast("decimal(18,0)")
        .alias("rx"),
        (2 * F.rank().over(wp) + F.count(F.lit(1)).over(wpt) - 1)
        .cast("decimal(18,0)")
        .alias("ry"),
    )
    m = ranked.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("rx").cast("decimal(38,0)").alias("sx"),
        F.sum("ry").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("rx") * F.col("rx")).cast("decimal(38,0)").alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).cast("decimal(38,0)").alias("syy"),
        F.sum(F.col("rx") * F.col("ry")).cast("decimal(38,0)").alias("sxy"),
    )
    return m.select(
        "l_returnflag", "n", F.expr(_SPEARMAN_EXPR).alias("rho")
    )


# --- Mann-Whitney U (Wilcoxon rank-sum) ---------------------------------

MWU_GROUP1 = "click"
MWU_GROUP2 = "purchase"

# Tie-corrected normal approximation, one closed form over exact
# integer inputs (u2 = 2*U1, ties = sum of t^3 - t over tie groups).
# Operands are the INTERNAL decimal-lane names (u2d / tiesd) — the
# display columns are BIGINT casts of those lanes, and referencing the
# display aliases from the same SELECT would lean on lateral-alias
# resolution, which the two engines disambiguate differently when a
# display alias shadows an input column (the r11 decimal-display class).
_MWU_Z_EXPR = (
    "round((CAST(u2d AS DOUBLE) / 2"
    " - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 2)"
    " / NULLIF(sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12"
    " * (CAST(n1 + n2 + 1 AS DOUBLE)"
    " - CAST(tiesd AS DOUBLE)"
    " / (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 - 1 AS DOUBLE)))),"
    " CAST(0 AS DOUBLE)), 9)"
)

_MWU_SQL = f"""
    WITH v AS (
      SELECT value,
             CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(CASE WHEN event_type = '{MWU_GROUP1}'
                           THEN 1 ELSE 0 END) AS BIGINT) AS cnt1
      FROM events
      WHERE value IS NOT NULL
        AND event_type IN ('{MWU_GROUP1}', '{MWU_GROUP2}')
      GROUP BY 1
    ),
    w AS (
      SELECT cnt, cnt1,
             2 * SUM(cnt) OVER (ORDER BY value) - cnt + 1 AS avg2
      FROM v
    ),
    m AS (
      SELECT CAST(SUM(cnt1) AS BIGINT) AS n1,
             CAST(SUM(cnt - cnt1) AS BIGINT) AS n2,
             CAST(SUM(cnt1 * avg2) AS DECIMAL(38,0)) AS r2_1,
             CAST(SUM(CASE WHEN cnt > 1 THEN cnt * cnt * cnt - cnt
                           ELSE 0 END) AS DECIMAL(38,0)) AS tiesd
      FROM w
    ),
    m2 AS (
      SELECT n1, n2, tiesd,
             CAST(r2_1 - CAST(n1 AS DECIMAL(38,0)) * (n1 + 1)
                  AS DECIMAL(38,0)) AS u2d
      FROM m
    )
    SELECT n1, n2,
           CAST(u2d AS BIGINT) AS u2,
           CAST(tiesd AS BIGINT) AS ties,
           {_MWU_Z_EXPR} AS z
    FROM m2
"""


# Value-range chunk width for the two-level rank prefix (VERDICT r11
# next #4): the rank family's cumulative structure used to ride ONE
# unpartitioned Window.orderBy("value") over the distinct-value rollup
# — Spark funnels that through a single task ("Moving all data to a
# single partition"), the bottleneck once |distinct values| grows with
# the corpus. floor(value / width) is monotone in value, so chunks are
# contiguous value ranges: (chunk ASC, value ASC) IS the global value
# order, chunk-local prefix sums shift to global ones by the chunk's
# incoming balance, and that balance is a prefix over the chunk
# AGGREGATES only (|chunks| rows — the `concurrency_peak` device).
RANK_CHUNK_WIDTH = 50.0


def _rank_avg2_two_level(
    v: DataFrame,
    passengers: list[str],
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Doubled average rank per distinct value, avg2 = 2*cum(cnt) - cnt
    + 1, computed TWO-LEVEL over the (value, cnt, *passengers) rollup
    (per group when ``group_cols`` is set — ranks restart per group):
    chunk-local running sums in parallel (window partitioned by
    group+chunk), then one prefix over the chunk-AGGREGATE relation
    broadcast back (|groups|x|chunks| rows; partitioned by the group
    when one exists, so the grouped form has NO unpartitioned window at
    all). Bit-identical to the ordered-window form (differential twin +
    hypothesis property in tests/test_units.py): floor is monotone, so
    the chunk-local order concatenated in chunk order is the global
    value order, and balance + local_cum is the inclusive cumulative
    count."""
    g = list(group_cols)
    chunked = v.withColumn(
        "chunk", F.floor(F.col("value") / RANK_CHUNK_WIDTH).cast("long")
    )
    w_local = (
        Window.partitionBy(*g, "chunk")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = chunked.select(
        *g,
        *passengers,
        "cnt",
        "chunk",
        F.sum("cnt").over(w_local).alias("lcum"),
    )
    totals = chunked.groupBy(*g, "chunk").agg(F.sum("cnt").alias("ctot"))
    w_prefix = (
        (Window.partitionBy(*g) if g else Window)
        .orderBy("chunk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bal = totals.select(
        *g,
        "chunk",
        F.coalesce(F.sum("ctot").over(w_prefix), F.lit(0)).alias("bal"),
    )
    return local.join(F.broadcast(bal), [*g, "chunk"]).select(
        *g,
        *passengers,
        "cnt",
        (2 * (F.col("bal") + F.col("lcum")) - F.col("cnt") + 1).alias("avg2"),
    )


@register("mann_whitney_u", oracle=_MWU_SQL)
def mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) two-sample test: do 'click'
    and 'purchase' events (``MWU_GROUP1``/``MWU_GROUP2``) draw their
    `value` from the same distribution?
    The nonparametric counterpart to a t-test — the distribution-drift
    primitive that needs no binning (`drift_psi`/`drift_ks` bin or
    step; this ranks) — over pooled average ranks: U1 = R1 -
    n1(n1+1)/2 with the tie-corrected normal approximation.

    Exactness: ranks are NEVER materialized per row — the pooled rank
    structure is fully determined by the per-value rollup (cnt, cnt1),
    and the doubled average rank of every occurrence of a value is
    avg2 = 2*cum(cnt) - cnt + 1, an exact BIGINT off the two-level
    chunked prefix over the DISTINCT-value relation (bit-identical to
    the ordered-window form — differential twin). Rank sums and the
    tie term sum(t^3 - t) accumulate in DECIMAL(38,0) ↔ HUGEINT
    INTERNALLY; the DISPLAY columns u2 = 2*U1 and ties are BIGINT
    casts (u2 stays integral — avg ranks are half-integral; both fit
    at any driver fixture scale, and the decimal lane keeps the sums
    exact on the way there — the r11 decimal-display fix: no raw
    DECIMAL ever reaches the display schema). The z closed form is
    the same expression text on both engines, round-9. No continuity
    correction (documented; both engines identically).

    Physics: one map-side-combined rollup to |distinct values| rows,
    a chunk-partitioned window over that rollup plus a prefix over the
    |chunks|-row aggregates (no single-partition funnel — the
    `concurrency_peak` two-level device), one single-row fold. At
    100 TB the distinct-value relation is the honest footprint of an
    exact rank test; if values are near-unique the GK-sketch rank
    lane substitutes (documented swap, same closed form).
    """
    ev = load(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
        & F.col("event_type").isin(MWU_GROUP1, MWU_GROUP2)
    )
    v = ev.groupBy("value").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum(
            F.when(F.col("event_type") == MWU_GROUP1, 1).otherwise(0)
        ).cast("long").alias("cnt1"),
    )
    v = bounded_cache("mann_whitney_u.v", v)
    w = _rank_avg2_two_level(v, passengers=["cnt1"])
    m = w.agg(
        F.sum("cnt1").cast("long").alias("n1"),
        F.sum(F.col("cnt") - F.col("cnt1")).cast("long").alias("n2"),
        F.sum(F.col("cnt1").cast("decimal(18,0)") * F.col("avg2"))
        .cast("decimal(38,0)")
        .alias("r2_1"),
        F.sum(
            F.when(
                F.col("cnt") > 1,
                F.col("cnt").cast("decimal(18,0)")
                * F.col("cnt")
                * F.col("cnt")
                - F.col("cnt"),
            ).otherwise(F.lit(0).cast("decimal(18,0)"))
        )
        .cast("decimal(38,0)")
        .alias("tiesd"),
    )
    m2 = m.withColumn(
        "u2d",
        (
            F.col("r2_1")
            - F.col("n1").cast("decimal(38,0)") * (F.col("n1") + 1)
        ).cast("decimal(38,0)"),
    )
    return m2.select(
        "n1",
        "n2",
        F.col("u2d").cast("long").alias("u2"),
        F.col("tiesd").cast("long").alias("ties"),
        F.expr(_MWU_Z_EXPR).alias("z"),
    )


# --- One-way ANOVA ------------------------------------------------------

# Shared closed form over the folded doubles + exact integer totals.
_ANOVA_F_EXPR = (
    "round(((sb - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))"
    " / NULLIF(CAST(k - 1 AS DOUBLE), CAST(0 AS DOUBLE)))"
    " / NULLIF(ssw / NULLIF(CAST(n - k AS DOUBLE), CAST(0 AS DOUBLE)),"
    " CAST(0 AS DOUBLE)), 9)"
)
_ANOVA_SSB_EXPR = (
    "round(sb - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 9)"
)

_ANOVA_SQL = f"""
    WITH g AS (
      SELECT l_returnflag AS flag,
             CAST(COUNT(*) AS BIGINT) AS ng,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sg,
             CAST(SUM(CAST(l_quantity AS BIGINT)
                      * CAST(l_quantity AS BIGINT)) AS BIGINT) AS ssg
      FROM lineitem WHERE l_quantity IS NOT NULL
      GROUP BY 1
    ),
    contrib AS (
      SELECT flag, ng, sg,
             CAST(ssg AS DOUBLE)
               - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)
                 / CAST(ng AS DOUBLE) AS gssw,
             CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)
               / CAST(ng AS DOUBLE) AS gsb
      FROM g
    ),
    folded AS (
      SELECT CAST(SUM(ng) AS BIGINT) AS n,
             CAST(SUM(sg) AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS k,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
                                      list(gssw ORDER BY flag)),
                         (acc, x) -> acc + x) AS ssw,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
                                      list(gsb ORDER BY flag)),
                         (acc, x) -> acc + x) AS sb
      FROM contrib
    )
    SELECT n, CAST(k AS INT) AS k,
           {_ANOVA_SSB_EXPR} AS ssb,
           round(ssw, 9) AS ssw,
           {_ANOVA_F_EXPR} AS f_stat
    FROM folded
"""


@register("anova_oneway", oracle=_ANOVA_SQL)
def anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F test: does mean quantity differ across return
    flags? The k-group generalization `mann_whitney_u` (2 groups,
    ranks) and `chi2_independence` (categorical×categorical) leave
    open: F = (SSB/(k−1)) / (SSW/(N−k)) over the between/within
    sum-of-squares decomposition — the variance-explained screen for
    a numeric measure against a categorical dimension.

    Exactness: quantities are integer-valued, so every group moment
    (n, Σx, Σx²) is an exact BIGINT; the per-group double
    contributions (Σx)²/n are folded in FLAG ORDER on both engines
    (HOF aggregate over the sorted group list ↔ list_reduce over
    list(... ORDER BY flag) — the `chi2_independence` device), and
    the F closed form is one shared expression text over identical
    operands, round-9. Degenerate k=1 / N=k inputs yield NULL via
    NULLIF on both sides.

    Physics: ONE map-side-combined rollup of the fact to k rows;
    everything after is k-row arithmetic. The fold list is k long.
    Scale-invariant by construction.
    """
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity").isNotNull()
    )
    q = F.col("l_quantity").cast("long")
    g = li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.count(F.lit(1)).cast("long").alias("ng"),
        F.sum(q).cast("long").alias("sg"),
        F.sum(q * q).cast("long").alias("ssg"),
    )
    contrib = g.select(
        "flag",
        "ng",
        "sg",
        (
            F.col("ssg").cast("double")
            - F.col("sg").cast("double")
            * F.col("sg").cast("double")
            / F.col("ng").cast("double")
        ).alias("gssw"),
        (
            F.col("sg").cast("double")
            * F.col("sg").cast("double")
            / F.col("ng").cast("double")
        ).alias("gsb"),
    )
    folded = contrib.agg(
        F.sum("ng").cast("long").alias("n"),
        F.sum("sg").cast("long").alias("s"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.expr(
            "aggregate(transform(sort_array(collect_list("
            "struct(flag, gssw))), x -> x.gssw), CAST(0 AS DOUBLE), "
            "(acc, x) -> acc + x)"
        ).alias("ssw"),
        F.expr(
            "aggregate(transform(sort_array(collect_list("
            "struct(flag, gsb))), x -> x.gsb), CAST(0 AS DOUBLE), "
            "(acc, x) -> acc + x)"
        ).alias("sb"),
    )
    return folded.select(
        "n",
        F.col("k").cast("int").alias("k"),
        F.expr(_ANOVA_SSB_EXPR).alias("ssb"),
        F.round(F.col("ssw"), 9).alias("ssw"),
        F.expr(_ANOVA_F_EXPR).alias("f_stat"),
    )


# --- Higher moments (skewness / excess kurtosis) -------------------------

_MOMENT_EXPRS = {
    # central moments from exact raw power sums; one shared text each
    "mean": "CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)",
}
_MOMENT_EXPRS["m2"] = (
    f"(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)"
    f" - ({_MOMENT_EXPRS['mean']}) * ({_MOMENT_EXPRS['mean']}))"
)
_MOMENT_EXPRS["m3"] = (
    f"(CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)"
    f" - 3 * ({_MOMENT_EXPRS['mean']}) * CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)"
    f" + 2 * ({_MOMENT_EXPRS['mean']}) * ({_MOMENT_EXPRS['mean']})"
    f" * ({_MOMENT_EXPRS['mean']}))"
)
_MOMENT_EXPRS["m4"] = (
    f"(CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE)"
    f" - 4 * ({_MOMENT_EXPRS['mean']}) * CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)"
    f" + 6 * ({_MOMENT_EXPRS['mean']}) * ({_MOMENT_EXPRS['mean']})"
    f" * CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)"
    f" - 3 * ({_MOMENT_EXPRS['mean']}) * ({_MOMENT_EXPRS['mean']})"
    f" * ({_MOMENT_EXPRS['mean']}) * ({_MOMENT_EXPRS['mean']}))"
)
_SKEW_EXPR = (
    f"round(({_MOMENT_EXPRS['m3']})"
    f" / NULLIF(sqrt(({_MOMENT_EXPRS['m2']}) * ({_MOMENT_EXPRS['m2']})"
    f" * ({_MOMENT_EXPRS['m2']})), CAST(0 AS DOUBLE)), 9)"
)
_KURT_EXPR = (
    f"round(({_MOMENT_EXPRS['m4']})"
    f" / NULLIF(({_MOMENT_EXPRS['m2']}) * ({_MOMENT_EXPRS['m2']}),"
    f" CAST(0 AS DOUBLE)) - 3, 9)"
)

_HIGHER_MOMENTS_SQL = f"""
    WITH g AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(q) AS BIGINT) AS s1,
             CAST(SUM(q * q) AS BIGINT) AS s2,
             CAST(SUM(q * q * q) AS BIGINT) AS s3,
             CAST(SUM(q * q * q * q) AS BIGINT) AS s4
      FROM (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q
            FROM lineitem WHERE l_quantity IS NOT NULL)
      GROUP BY 1
    )
    SELECT l_returnflag, n,
           {_SKEW_EXPR} AS skewness,
           {_KURT_EXPR} AS kurtosis_excess
    FROM g
"""


@register("higher_moments", oracle=_HIGHER_MOMENTS_SQL)
def higher_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population skewness and excess kurtosis of quantity per return
    flag — the shape diagnostics `agg_stats` (mean/stddev) stops short
    of: g1 = m3/m2^1.5 (asymmetry) and g2 = m4/m2² − 3 (tail weight vs
    normal), from central moments expanded over RAW power sums.

    Exactness: quantities are integer-valued, so Σx..Σx⁴ are exact
    BIGINTs (x⁴ ≤ 6.25e6; the sums stay under 2⁶³ past 10⁹ rows per
    group — the DECIMAL(38,0) swap is a one-line change); each
    central moment is ONE shared closed-form text over the exact sums
    (the same operands in the same IEEE order on both engines),
    round-9 display; zero-variance groups yield NULL via NULLIF.

    Physics: one map-side-combined rollup to |groups| rows; the power
    expressions run inside the partial aggregate (whole-stage
    codegen). Nothing downstream is corpus-sized.
    """
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity").isNotNull()
    )
    q = F.col("l_quantity").cast("long")
    g = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(q).cast("long").alias("s1"),
        F.sum(q * q).cast("long").alias("s2"),
        F.sum(q * q * q).cast("long").alias("s3"),
        F.sum(q * q * q * q).cast("long").alias("s4"),
    )
    return g.select(
        "l_returnflag",
        "n",
        F.expr(_SKEW_EXPR).alias("skewness"),
        F.expr(_KURT_EXPR).alias("kurtosis_excess"),
    )


# --- Kruskal-Wallis H test ------------------------------------------------

# Per-group double term (R_g^2 / n_g with doubled rank sums: R2^2/(4 ng));
# ONE shared expression text so both engines produce the identical double
# before the group-ordered fold.
_KW_TERM_EXPR = (
    "CAST(r2 AS DOUBLE) * CAST(r2 AS DOUBLE) / (4 * CAST(ng AS DOUBLE))"
)
# H = 12/(N(N+1)) * sum_g R_g^2/n_g - 3(N+1); tie-corrected H divides by
# (1 - sum(t^3 - t)/(N^3 - N)).  N^3 runs in doubles (shared text) so the
# closed form never overflows an integer lane at any corpus size.
_KW_H_RAW = (
    "12 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1)) * srr"
    " - 3 * (CAST(n AS DOUBLE) + 1)"
)
_KW_H_EXPR = f"round({_KW_H_RAW}, 9)"
# tiesd is the INTERNAL decimal lane; the display `ties` is its BIGINT
# cast (same no-shadowing discipline as _MWU_Z_EXPR).
_KW_HTIE_EXPR = (
    f"round(({_KW_H_RAW}) / NULLIF(1 - CAST(tiesd AS DOUBLE)"
    " / NULLIF(CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)"
    " - CAST(n AS DOUBLE), CAST(0 AS DOUBLE)), CAST(0 AS DOUBLE)), 9)"
)

_KW_SQL = f"""
    WITH v AS (
      SELECT value, event_type, CAST(COUNT(*) AS BIGINT) AS cg
      FROM events
      WHERE value IS NOT NULL AND event_type IS NOT NULL
      GROUP BY 1, 2
    ),
    d AS (
      SELECT value, CAST(SUM(cg) AS BIGINT) AS cnt FROM v GROUP BY 1
    ),
    w AS (
      SELECT value, cnt,
             2 * SUM(cnt) OVER (ORDER BY value) - cnt + 1 AS avg2
      FROM d
    ),
    g AS (
      SELECT v.event_type,
             CAST(SUM(v.cg) AS BIGINT) AS ng,
             CAST(SUM(v.cg * w.avg2) AS DECIMAL(38,0)) AS r2
      FROM v JOIN w ON v.value = w.value
      GROUP BY 1
    ),
    t AS (
      SELECT CAST(SUM(CASE WHEN cnt > 1 THEN cnt * cnt * cnt - cnt
                           ELSE 0 END) AS DECIMAL(38,0)) AS tiesd
      FROM d
    ),
    folded AS (
      SELECT CAST(SUM(ng) AS BIGINT) AS n,
             CAST(COUNT(*) AS INT) AS k,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
                                      list({_KW_TERM_EXPR}
                                           ORDER BY event_type)),
                         (acc, x) -> acc + x) AS srr
      FROM g
    )
    SELECT n, k, CAST(t.tiesd AS BIGINT) AS ties,
           {_KW_H_EXPR} AS h_stat, {_KW_HTIE_EXPR} AS h_tie
    FROM folded, t
"""


@register("kruskal_wallis", oracle=_KW_SQL)
def kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H test: do the k event types draw `value` from
    the same distribution? The k-group generalization completing the
    test battery — `mann_whitney_u` (2 groups, ranks), `anova_oneway`
    (k groups, means), this (k groups, ranks): H = 12/(N(N+1)) *
    sum_g R_g^2/n_g - 3(N+1) over pooled average ranks, with the
    standard tie correction 1 - sum(t^3-t)/(N^3-N).

    Exactness: ranks are never materialized per row — the pooled
    doubled average rank of every occurrence of a value is avg2 =
    2*cum(cnt) - cnt + 1, an exact BIGINT off the two-level chunked
    prefix over the DISTINCT-value relation (the `mann_whitney_u`
    device, differential-twinned against the ordered-window form), and
    the per-group doubled rank sums R2_g = sum cg*avg2 accumulate in
    DECIMAL(38,0) INTERNALLY (doubling cancels: R_g^2/n_g =
    R2_g^2/(4 n_g)); the DISPLAY `ties` column is a BIGINT cast of
    that lane (the r11 decimal-display fix — no raw DECIMAL reaches
    the display schema). The per-group double terms share ONE
    expression text and fold in EVENT-TYPE ORDER on both engines (the
    `anova_oneway` device); the H closed forms are shared text over
    identical operands, round-9. Degenerate all-tied input: the
    correction divisor hits 0 and h_tie is NULL via NULLIF on both
    sides.

    Physics: one map-side-combined (value, type) rollup, a
    |distinct-value|-sized re-rollup + chunk-partitioned window with a
    |chunks|-row prefix (no single-partition funnel — the
    `concurrency_peak` two-level device), one value-keyed join of the
    two catalog-sized relations, a k-row fold. At 100 TB the
    distinct-value relation is the honest footprint of an exact rank
    test; the GK-sketch rank lane substitutes if values are
    near-unique (documented swap, same closed form).
    """
    ev = load(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("event_type").isNotNull()
    )
    v = ev.groupBy("value", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("cg")
    )
    v = bounded_cache("kruskal_wallis.v", v)
    d = v.groupBy("value").agg(F.sum("cg").cast("long").alias("cnt"))
    d = bounded_cache("kruskal_wallis.d", d)
    w = _rank_avg2_two_level(d, passengers=["value"]).withColumnRenamed(
        "value", "w_value"
    )
    g = (
        v.join(w, F.col("value") == F.col("w_value"))
        .groupBy("event_type")
        .agg(
            F.sum("cg").cast("long").alias("ng"),
            F.sum(F.col("cg").cast("decimal(18,0)") * F.col("avg2"))
            .cast("decimal(38,0)")
            .alias("r2"),
        )
    )
    ties = d.agg(
        F.sum(
            F.when(
                F.col("cnt") > 1,
                F.col("cnt").cast("decimal(18,0)")
                * F.col("cnt")
                * F.col("cnt")
                - F.col("cnt"),
            ).otherwise(F.lit(0).cast("decimal(18,0)"))
        )
        .cast("decimal(38,0)")
        .alias("tiesd")
    )
    folded = g.select(
        "event_type", "ng", "r2", F.expr(_KW_TERM_EXPR).alias("term")
    ).agg(
        F.sum("ng").cast("long").alias("n"),
        F.count(F.lit(1)).cast("int").alias("k"),
        F.expr(
            "aggregate(transform(sort_array(collect_list("
            "struct(event_type, term))), x -> x.term), CAST(0 AS DOUBLE), "
            "(acc, x) -> acc + x)"
        ).alias("srr"),
    )
    return folded.crossJoin(ties).select(
        "n",
        "k",
        F.col("tiesd").cast("long").alias("ties"),
        F.expr(_KW_H_EXPR).alias("h_stat"),
        F.expr(_KW_HTIE_EXPR).alias("h_tie"),
    )


# --- Jarque-Bera normality test -------------------------------------------

# JB = n/6 * (g1^2 + g2^2/4) composed from the SAME central-moment
# texts as higher_moments (one shared expression, zero-variance groups
# NULL via NULLIF).
_JB_EXPR = (
    f"round(CAST(n AS DOUBLE) / 6 * ("
    f"({_MOMENT_EXPRS['m3']}) * ({_MOMENT_EXPRS['m3']})"
    f" / NULLIF(({_MOMENT_EXPRS['m2']}) * ({_MOMENT_EXPRS['m2']})"
    f" * ({_MOMENT_EXPRS['m2']}), CAST(0 AS DOUBLE))"
    f" + (({_MOMENT_EXPRS['m4']}) / NULLIF(({_MOMENT_EXPRS['m2']})"
    f" * ({_MOMENT_EXPRS['m2']}), CAST(0 AS DOUBLE)) - 3)"
    f" * (({_MOMENT_EXPRS['m4']}) / NULLIF(({_MOMENT_EXPRS['m2']})"
    f" * ({_MOMENT_EXPRS['m2']}), CAST(0 AS DOUBLE)) - 3) / 4), 9)"
)

_JB_SQL = f"""
    WITH g AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(q) AS BIGINT) AS s1,
             CAST(SUM(q * q) AS BIGINT) AS s2,
             CAST(SUM(q * q * q) AS BIGINT) AS s3,
             CAST(SUM(q * q * q * q) AS BIGINT) AS s4
      FROM (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q
            FROM lineitem WHERE l_quantity IS NOT NULL)
      GROUP BY 1
    )
    SELECT l_returnflag, n,
           {_SKEW_EXPR} AS skewness,
           {_KURT_EXPR} AS kurtosis_excess,
           {_JB_EXPR} AS jb_stat
    FROM g
"""


@register("jarque_bera", oracle=_JB_SQL)
def jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality test per return flag: JB = n/6 *
    (skew² + kurt²/4) — turns `higher_moments`' shape DIAGNOSTICS
    into a TEST STATISTIC (χ²₂ under normality; JB >> 6 rejects),
    the screen that decides whether the parametric lanes
    (`anomaly_zscore`, `grubbs_outlier`, `anova_oneway`) are even
    applicable to a measure.

    Exactness: identical exact BIGINT power-sum rollup as
    `higher_moments`; skewness, kurtosis and JB are each ONE shared
    closed-form text over the same sums (the m2/m3/m4 sub-expressions
    are literally the same strings), round-9; zero-variance groups
    yield NULL via NULLIF in every lane.

    Physics: one map-side-combined rollup to |groups| rows — the
    power expressions run inside the partial aggregate. Nothing
    downstream is corpus-sized.
    """
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity").isNotNull()
    )
    q = F.col("l_quantity").cast("long")
    g = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(q).cast("long").alias("s1"),
        F.sum(q * q).cast("long").alias("s2"),
        F.sum(q * q * q).cast("long").alias("s3"),
        F.sum(q * q * q * q).cast("long").alias("s4"),
    )
    return g.select(
        "l_returnflag",
        "n",
        F.expr(_SKEW_EXPR).alias("skewness"),
        F.expr(_KURT_EXPR).alias("kurtosis_excess"),
        F.expr(_JB_EXPR).alias("jb_stat"),
    )


# --- Levene / Brown-Forsythe variance-homogeneity test --------------------

QUANTITY_CHUNK_WIDTH = 5.0  # l_quantity spans [1, 50] integers

# The ANOVA machinery applied to DOUBLED absolute deviations from the
# group MEDIAN: with integer-valued x and a median landing on x.0/x.5,
# z2 = |2x - 2*med| is an exact BIGINT per row, and the F statistic is
# invariant under the doubling (SSB and SSW both scale by 4).
_LEVENE_Z2 = (
    "abs(2 * CAST(l_quantity AS BIGINT) - CAST(2 * md AS BIGINT))"
)

_LEVENE_SQL = f"""
    WITH med AS (
      SELECT l_returnflag AS flag, quantile_cont(l_quantity, 0.5) AS md
      FROM lineitem WHERE l_quantity IS NOT NULL
      GROUP BY 1
    ),
    z AS (
      SELECT l.l_returnflag AS flag, {_LEVENE_Z2} AS z2
      FROM lineitem l JOIN med m ON l.l_returnflag = m.flag
      WHERE l.l_quantity IS NOT NULL
    ),
    g AS (
      SELECT flag,
             CAST(COUNT(*) AS BIGINT) AS ng,
             CAST(SUM(z2) AS BIGINT) AS sg,
             CAST(SUM(z2 * z2) AS BIGINT) AS ssg
      FROM z GROUP BY 1
    ),
    contrib AS (
      SELECT flag, ng, sg,
             CAST(ssg AS DOUBLE)
               - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)
                 / CAST(ng AS DOUBLE) AS gssw,
             CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)
               / CAST(ng AS DOUBLE) AS gsb
      FROM g
    ),
    folded AS (
      SELECT CAST(SUM(ng) AS BIGINT) AS n,
             CAST(SUM(sg) AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS k,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
                                      list(gssw ORDER BY flag)),
                         (acc, x) -> acc + x) AS ssw,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
                                      list(gsb ORDER BY flag)),
                         (acc, x) -> acc + x) AS sb
      FROM contrib
    )
    SELECT n, CAST(k AS INT) AS k, {_ANOVA_F_EXPR} AS w_stat
    FROM folded
"""


@register("levene_test", oracle=_LEVENE_SQL, tags=("reverify:r13",))
def levene_test(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Levene's variance-homogeneity test (Brown-Forsythe variant:
    deviations from the group MEDIAN, the robust recommendation) —
    does the SPREAD of quantity differ across return flags? The
    missing prerequisite check for `anova_oneway` (whose F assumes
    equal variances) and the scale-shift companion to the
    location-shift tests (`mann_whitney_u`, `kruskal_wallis`):
    W = one-way ANOVA F computed on z_ij = |x_ij − med_j|.

    Exactness: quantities are integer-valued and the exact median of
    integers lands on x.0 or x.5 (the `runs_test` device), so the
    DOUBLED deviations z2 = |2x − 2·med| are exact BIGINTs per row
    and every group moment (n, Σz2, Σz2²) is exact; W is invariant
    under the doubling (numerator and denominator both scale by 4).
    The per-group double contributions fold in FLAG ORDER on both
    engines and W is the SAME closed-form text as `anova_oneway` over
    identical operands, round-9. Degenerate k=1 / N=k: NULL via
    NULLIF.

    Physics: the per-group median relation broadcast back over ONE
    deviation pass (the `iqr_fences` shape), then k-row arithmetic.
    Small lane (``lanes`` "single_task_rows", lineitem footer count):
    the median is Spark's built-in exact Percentile. Scale lane:
    ``ranks.group_quantiles_cont`` — the per-(flag, quantity) rollup
    through the flag-grouped two-level cumulative counts with
    Percentile's own interpolation as a closed form. The GK sketch
    stays the documented lane when even the rollup is too hot
    (quantities here are 50 distinct integers — the rollup IS
    vocabulary-sized).
    """
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity").isNotNull()
    )
    if lanes.exceeds("single_task_rows", table_rowcount(sf_dir, "lineitem")):
        from cpt_database_sync_spark.operators.ranks import (  # noqa: PLC0415
            group_quantiles_cont,
        )

        med = group_quantiles_cont(
            li.select(
                "l_returnflag", F.col("l_quantity").cast("double").alias("q")
            ),
            ["l_returnflag"],
            "q",
            {"md": 0.5},
            chunk_width=QUANTITY_CHUNK_WIDTH,
        ).select(F.col("l_returnflag").alias("flag"), "md")
    else:
        med = li.groupBy(F.col("l_returnflag").alias("flag")).agg(
            F.percentile("l_quantity", 0.5).alias("md")
        )
    z = li.join(
        F.broadcast(med), F.col("l_returnflag") == F.col("flag")
    ).select("flag", F.expr(_LEVENE_Z2).alias("z2"))
    g = z.groupBy("flag").agg(
        F.count(F.lit(1)).cast("long").alias("ng"),
        F.sum("z2").cast("long").alias("sg"),
        F.sum(F.col("z2") * F.col("z2")).cast("long").alias("ssg"),
    )
    contrib = g.select(
        "flag",
        "ng",
        "sg",
        (
            F.col("ssg").cast("double")
            - F.col("sg").cast("double")
            * F.col("sg").cast("double")
            / F.col("ng").cast("double")
        ).alias("gssw"),
        (
            F.col("sg").cast("double")
            * F.col("sg").cast("double")
            / F.col("ng").cast("double")
        ).alias("gsb"),
    )
    folded = contrib.agg(
        F.sum("ng").cast("long").alias("n"),
        F.sum("sg").cast("long").alias("s"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.expr(
            "aggregate(transform(sort_array(collect_list("
            "struct(flag, gssw))), x -> x.gssw), CAST(0 AS DOUBLE), "
            "(acc, x) -> acc + x)"
        ).alias("ssw"),
        F.expr(
            "aggregate(transform(sort_array(collect_list("
            "struct(flag, gsb))), x -> x.gsb), CAST(0 AS DOUBLE), "
            "(acc, x) -> acc + x)"
        ).alias("sb"),
    )
    return folded.select(
        "n",
        F.col("k").cast("int").alias("k"),
        F.expr(_ANOVA_F_EXPR).alias("w_stat"),
    )


# --- Friedman test ----------------------------------------------------------

# Doubled tie-averaged within-block ranks keep everything integral
# (the mann_whitney_u device); sum R_j^2 = sum R2_j^2 / 4 folds the
# doubling into the closed form.
_FRIEDMAN_Q_EXPR = (
    "round(12 / NULLIF(CAST(n AS DOUBLE) * k * (k + 1), CAST(0 AS DOUBLE))"
    " * (CAST(sr2 AS DOUBLE) / 4) - 3 * CAST(n AS DOUBLE) * (k + 1), 9)"
)

_FRIEDMAN_SQL = f"""
    WITH daily AS (
      SELECT event_type,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS dn,
             CAST(count(*) AS BIGINT) AS c
      FROM events
      WHERE ts IS NOT NULL AND event_type IS NOT NULL
      GROUP BY 1, 2
    ),
    kk AS (
      SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) AS k FROM daily
    ),
    complete AS (
      SELECT dn FROM daily, kk GROUP BY dn, k HAVING COUNT(*) = MAX(k)
    ),
    ranked AS (
      SELECT d.event_type, d.dn,
             2 * RANK() OVER (PARTITION BY d.dn ORDER BY d.c)
               + COUNT(*) OVER (PARTITION BY d.dn, d.c) - 1 AS r2
      FROM daily d JOIN complete USING (dn)
    ),
    sums AS (
      SELECT event_type,
             CAST(SUM(r2) AS BIGINT) AS r2_sum,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM ranked GROUP BY 1
    ),
    folded AS (
      SELECT CAST(MAX(n) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(CAST(r2_sum AS DECIMAL(38,0)) * r2_sum)
                  AS DECIMAL(38,0)) AS sr2
      FROM sums
    )
    SELECT n AS n_blocks, CAST(k AS INT) AS k, {_FRIEDMAN_Q_EXPR} AS q_stat
    FROM folded
"""


@register("friedman_test", oracle=_FRIEDMAN_SQL)
def friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman test over (day blocks × event-type treatments): rank
    the k event types WITHIN each complete day by volume, then test
    whether the rank sums differ — the REPEATED-MEASURES companion to
    `kruskal_wallis` (which pools; this blocks out the shared daily
    level, so a type that is consistently #1 on both quiet and busy
    days is detected even when pooled volumes overlap). Only days
    observing all k types qualify as blocks (the balanced-design
    requirement; partial days drop, documented).

    Exactness: within-block tie-averaged DOUBLED ranks are exact
    BIGINTs (2r = 2·RANK + tie_count − 1, the `mann_whitney_u`
    device — tie-averaging makes the within-tie order irrelevant, so
    no tie-break column is needed); per-type rank sums and Σ R2_j²
    accumulate in BIGINT/DECIMAL(38,0) (integer sums are order-free —
    no fold device needed); Q folds the doubling as Σ R2²/4 in one
    shared closed-form text, round-9; zero complete blocks → NULL via
    NULLIF.

    Physics: one map-side-combined daily rollup, a |days|-row
    complete-block filter, one day-keyed rank window over the
    calendar-sized relation, a k-row rollup. Nothing after the first
    rollup is corpus-sized.
    """
    ev = load(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    dn = F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
    daily = ev.groupBy("event_type", dn.alias("dn")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    daily = bounded_cache("friedman.daily", daily)
    kk = daily.agg(F.countDistinct("event_type").cast("long").alias("k"))
    complete = (
        daily.crossJoin(F.broadcast(kk))
        .groupBy("dn", "k")
        .agg(F.count(F.lit(1)).alias("types_present"))
        .filter(F.col("types_present") == F.col("k"))
        .select("dn")
    )
    wr = Window.partitionBy("dn").orderBy("c")
    wt = Window.partitionBy("dn", "c")
    ranked = daily.join(F.broadcast(complete), "dn").select(
        "event_type",
        (2 * F.rank().over(wr) + F.count(F.lit(1)).over(wt) - 1).alias("r2"),
    )
    sums = ranked.groupBy("event_type").agg(
        F.sum("r2").cast("long").alias("r2_sum"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    folded = sums.agg(
        F.max("n").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum(F.col("r2_sum").cast("decimal(38,0)") * F.col("r2_sum"))
        .cast("decimal(38,0)")
        .alias("sr2"),
    )
    return folded.select(
        F.col("n").alias("n_blocks"),
        F.col("k").cast("int").alias("k"),
        F.expr(_FRIEDMAN_Q_EXPR).alias("q_stat"),
    )


# --- McNemar paired-proportions test -----------------------------------------

# Plain (uncorrected) McNemar: chi2 = (b - c)^2 / (b + c) over the two
# discordant cells; b + c = 0 (no discordant pairs) -> NULL via NULLIF
# on both engines. No continuity correction (documented; identically).
_MCNEMAR_EXPR = (
    "round((CAST(b AS DOUBLE) - CAST(c AS DOUBLE))"
    " * (CAST(b AS DOUBLE) - CAST(c AS DOUBLE))"
    " / NULLIF(CAST(b + c AS DOUBLE), CAST(0 AS DOUBLE)), 9)"
)

_MCNEMAR_SQL = f"""
    WITH u AS (
      SELECT user_id,
             MAX(CASE WHEN event_type = '{MWU_GROUP1}' THEN 1 ELSE 0 END)
               AS b1,
             MAX(CASE WHEN event_type = '{MWU_GROUP2}' THEN 1 ELSE 0 END)
               AS b2
      FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL
      GROUP BY 1
    ),
    cells AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(b1 * b2) AS BIGINT) AS a,
             CAST(SUM(b1 * (1 - b2)) AS BIGINT) AS b,
             CAST(SUM((1 - b1) * b2) AS BIGINT) AS c,
             CAST(SUM((1 - b1) * (1 - b2)) AS BIGINT) AS d
      FROM u
    )
    SELECT n_users, a, b, c, d, {_MCNEMAR_EXPR} AS chi2_stat
    FROM cells
"""


@register("mcnemar_test", oracle=_MCNEMAR_SQL)
def mcnemar_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar test of marginal homogeneity for PAIRED BINARY outcomes:
    per user, "ever clicked" vs "ever purchased" — does the click rate
    differ from the purchase rate across the SAME users? Completes the
    paired corner of the battery: `sign_test` pairs numeric series,
    `mann_whitney_u` compares unpaired distributions, this pairs
    binary indicators (the A/B-exposure readout) using only the
    discordant cells b, c: chi2 = (b-c)^2/(b+c). The reference moves
    event rows without any test surface at all
    (`sync/QueryBuilder.java:46-75`).

    Exactness: the per-user indicator pair is ONE conditional rollup
    (MAX of 0/1 — no join); all five cells are exact BIGINTs off a
    second single-row rollup; the statistic is one shared closed-form
    text, round-9, with the no-discordant-pairs degenerate NULL via
    NULLIF on both engines.

    Physics: one map-side-combined user rollup (the only corpus-sized
    shuffle) and a single-row fold. Scale-invariant past the rollup.
    """
    ev = load(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    )
    u = ev.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == MWU_GROUP1, 1).otherwise(0)
        ).alias("b1"),
        F.max(
            F.when(F.col("event_type") == MWU_GROUP2, 1).otherwise(0)
        ).alias("b2"),
    )
    cells = u.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum(F.col("b1") * F.col("b2")).cast("long").alias("a"),
        F.sum(F.col("b1") * (1 - F.col("b2"))).cast("long").alias("b"),
        F.sum((1 - F.col("b1")) * F.col("b2")).cast("long").alias("c"),
        F.sum((1 - F.col("b1")) * (1 - F.col("b2"))).cast("long").alias("d"),
    )
    return cells.select(
        "n_users", "a", "b", "c", "d",
        F.expr(_MCNEMAR_EXPR).alias("chi2_stat"),
    )


# --- Cohen's kappa ----------------------------------------------------------

# Chance-corrected agreement over the SAME 2x2 indicator cells as
# mcnemar_test. Both the kappa numerator n(a+d) - pe_num and the
# denominator n^2 - pe_num are EXACT DECIMAL(38,0) integers (pe_num =
# (a+b)(a+c) + (c+d)(b+d) — row-margin x column-margin products); each
# display column is ONE terminal IEEE division of exact operands,
# round-9. Degenerates (n=0, or pe = 1 when one rater is constant and
# agreement is total) go NULL via NULLIF on both engines.
_KAPPA_PE_NUM = (
    "CAST(a + b AS DECIMAL(38,0)) * (a + c)"
    " + CAST(c + d AS DECIMAL(38,0)) * (b + d)"
)

_KAPPA_EXPRS = {
    "po": (
        "round(CAST(a + d AS DOUBLE)"
        " / NULLIF(CAST(n_users AS DOUBLE), CAST(0 AS DOUBLE)), 9)"
    ),
    "pe": (
        "round(CAST(pe_num AS DOUBLE)"
        " / NULLIF(CAST(CAST(n_users AS DECIMAL(38,0)) * n_users"
        " AS DOUBLE), CAST(0 AS DOUBLE)), 9)"
    ),
    "kappa": (
        "round(CAST(CAST(n_users AS DECIMAL(38,0)) * (a + d) - pe_num"
        " AS DOUBLE)"
        " / NULLIF(CAST(CAST(n_users AS DECIMAL(38,0)) * n_users - pe_num"
        " AS DOUBLE), CAST(0 AS DOUBLE)), 9)"
    ),
}

_KAPPA_SQL = f"""
    WITH u AS (
      SELECT user_id,
             MAX(CASE WHEN event_type = '{MWU_GROUP1}' THEN 1 ELSE 0 END)
               AS b1,
             MAX(CASE WHEN event_type = '{MWU_GROUP2}' THEN 1 ELSE 0 END)
               AS b2
      FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL
      GROUP BY 1
    ),
    cells AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(b1 * b2) AS BIGINT) AS a,
             CAST(SUM(b1 * (1 - b2)) AS BIGINT) AS b,
             CAST(SUM((1 - b1) * b2) AS BIGINT) AS c,
             CAST(SUM((1 - b1) * (1 - b2)) AS BIGINT) AS d
      FROM u
    ),
    withpe AS (SELECT *, {_KAPPA_PE_NUM} AS pe_num FROM cells)
    SELECT n_users, a, b, c, d,
           {_KAPPA_EXPRS['po']} AS po,
           {_KAPPA_EXPRS['pe']} AS pe,
           {_KAPPA_EXPRS['kappa']} AS kappa
    FROM withpe
"""


@register("cohens_kappa", oracle=_KAPPA_SQL)
def cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa chance-corrected agreement between the two
    per-user binary indicators mcnemar_test pairs ("ever clicked" vs
    "ever purchased"): po = (a+d)/n observed agreement, pe the
    agreement expected from the marginals alone, kappa =
    (po−pe)/(1−pe). The AGREEMENT-strength companion to the battery's
    difference tests — `mcnemar_test` asks "do the marginal rates
    differ", kappa asks "do the two behaviors co-occur beyond
    chance" (the inter-annotator-agreement statistic every labeling
    pipeline reports). The reference moves event rows with no test
    surface (`sync/QueryBuilder.java:46-75`).

    Exactness: cells are mcnemar_test's exact-BIGINT rollup verbatim;
    the kappa numerator n(a+d)−pe_num and denominator n²−pe_num are
    exact DECIMAL(38,0) (margin products never touch a double);
    po/pe/kappa are each ONE terminal IEEE division of exact operands
    — one shared closed-form text per column, round-9. Degenerates
    (no users; pe=1 — a constant rater with total agreement) NULL via
    NULLIF on both engines.

    Physics: one map-side-combined user rollup (the only corpus-sized
    shuffle — shared shape with mcnemar_test) and a single-row fold;
    scale-invariant past the rollup.
    """
    ev = load(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    )
    u = ev.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == MWU_GROUP1, 1).otherwise(0)
        ).alias("b1"),
        F.max(
            F.when(F.col("event_type") == MWU_GROUP2, 1).otherwise(0)
        ).alias("b2"),
    )
    cells = u.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum(F.col("b1") * F.col("b2")).cast("long").alias("a"),
        F.sum(F.col("b1") * (1 - F.col("b2"))).cast("long").alias("b"),
        F.sum((1 - F.col("b1")) * F.col("b2")).cast("long").alias("c"),
        F.sum((1 - F.col("b1")) * (1 - F.col("b2"))).cast("long").alias("d"),
    )
    withpe = cells.withColumn("pe_num", F.expr(_KAPPA_PE_NUM))
    return withpe.select(
        "n_users", "a", "b", "c", "d",
        F.expr(_KAPPA_EXPRS["po"]).alias("po"),
        F.expr(_KAPPA_EXPRS["pe"]).alias("pe"),
        F.expr(_KAPPA_EXPRS["kappa"]).alias("kappa"),
    )


# --- Theil's U (uncertainty coefficient) --------------------------------------

# Quantized-ln decimal device (entropy_profile): every ln is rounded to
# DECIMAL(15,9) BEFORE any sum or difference, so all entropy NUMERATORS
# are exact decimal arithmetic — N*q(ln N) - Sy, Sx - Sxy — and the only
# IEEE ops are the two terminal divisions. U is a ratio of exact
# decimals: one double division per display column.
_THEIL_QLN = "CAST(round(ln(CAST({c} AS DOUBLE)), 9) AS DECIMAL(15,9))"

_THEIL_U_EXPRS = {
    "h_prio": "round(CAST(hxd AS DOUBLE) / CAST(n AS DOUBLE), 9)",
    "h_status": "round(CAST(hyd AS DOUBLE) / CAST(n AS DOUBLE), 9)",
    "u_status_given_prio": (
        "round(CAST(hyd - (sx - sxy) AS DOUBLE)"
        " / NULLIF(CAST(hyd AS DOUBLE), CAST(0 AS DOUBLE)), 9)"
    ),
    "u_prio_given_status": (
        "round(CAST(hxd - (sy - sxy) AS DOUBLE)"
        " / NULLIF(CAST(hxd AS DOUBLE), CAST(0 AS DOUBLE)), 9)"
    ),
}

_THEIL_U_SQL = f"""
    WITH cells AS (
      SELECT o_orderpriority AS prio, o_orderstatus AS status,
             CAST(COUNT(*) AS BIGINT) AS c_xy
      FROM orders
      WHERE o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL
      GROUP BY 1, 2
    ),
    mx AS (SELECT prio, CAST(SUM(c_xy) AS BIGINT) AS c_x
           FROM cells GROUP BY 1),
    my AS (SELECT status, CAST(SUM(c_xy) AS BIGINT) AS c_y
           FROM cells GROUP BY 1),
    s AS (
      SELECT
        (SELECT CAST(SUM(c_xy) AS BIGINT) FROM cells) AS n,
        (SELECT CAST(SUM(c_xy * {_THEIL_QLN.format(c='c_xy')})
                     AS DECIMAL(38,9)) FROM cells) AS sxy,
        (SELECT CAST(SUM(c_x * {_THEIL_QLN.format(c='c_x')})
                     AS DECIMAL(38,9)) FROM mx) AS sx,
        (SELECT CAST(SUM(c_y * {_THEIL_QLN.format(c='c_y')})
                     AS DECIMAL(38,9)) FROM my) AS sy
    ),
    hd AS (
      SELECT n, sx, sy, sxy,
             CAST(n * {_THEIL_QLN.format(c='n')} - sx AS DECIMAL(38,9))
               AS hxd,
             CAST(n * {_THEIL_QLN.format(c='n')} - sy AS DECIMAL(38,9))
               AS hyd
      FROM s
    )
    SELECT n,
           {_THEIL_U_EXPRS['h_prio']} AS h_prio,
           {_THEIL_U_EXPRS['h_status']} AS h_status,
           {_THEIL_U_EXPRS['u_status_given_prio']} AS u_status_given_prio,
           {_THEIL_U_EXPRS['u_prio_given_status']} AS u_prio_given_status
    FROM hd
"""


@register("theil_u", oracle=_THEIL_U_SQL)
def theil_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil's uncertainty coefficient U over the order-priority x
    order-status table — the DIRECTED, normalized [0,1] categorical
    association `chi2_independence` (symmetric test statistic) and
    `mutual_info_categorical` (unnormalized bits) don't give:
    U(Y|X) = (H(Y) - H(Y|X)) / H(Y), "what fraction of Y's uncertainty
    does knowing X remove" — and it is asymmetric, so both directions
    ship. The feature-selection screen for categorical predictors; the
    reference's pipeline moves these columns without any association
    surface (`sync/QueryBuilder.java:46-75` — bare SELECT, no
    aggregation).

    Exactness: all counts are exact BIGINTs off ONE (x, y) rollup;
    every ln is quantized to DECIMAL(15,9) BEFORE composition (the
    `entropy_profile` device), so every entropy NUMERATOR — H(X):
    N*q(ln N) - Sx, H(Y|X): Sx - Sxy — is exact decimal arithmetic at
    any corpus size, and each display column is ONE terminal IEEE
    division of exact decimals, round-9. A constant column (H = 0)
    yields NULL U via NULLIF identically on both engines.

    Physics: one map-side-combined rollup to |prio|x|status| rows;
    margins and all four sums are catalog-sized. Nothing downstream of
    the rollup is corpus-sized.
    """
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isNotNull()
        & F.col("o_orderstatus").isNotNull()
    )
    cells = o.groupBy(
        F.col("o_orderpriority").alias("prio"),
        F.col("o_orderstatus").alias("status"),
    ).agg(F.count(F.lit(1)).cast("long").alias("c_xy"))
    cells = bounded_cache("theil_u.cells", cells)
    mx = cells.groupBy("prio").agg(F.sum("c_xy").cast("long").alias("c_x"))
    my = cells.groupBy("status").agg(F.sum("c_xy").cast("long").alias("c_y"))
    s_xy = cells.agg(
        F.sum("c_xy").cast("long").alias("n"),
        F.sum(F.expr(f"c_xy * {_THEIL_QLN.format(c='c_xy')}"))
        .cast("decimal(38,9)")
        .alias("sxy"),
    )
    s_x = mx.agg(
        F.sum(F.expr(f"c_x * {_THEIL_QLN.format(c='c_x')}"))
        .cast("decimal(38,9)")
        .alias("sx")
    )
    s_y = my.agg(
        F.sum(F.expr(f"c_y * {_THEIL_QLN.format(c='c_y')}"))
        .cast("decimal(38,9)")
        .alias("sy")
    )
    hd = (
        s_xy.crossJoin(s_x)
        .crossJoin(s_y)
        .withColumn(
            "hxd",
            F.expr(
                f"CAST(n * {_THEIL_QLN.format(c='n')} - sx AS DECIMAL(38,9))"
            ),
        )
        .withColumn(
            "hyd",
            F.expr(
                f"CAST(n * {_THEIL_QLN.format(c='n')} - sy AS DECIMAL(38,9))"
            ),
        )
    )
    return hd.select(
        "n",
        F.expr(_THEIL_U_EXPRS["h_prio"]).alias("h_prio"),
        F.expr(_THEIL_U_EXPRS["h_status"]).alias("h_status"),
        F.expr(_THEIL_U_EXPRS["u_status_given_prio"]).alias(
            "u_status_given_prio"
        ),
        F.expr(_THEIL_U_EXPRS["u_prio_given_status"]).alias(
            "u_prio_given_status"
        ),
    )


# --- KL divergence between user cohorts ---------------------------------------

# Laplace(+1)-smoothed KL over the shared type domain (k = |union of
# types|): p_i = (c_i+1)/(N+k), q_i = (d_i+1)/(M+k). Folding the
# constant ln((M+k)/(N+k)) into the decimal numerator keeps the WHOLE
# statistic one exact-decimal sum and ONE terminal division:
# KL(A||B) = [ S_ab + (q(ln(M+k)) - q(ln(N+k))) * (N+k) ] / (N+k)
# with S_ab = sum_i (c_i+1) * (q(ln(c_i+1)) - q(ln(d_i+1))).
_KL_EXPR = (
    "round(CAST(s{a}{b} + (({qb}) - ({qa})) * (n_{a} + k) AS DOUBLE)"
    " / CAST(n_{a} + k AS DOUBLE), 9)"
)

_KL_SQL = f"""
    WITH a AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS c
      FROM events
      WHERE event_type IS NOT NULL AND user_id IS NOT NULL
        AND user_id % 2 = 0
      GROUP BY 1
    ),
    b AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS d
      FROM events
      WHERE event_type IS NOT NULL AND user_id IS NOT NULL
        AND user_id % 2 = 1
      GROUP BY 1
    ),
    dom AS (
      SELECT COALESCE(a.event_type, b.event_type) AS t,
             COALESCE(a.c, 0) AS c, COALESCE(b.d, 0) AS d
      FROM a FULL OUTER JOIN b ON a.event_type = b.event_type
    ),
    s AS (
      SELECT CAST(SUM(c) AS BIGINT) AS n_a,
             CAST(SUM(d) AS BIGINT) AS n_b,
             CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM((c + 1) * ({_THEIL_QLN.format(c='c + 1')}
                                 - {_THEIL_QLN.format(c='d + 1')}))
                  AS DECIMAL(38,9)) AS sab,
             CAST(SUM((d + 1) * ({_THEIL_QLN.format(c='d + 1')}
                                 - {_THEIL_QLN.format(c='c + 1')}))
                  AS DECIMAL(38,9)) AS sba
      FROM dom
    )
    SELECT n_a, n_b, CAST(k AS INT) AS k_types,
           {_KL_EXPR.format(a='a', b='b',
                            qa=_THEIL_QLN.format(c='n_a + k'),
                            qb=_THEIL_QLN.format(c='n_b + k'))} AS kl_ab,
           {_KL_EXPR.format(a='b', b='a',
                            qa=_THEIL_QLN.format(c='n_b + k'),
                            qb=_THEIL_QLN.format(c='n_a + k'))} AS kl_ba
    FROM s
"""


@register("kl_divergence", oracle=_KL_SQL)
def kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed Kullback-Leibler divergence (both directions) between
    the event-type distributions of two user cohorts (even/odd
    user_id — the standard A/B split key). The information-theoretic
    drift measure beside `drift_psi` (binned score with its own
    smoothing convention) and `drift_ks` (numeric CDF distance):
    KL is THE quantity a language-model data pipeline quotes for
    corpus-mix shift. Laplace(+1) smoothing over the union type
    domain keeps it finite when a type is missing from one cohort
    (documented; both engines identically). The reference has no
    distribution surface at all — its verification stops at
    fetch-count == pull-count (`sync/FetchRunner.java:38`).

    Exactness: cohort counts are exact BIGINTs off one rollup each
    side of a full-outer domain join; every ln is quantized to
    DECIMAL(15,9) BEFORE composition (the `entropy_profile` device),
    the constant ln((M+k)/(N+k)) folds INTO the decimal numerator, so
    each KL is one exact-decimal sum and ONE terminal IEEE division,
    round-9.

    Physics: ONE map-side-combined conditional rollup over ONE scan —
    every row belongs to exactly one cohort, so groupBy(type) with two
    conditional sums IS the full-outer union domain (plan-gated: one
    scan, one exchange, no join — the oracle spells the same relation
    as a full-outer of two per-cohort rollups, which DuckDB folds the
    same way); everything after is |types|-sized.
    """
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull() & F.col("user_id").isNotNull()
    )
    dom = ev.groupBy("event_type").agg(
        F.sum(F.when(F.col("user_id") % 2 == 0, 1).otherwise(0))
        .cast("long")
        .alias("c"),
        F.sum(F.when(F.col("user_id") % 2 == 1, 1).otherwise(0))
        .cast("long")
        .alias("d"),
    )
    return kl_finalize(dom)


def kl_finalize(dom: DataFrame) -> DataFrame:
    """Shared KL finalizer over the (event_type, c, d) cohort-count
    relation — the fixed expression tree both the batch operator and
    `stream_kl_divergence`'s stream-maintained serving table run, so
    batch ≡ stream bit-for-bit (counts are algebraic; the quantized-ln
    decimal lanes and the ONE terminal division are shared text)."""
    s = dom.agg(
        F.sum("c").cast("long").alias("n_a"),
        F.sum("d").cast("long").alias("n_b"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum(
            F.expr(
                f"(c + 1) * ({_THEIL_QLN.format(c='c + 1')}"
                f" - {_THEIL_QLN.format(c='d + 1')})"
            )
        )
        .cast("decimal(38,9)")
        .alias("sab"),
        F.sum(
            F.expr(
                f"(d + 1) * ({_THEIL_QLN.format(c='d + 1')}"
                f" - {_THEIL_QLN.format(c='c + 1')})"
            )
        )
        .cast("decimal(38,9)")
        .alias("sba"),
    )
    return s.select(
        "n_a",
        "n_b",
        F.col("k").cast("int").alias("k_types"),
        F.expr(
            _KL_EXPR.format(
                a="a", b="b",
                qa=_THEIL_QLN.format(c="n_a + k"),
                qb=_THEIL_QLN.format(c="n_b + k"),
            )
        ).alias("kl_ab"),
        F.expr(
            _KL_EXPR.format(
                a="b", b="a",
                qa=_THEIL_QLN.format(c="n_b + k"),
                qb=_THEIL_QLN.format(c="n_a + k"),
            )
        ).alias("kl_ba"),
    )


# --- Cohen's d effect size ----------------------------------------------------

# Pooled-SD standardized mean difference over the exact-cents moment
# lanes; the scale factor (cents) cancels in d. Group sums-of-squares
# compose in doubles via the anova_oneway device (one shared text per
# term); sd displays in ORIGINAL units (cents / 100).
_COHENS_D_EXPRS = {
    "mean1": "round(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) / 100, 9)",
    "mean2": "round(CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) / 100, 9)",
    "pooled_sd": (
        "round(sqrt(((CAST(ss1 AS DOUBLE)"
        " - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))"
        " + (CAST(ss2 AS DOUBLE)"
        " - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)))"
        " / NULLIF(CAST(n1 + n2 - 2 AS DOUBLE), CAST(0 AS DOUBLE))) / 100, 9)"
    ),
    "cohens_d": (
        "round((CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)"
        " - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))"
        " / NULLIF(sqrt(((CAST(ss1 AS DOUBLE)"
        " - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))"
        " + (CAST(ss2 AS DOUBLE)"
        " - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)))"
        " / NULLIF(CAST(n1 + n2 - 2 AS DOUBLE), CAST(0 AS DOUBLE))),"
        " CAST(0 AS DOUBLE)), 9)"
    ),
}

_COHENS_D_SQL = f"""
    WITH v AS (
      SELECT event_type,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM events
      WHERE value IS NOT NULL
        AND event_type IN ('{MWU_GROUP1}', '{MWU_GROUP2}')
    ),
    m AS (
      SELECT
        CAST(SUM(CASE WHEN event_type = '{MWU_GROUP1}' THEN 1 ELSE 0 END)
             AS BIGINT) AS n1,
        CAST(SUM(CASE WHEN event_type = '{MWU_GROUP2}' THEN 1 ELSE 0 END)
             AS BIGINT) AS n2,
        CAST(SUM(CASE WHEN event_type = '{MWU_GROUP1}' THEN cents
                      ELSE 0 END) AS BIGINT) AS s1,
        CAST(SUM(CASE WHEN event_type = '{MWU_GROUP2}' THEN cents
                      ELSE 0 END) AS BIGINT) AS s2,
        CAST(SUM(CASE WHEN event_type = '{MWU_GROUP1}'
                      THEN CAST(cents AS DECIMAL(38,0)) * cents
                      ELSE 0 END) AS DECIMAL(38,0)) AS ss1,
        CAST(SUM(CASE WHEN event_type = '{MWU_GROUP2}'
                      THEN CAST(cents AS DECIMAL(38,0)) * cents
                      ELSE 0 END) AS DECIMAL(38,0)) AS ss2
      FROM v
    )
    SELECT n1, n2,
           {_COHENS_D_EXPRS['mean1']} AS mean1,
           {_COHENS_D_EXPRS['mean2']} AS mean2,
           {_COHENS_D_EXPRS['pooled_sd']} AS pooled_sd,
           {_COHENS_D_EXPRS['cohens_d']} AS cohens_d
    FROM m
"""


@register("cohens_d", oracle=_COHENS_D_SQL)
def cohens_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d standardized mean difference between click and
    purchase values — the parametric EFFECT SIZE companion to
    `mann_whitney_u`'s rank test (which says whether the
    distributions differ; d says by how many pooled standard
    deviations the means do), completing the effect-size row beside
    `odds_ratio` (2x2) and chi2's Cramer's V (categorical); beyond the
    reference's aggregation-free row mover
    (`sync/QueryBuilder.java:46-75`).

    Exactness: the 2-dp generated values pin to exact integer CENTS
    through the DECIMAL(18,2) lane (raw-double sums are never
    portable — the `tail_cvar` device); n/sum/sum-of-squares are
    exact BIGINT/DECIMAL(38,0) off ONE conditional rollup; the cents
    scale cancels in d, and means/sd display in original units via
    /100 inside the shared texts. Degenerate n1+n2-2 = 0 or zero
    pooled variance -> NULL via NULLIF on both engines.

    Physics: one map-side-combined single-row rollup over the scan;
    nothing downstream exists.
    """
    ev = load(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
        & F.col("event_type").isin(MWU_GROUP1, MWU_GROUP2)
    )
    v = ev.select(
        "event_type",
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    is1 = F.col("event_type") == MWU_GROUP1
    is2 = F.col("event_type") == MWU_GROUP2
    m = v.agg(
        F.sum(F.when(is1, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(is2, 1).otherwise(0)).cast("long").alias("n2"),
        F.sum(F.when(is1, F.col("cents")).otherwise(0))
        .cast("long")
        .alias("s1"),
        F.sum(F.when(is2, F.col("cents")).otherwise(0))
        .cast("long")
        .alias("s2"),
        F.sum(
            F.when(
                is1, F.col("cents").cast("decimal(38,0)") * F.col("cents")
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        )
        .cast("decimal(38,0)")
        .alias("ss1"),
        F.sum(
            F.when(
                is2, F.col("cents").cast("decimal(38,0)") * F.col("cents")
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        )
        .cast("decimal(38,0)")
        .alias("ss2"),
    )
    return m.select(
        "n1",
        "n2",
        F.expr(_COHENS_D_EXPRS["mean1"]).alias("mean1"),
        F.expr(_COHENS_D_EXPRS["mean2"]).alias("mean2"),
        F.expr(_COHENS_D_EXPRS["pooled_sd"]).alias("pooled_sd"),
        F.expr(_COHENS_D_EXPRS["cohens_d"]).alias("cohens_d"),
    )

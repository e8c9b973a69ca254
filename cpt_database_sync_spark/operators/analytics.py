"""Event-analytics operators: batch sessionization, funnel conversion,
cohort retention — the classic clickstream suite over the events table.

The reference moves event tables between databases but cannot analyze
them (`handler/Handler.java:42-55` is its whole surface); these queries
are the analytics the replicated data exists to serve, expressed as
window/aggregate plans Catalyst fully optimizes. All timestamps are
exact microseconds, so every query carries an exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cpt_database_sync_spark.functions.numeric import sql_dsum
from cpt_database_sync_spark.operators import lanes
from cpt_database_sync_spark.plans.registry import register
from cpt_database_sync_spark.sources.tables import load, table_rowcount

SESSION_GAP_MIN = 30


@register(
    "sessionize",
    oracle=f"""
    WITH marked AS (
      SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL {SESSION_GAP_MIN} MINUTE
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
      SELECT user_id, ts,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sess_num
      FROM marked
    )
    -- tie-break by event_id everywhere: equal-ts events must take a
    -- deterministic order or session numbering flaps between engines
    SELECT user_id,
           CAST(sess_num AS BIGINT) AS sess_num,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM sessions
    GROUP BY user_id, sess_num
    """,
)
def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch gap-based sessionization: a new session starts when a user
    is idle > {gap} minutes; sessions are numbered per user by a running
    sum over the new-session flags.

    One shuffle on user_id feeds both window passes (lag and running
    sum share the partitioning); the session rollup re-aggregates on
    (user_id, sess_num) — a subset-keyed agg over already-clustered data.
    At 100 TB this is the standard pattern: partition by user, sort by
    time within partition. The streaming equivalent is
    ``stream_session`` (session_window); this is the batch/backfill path.
    """
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wsum = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    gap_us = SESSION_GAP_MIN * 60 * 1_000_000
    marked = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
                > gap_us
            ),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("new_sess"),
    )
    sessions = marked.select(
        "user_id", "ts", F.sum("new_sess").over(wsum).alias("sess_num")
    )
    # (event_id is carried only for the deterministic wsum ordering)
    return sessions.groupBy("user_id", "sess_num").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
    )


_FUNNEL_STAGES = ("view", "click", "purchase")


@register(
    "funnel",
    oracle="""
    WITH s1 AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'click' AND e.ts > s1.t1
      GROUP BY e.user_id
    ),
    s3 AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s2.t2
      GROUP BY e.user_id
    )
    SELECT 'view' AS stage, CAST((SELECT COUNT(*) FROM s1) AS BIGINT) AS n_users
    UNION ALL
    SELECT 'click', CAST((SELECT COUNT(*) FROM s2) AS BIGINT)
    UNION ALL
    SELECT 'purchase', CAST((SELECT COUNT(*) FROM s3) AS BIGINT)
    """,
)
def funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view → click → purchase: a user counts
    at stage N only with a stage-N event strictly after their stage-N-1
    entry time.

    Each stage is a filtered aggregation joined to the previous stage's
    per-user entry times — stage frontiers shrink monotonically, so every
    join after the first is against an ever-smaller (usually
    broadcastable) user set. All shuffles key on user_id and AQE picks
    broadcast once a frontier fits under the threshold. The three stage
    counts are unioned into ONE lazy plan (a single job; Spark reuses the
    shared frontier subtrees via exchange reuse), not driver-side counts.
    """
    from functools import reduce

    ev = load(spark, sf_dir, "events")
    frontier = (
        ev.filter(F.col("event_type") == _FUNNEL_STAGES[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t"))
    )
    stage_counts = [
        frontier.agg(
            F.lit(_FUNNEL_STAGES[0]).alias("stage"),
            F.count(F.lit(1)).alias("n_users"),
        )
    ]
    for stage in _FUNNEL_STAGES[1:]:
        frontier = (
            ev.filter(F.col("event_type") == stage)
            .join(frontier, "user_id")
            .filter(F.col("ts") > F.col("t"))
            .groupBy("user_id")
            .agg(F.min("ts").alias("t"))
        )
        stage_counts.append(
            frontier.agg(
                F.lit(stage).alias("stage"), F.count(F.lit(1)).alias("n_users")
            )
        )
    return reduce(lambda a, b: a.unionAll(b), stage_counts)


@register(
    "retention",
    oracle="""
    WITH first AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS d0 FROM events GROUP BY user_id
    ),
    act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events)
    SELECT first.d0 AS cohort_day,
           CAST(date_diff('day', first.d0, act.d) AS INT) AS day_offset,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM act JOIN first ON act.user_id = first.user_id
    GROUP BY 1, 2
    """,
)
def retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-activity day, counted on
    each subsequent active day (the classic retention triangle).

    Three aggregations all keyed by user_id — one shuffle partitioning
    serves the cohort assignment, the activity dedup, and the join; the
    final rollup is over (cohort_day, offset), a tiny result regardless
    of corpus size.
    """
    ev = load(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("date").alias("d")
    )
    first = ev.groupBy("user_id").agg(F.min("d").alias("d0"))
    act = ev.distinct()
    return (
        act.join(first, "user_id")
        .groupBy(
            F.col("d0").alias("cohort_day"),
            F.datediff("d", "d0").alias("day_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@register(
    "window_range_frame",
    oracle="""
    SELECT user_id, event_id, ts,
           CAST(CAST(SUM(CAST(value AS DECIMAL(14,6))) OVER (
             PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW
           ) AS DECIMAL(18,6)) AS DOUBLE) AS rolling_1h_value,
           CAST(COUNT(*) OVER (
             PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS rolling_1h_events
    FROM events
    """,
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal RANGE frame: per-user rolling 1-hour sum/count at every
    event — the value-based frame (all rows within an interval of the
    current row's time) that ``window_frame``'s ROWS frames cannot
    express.

    Spark's rangeBetween needs a numeric ordering column, so the frame
    runs over epoch-seconds with a 3600-second window — semantically the
    INTERVAL frame of the SQL oracle. Same single user_id shuffle as any
    window; the frame is evaluated with a sliding aggregate over the
    sorted run, linear per partition. The sum uses the exact decimal
    lane (functions/numeric.py) so doubles match bit-for-bit.
    """
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        F.sum(F.col("value").cast("decimal(14,6)"))
        .over(w)
        .cast("decimal(18,6)")
        .cast("double")
        .alias("rolling_1h_value"),
        F.count(F.lit(1)).over(w).alias("rolling_1h_events"),
    )


@register(
    "event_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    t AS (
      SELECT prev_type, event_type AS curr_type, COUNT(*) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY 1, 2
    )
    SELECT prev_type, curr_type, n,
           round(CAST(n AS DOUBLE)
                 / CAST(SUM(n) OVER (PARTITION BY prev_type) AS DOUBLE), 9)
             AS p
    FROM t
    """,
)
def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over the event stream: for
    every (previous event_type → current event_type) pair within a user's
    timeline, the count and the conditional probability P(curr | prev).
    The sequence-mining primitive behind next-action prediction and
    anomaly scoring on clickstreams.

    One user_id shuffle for the lag window (events within a user sort
    locally — the sessionize pattern), then a (prev, curr) aggregation
    whose cardinality is |event_type|² — tiny however large the corpus,
    so the normalizing per-prev window costs nothing. Ties at equal ts
    are broken by event_id so both engines see the same sequence.
    """
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    t = seq.groupBy("prev_type", F.col("event_type").alias("curr_type")).agg(
        F.count(F.lit(1)).alias("n")
    )
    wp = Window.partitionBy("prev_type")
    return t.select(
        "prev_type",
        "curr_type",
        "n",
        F.round(
            F.col("n").cast("double") / F.sum("n").over(wp).cast("double"), 9
        ).alias("p"),
    )


@register(
    "gapfill_daily",
    oracle="""
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             SUM(CAST(value AS DECIMAL(18,6))) AS v
      FROM events GROUP BY 1, 2
    ),
    cal AS (
      SELECT user_id,
             CAST(unnest(generate_series(min(day), max(day),
                                         INTERVAL 1 DAY)) AS DATE) AS day
      FROM daily GROUP BY user_id
    ),
    j AS (
      SELECT c.user_id, c.day, d.v
      FROM cal c LEFT JOIN daily d USING (user_id, day)
    )
    SELECT user_id, day,
           CAST(last_value(v IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS value_filled,
           CAST(v IS NULL AS INT) AS is_gap
    FROM j
    """,
)
def gapfill_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill: densify each user's daily value series to a
    complete calendar (sequence + explode between the user's first and
    last active day) and forward-fill missing days with the last
    observed value — the regularization step before any rolling-feature
    or forecasting job, where absent rows would silently shrink windows.

    Daily sums use the exact decimal lane so both engines agree
    bit-for-bit; the filled value is surfaced as DOUBLE (exact decimal →
    correctly-rounded double is identical in both engines, and both
    pandas lanes then carry float64, which the driver's value-hash needs
    — a decimal column stringifies with trailing zeros on one side
    only). The calendar explode is proportional to the span, not
    the event count. Two shuffles total (daily agg, user window) — the
    join calendar⋈daily co-partitions on the same user key. Forward fill
    is ``last(..., ignorenulls)`` over an unbounded-preceding row frame —
    linear per user run.
    """
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(F.sum(F.col("value").cast("decimal(18,6)")).alias("v"))
    cal = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    ).select(
        "user_id",
        F.explode(F.sequence("d0", "d1")).alias("day"),
    )
    j = cal.join(daily, ["user_id", "day"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        "user_id",
        "day",
        F.last("v", ignorenulls=True).over(w).cast("double").alias(
            "value_filled"
        ),
        F.col("v").isNull().cast("int").alias("is_gap"),
    )


@register(
    "distinct_users_bitmap",
    oracle="""
    SELECT CAST(ts AS DATE) AS day,
           COUNT(DISTINCT user_id) AS n_users,
           COUNT(*) AS n_events
    FROM events GROUP BY 1
    """,
)
def distinct_users_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact daily distinct users via BITMAPS instead of COUNT(DISTINCT):
    each (day, bucket) partial aggregates user ids into a fixed-size bit
    vector (``bitmap_construct_agg`` over ``bitmap_bit_position``), then
    per-day counts sum the popcounts. COUNT(DISTINCT) shuffles every
    (day, user) pair and cannot pre-aggregate; bitmaps combine
    associatively, so the map side collapses to #days × #buckets rows —
    the re-aggregatable exact-distinct shape that also incrementalizes
    (store the bitmaps, OR tomorrow's in). The oracle is plain
    COUNT(DISTINCT): same numbers, different physics.

    n_events rides along on the second-level agg (sum of partial
    counts), proving the bitmap lane composes with ordinary measures.
    """
    ev = load(spark, sf_dir, "events")
    per_bucket = ev.groupBy(
        F.to_date("ts").alias("day"),
        F.bitmap_bucket_number("user_id").alias("bucket"),
    ).agg(
        F.bitmap_construct_agg(F.bitmap_bit_position("user_id")).alias("bm"),
        F.count(F.lit(1)).alias("n"),
    )
    return per_bucket.groupBy("day").agg(
        F.sum(F.bitmap_count("bm")).alias("n_users"),
        F.sum("n").alias("n_events"),
    )


Z_THRESHOLD = 2.0


@register(
    "anomaly_zscore",
    oracle=f"""
    WITH stats AS (
      SELECT event_type,
             COUNT(*) AS n,
             SUM(CAST(value AS DECIMAL(18,6))) AS sx,
             SUM(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6)))
               AS sxx
      FROM events GROUP BY event_type
    ),
    scored AS (
      SELECT e.event_id, e.event_type, e.value,
             (CAST(e.value AS DOUBLE) - CAST(s.sx AS DOUBLE) / s.n)
             / sqrt(CASE WHEN (CAST(s.sxx AS DOUBLE)
                     - CAST(s.sx AS DOUBLE) * CAST(s.sx AS DOUBLE) / s.n)
                    / (s.n - 1) < 0 THEN 0
                    ELSE (CAST(s.sxx AS DOUBLE)
                     - CAST(s.sx AS DOUBLE) * CAST(s.sx AS DOUBLE) / s.n)
                    / (s.n - 1) END) AS z
      FROM events e JOIN stats s USING (event_type)
    )
    SELECT event_id, event_type, value, round(z, 9) AS z
    FROM scored WHERE abs(z) > {2.0}
    """,
)
def anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score outlier flagging: events whose value sits more
    than {Z_THRESHOLD}σ from their event_type's mean — the statistical
    anomaly gate of a metrics/quality pipeline.

    The per-type moments (n, Σx, Σx²) are computed in the exact decimal
    lane — value is cast to DECIMAL(18,6) first so the squares and sums
    are bit-identical across engines regardless of aggregation order;
    mean/variance only drop to double at the very end (one deterministic
    expression over exact inputs). The stats table is |event_type| rows —
    broadcast back onto the stream, so the whole operator is one
    map-side-combined aggregation plus a map-only scoring pass: no
    corpus-sized shuffle at any scale. z is emitted rounded to 9; the
    |z| > τ gate uses the raw double.
    """
    ev = load(spark, sf_dir, "events")
    dec = F.col("value").cast("decimal(18,6)")
    stats = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec).alias("sx"),
        F.sum(dec * dec).alias("sxx"),
    )
    # try_divide on n-1 and on the σ denominator: a 1-row group has no
    # sample variance → z is NULL (dropped by the |z| gate) on both
    # engines, instead of an ANSI divide-by-zero abort. The variance is
    # additionally clamped at 0 with a NULL-preserving CASE: a constant
    # group's true-zero variance can land epsilon-NEGATIVE in the double
    # moments, and sqrt of that is NaN on Spark — which would PASS the
    # |z| > τ gate (NaN sorts above every number) and flag the whole
    # constant group as anomalies, while DuckDB's sqrt raises.
    mean = F.col("sx").cast("double") / F.col("n")
    var = F.try_divide(
        F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double") / F.col("n"),
        F.col("n") - 1,
    )
    var = F.when(var < 0, F.lit(0.0)).otherwise(var)
    z = F.try_divide(F.col("value").cast("double") - mean, F.sqrt(var))
    return (
        ev.join(F.broadcast(stats), "event_type")
        .withColumn("z", z)
        .filter(F.abs(F.col("z")) > Z_THRESHOLD)
        .select("event_id", "event_type", "value", F.round("z", 9).alias("z"))
    )


_SCD2_SQL = """
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             LAG(event_type) OVER w AS prev_type
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    changes AS (
      SELECT user_id, event_type, ts AS valid_from, event_id
      FROM ordered
      WHERE prev_type IS NULL OR prev_type <> event_type
    )
    SELECT user_id, event_type, valid_from,
           LEAD(valid_from) OVER w AS valid_to,
           CAST(LEAD(valid_from) OVER w IS NULL AS BOOLEAN) AS is_current
    FROM changes
    WINDOW w AS (PARTITION BY user_id ORDER BY valid_from, event_id)
    """


def _scd2_compress(ev: DataFrame) -> DataFrame:
    """Run-compress (user_id, event_type, ts, event_id) rows into SCD2
    validity intervals — shared by the full rebuild (scd2_intervals) and
    the incremental MERGE apply (merge_scd2). One user-keyed shuffle
    serves both window passes."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(
            F.col("prev_type").isNull()
            | (F.col("prev_type") != F.col("event_type"))
        )
        .select("user_id", "event_type", F.col("ts").alias("valid_from"), "event_id")
    )
    w2 = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
    return changes.select(
        "user_id",
        "event_type",
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
        F.lead("valid_from").over(w2).isNull().alias("is_current"),
    )


@register("scd2_intervals", oracle=_SCD2_SQL)
def scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 construction from an event/CDC
    stream: per user, compress consecutive equal states and emit validity
    intervals [valid_from, valid_to) with the open current row — the
    standard warehouse history table the reference's drop-and-recopy
    model throws away on every sync (handler/Handler.java:42-55 keeps
    only the latest snapshot; this keeps lineage).

    One user-keyed shuffle serves BOTH window passes (change detection
    via lag, interval close via lead — same partitioning, Catalyst
    reuses the Exchange). Deterministic under ts ties by the (ts,
    event_id) total order. At 100 TB: partition the sink by
    is_current/valid_to date so point-in-time queries prune to the
    intervals they touch.
    """
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    return _scd2_compress(ev)


@register("merge_scd2", oracle=_SCD2_SQL)
def merge_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SCD2 maintenance — the MERGE-apply WRITE path that
    completes the trio: ``scd2_intervals`` builds the history,
    ``join_temporal`` reads it, this keeps it current without ever
    rebuilding. A persisted dimension (SCD2 of events ≤ cutoff,
    ``materialize_stamped``) receives a CDC batch (events > cutoff):
    rows of un-changed users pass through UNTOUCHED (broadcast anti-join
    on the batch's user set — at 100 TB this is the file-skipping MERGE
    majority); changed users keep their closed history verbatim and
    re-compress ONLY their open row (reopened as a pseudo-event at its
    valid_from) unioned with their batch rows — so the open run extends,
    closes, or chains exactly as a full rebuild would.

    The oracle IS the full rebuild (same SQL as scd2_intervals): the
    merge-maintained table must be indistinguishable from recomputing
    history from scratch, which is the entire correctness contract of
    incremental dimension maintenance. Work scales with |batch| +
    |changed users' intervals|, never with history size.
    """
    import os  # noqa: PLC0415

    from cpt_database_sync_spark.sources.sync import scratch_dir  # noqa: PLC0415
    from cpt_database_sync_spark.sources.tables import (  # noqa: PLC0415
        materialize_stamped,
    )

    cutoff = "2024-01-15 00:00:00"
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )

    def build(d: str) -> None:
        _scd2_compress(ev.filter(F.col("ts") <= cutoff)).write.mode(
            "overwrite"
        ).parquet(d)

    dim_dir = materialize_stamped(
        os.path.join(sf_dir, "events.parquet"),
        os.path.join(
            scratch_dir(), "scd2_dim", os.path.basename(sf_dir.rstrip("/"))
        ),
        build,
    )
    existing = spark.read.parquet(dim_dir)
    changes = ev.filter(F.col("ts") > cutoff)
    changed_users = changes.select("user_id").distinct()
    untouched = existing.join(F.broadcast(changed_users), "user_id", "left_anti")
    touched = existing.join(F.broadcast(changed_users), "user_id", "left_semi")
    closed = touched.filter(~F.col("is_current"))
    reopened = touched.filter("is_current").select(
        "user_id",
        "event_type",
        F.col("valid_from").alias("ts"),
        # pseudo event id: the open row predates every batch row (its
        # valid_from <= cutoff < batch ts), so the tie-break never fires
        F.lit(-1).cast("bigint").alias("event_id"),
    )
    recomputed = _scd2_compress(reopened.unionByName(changes))
    return untouched.unionByName(closed).unionByName(recomputed)


_TIMEGRAIN_SQL = f"""
    SELECT
      CASE WHEN GROUPING(h) = 0 THEN 'hour'
           WHEN GROUPING(d) = 0 THEN 'day'
           ELSE 'week' END AS grain,
      COALESCE(h, d, w) AS bucket_start,
      COUNT(*) AS n_events,
      {sql_dsum("value", 14, 6)} AS sum_value
    FROM (
      SELECT date_trunc('hour', ts) AS h,
             date_trunc('day', ts)  AS d,
             date_trunc('week', ts) AS w,
             value
      FROM events
    )
    GROUP BY GROUPING SETS ((h), (d), (w))
"""


@register("rollup_timegrain", oracle=_TIMEGRAIN_SQL)
def rollup_timegrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-resolution rollup: the hour, day, AND week
    continuous aggregates of the event stream in ONE pass — the
    time-series engine pattern (TimescaleDB continuous aggregates /
    Druid rollup) where dashboards read pre-aggregated grains instead of
    raw events.

    GROUPING SETS over the three derived time buckets compiles to a
    single Expand + one partial+final hash aggregation: one corpus
    shuffle regardless of how many grains (the naive per-grain UNION ALL
    pays one scan + shuffle each). date_trunc boundaries (ISO Monday
    weeks) and the decimal value lane are identical on both engines. At
    100 TB: materialize the output partitioned by (grain, bucket date)
    and dashboards partition-prune to the grain they render; finer
    grains re-aggregate into coarser ones without touching raw data.
    """
    from cpt_database_sync_spark.sources.tables import register_views  # noqa: PLC0415

    register_views(spark, sf_dir, names=("events",))
    return spark.sql(_TIMEGRAIN_SQL)


@register(
    "join_temporal",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             LAG(event_type) OVER w AS prev_type
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    intervals AS (
      SELECT user_id, event_type AS state, ts AS valid_from, event_id,
             LEAD(ts) OVER w2 AS valid_to
      FROM ordered
      WHERE prev_type IS NULL OR prev_type <> event_type
      WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT e.event_id, e.user_id, e.ts, s.state, s.valid_from
    FROM events e
    JOIN intervals s
      ON e.user_id = s.user_id
     AND e.ts >= s.valid_from
     AND (s.valid_to IS NULL OR e.ts < s.valid_to)
    WHERE e.event_id % 7 = 0
    """,
)
def join_temporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal (point-in-interval) join: attach to each probe event the
    SCD2 state interval covering its timestamp — the "what plan was the
    customer on when this happened" query every history table exists to
    answer (and the read side of ``scd2_intervals``).

    The join is EQUI on user_id with the interval containment as a
    post-join range filter: per-user interval counts are small (bounded
    by that user's state changes), so the pair space is user-local, not
    quadratic — the same blocking argument as dedup_embedding's label
    join. The probe side samples event_id % 7 (any predicate; pushed to
    the scan). At 100 TB: both sides hash-partition by user_id — one
    co-located shuffle each — and AQE handles hot users; a sorted
    interval layout upgrades the filter to a merge lookup.
    """
    ev = load(spark, sf_dir, "events")
    intervals = scd2_intervals(spark, sf_dir).select(
        "user_id",
        F.col("event_type").alias("state"),
        "valid_from",
        "valid_to",
    )
    probes = ev.filter(F.col("event_id") % 7 == 0).select(
        "event_id", "user_id", "ts"
    )
    return (
        probes.join(intervals, "user_id")
        .filter(
            (F.col("ts") >= F.col("valid_from"))
            & (F.col("valid_to").isNull() | (F.col("ts") < F.col("valid_to")))
        )
        .select("event_id", "user_id", "ts", "state", "valid_from")
    )


_IVL_TYPE = "purchase"
_IVL_HORIZON = "2024-02-01 00:00:00"


@register(
    "join_interval",
    oracle=f"""
    WITH ivl AS (
      SELECT user_id, valid_from,
             COALESCE(valid_to, TIMESTAMP '{_IVL_HORIZON}') AS valid_to
      FROM ({_SCD2_SQL})
      WHERE event_type = '{_IVL_TYPE}'
    )
    SELECT a.user_id AS a_user, b.user_id AS b_user,
           greatest(a.valid_from, b.valid_from) AS overlap_start,
           least(a.valid_to, b.valid_to) AS overlap_end
    FROM ivl a JOIN ivl b
      ON a.user_id < b.user_id
     AND a.valid_from < b.valid_to
     AND b.valid_from < a.valid_to
    """,
)
def join_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-OVERLAP join — the missing member of the temporal join
    family (as-of: nearest point; join_range/join_temporal: point in
    interval; this: interval × interval). Naively it is a non-equi theta
    join that Spark plans as a nested loop; the scale shape is GRID
    BUCKETING: explode each interval to the day buckets it touches, hash
    equi-join on the bucket, verify true overlap, and dedup pairs that
    co-occur in several buckets. Cost is |intervals| × avg-days +
    bucket-local pair work — linear-ish in data, never |intervals|²
    (plan-gated: a hash join on the bucket, no nested loop).

    Input: the SCD2 '{_IVL_TYPE}'-state intervals per user (open rows
    closed at a fixed horizon so both engines see the same bound);
    output: each overlapping cross-user pair with its overlap window.
    The oracle is the direct quadratic theta join — DuckDB plans it as
    an IEJoin, making it also a nice cross-check of two entirely
    different interval-join algorithms agreeing.
    """
    ivl = (
        _scd2_compress(
            load(spark, sf_dir, "events").select(
                "user_id", "event_type", "ts", "event_id"
            )
        )
        .filter(F.col("event_type") == _IVL_TYPE)
        .select(
            "user_id",
            "valid_from",
            F.coalesce("valid_to", F.lit(_IVL_HORIZON).cast("timestamp")).alias(
                "valid_to"
            ),
        )
    )
    from cpt_database_sync_spark.session import bounded_cache  # noqa: PLC0415

    # both self-join sides read the SAME interval table: cache it so the
    # SCD2 window chain runs once (at 100 TB the intervals are a persisted
    # dimension -- scd2_intervals' output -- so this mirrors production)
    bucketed = bounded_cache(
        "join_interval.bucketed",
        ivl.select(
            "user_id",
            "valid_from",
            "valid_to",
            F.explode(
                F.sequence(
                    F.date_trunc("day", "valid_from"),
                    F.date_trunc("day", "valid_to"),
                    F.expr("INTERVAL 1 DAY"),
                )
            ).alias("bucket"),
        ),
    )
    a = bucketed.select(
        F.col("user_id").alias("a_user"),
        F.col("valid_from").alias("a_from"),
        F.col("valid_to").alias("a_to"),
        "bucket",
    )
    b = bucketed.select(
        F.col("user_id").alias("b_user"),
        F.col("valid_from").alias("b_from"),
        F.col("valid_to").alias("b_to"),
        "bucket",
    )
    # Canonical-bucket emission (r14, guide §2.4 — remove shuffles
    # outright): a pair sharing k day buckets used to be emitted k times
    # and collapsed by a full .distinct() Exchange+Aggregate over the
    # pair set. Instead each qualifying pair is kept ONLY in the bucket
    # of its overlap start (max(a_from, b_from)) — a bucket both
    # intervals provably touch (overlap_start lies inside both), so
    # exactly one copy survives and the distinct disappears. Row-set
    # equivalence to the old distinct: within a user pair, SCD2 intervals
    # of one user are disjoint-or-touching, so two different interval
    # pairs can never produce the same (overlap_start, overlap_end)
    # (strict-overlap filter forces start < end inside BOTH intervals) —
    # distinct rows ↔ distinct interval pairs ↔ canonical emissions.
    return (
        a.join(b, "bucket")
        .filter(
            (F.col("a_user") < F.col("b_user"))
            & (F.col("a_from") < F.col("b_to"))
            & (F.col("b_from") < F.col("a_to"))
            & (
                F.col("bucket")
                == F.date_trunc("day", F.greatest("a_from", "b_from"))
            )
        )
        .select(
            "a_user",
            "b_user",
            F.greatest("a_from", "b_from").alias("overlap_start"),
            F.least("a_to", "b_to").alias("overlap_end"),
        )
    )


@register(
    "distinct_users_cumulative",
    oracle="""
    WITH days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events)
    SELECT d.day,
           CAST((SELECT COUNT(DISTINCT user_id) FROM events e
                 WHERE CAST(e.ts AS DATE) <= d.day) AS BIGINT) AS n_users_cum
    FROM days d
    """,
)
def distinct_users_cumulative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users per day — the query that makes the
    bitmap lane's RE-AGGREGATABILITY undeniable: a running COUNT
    (DISTINCT) cannot reuse yesterday's answer (each day would rescan
    all history), but the per-(day, bucket) bitmaps OR-merge in a
    running window, so day N costs one popcount over day N-1's merged
    bitmap plus today's — exactly how a 100 TB daily-active dashboard
    maintains all-time reach. Window state is |buckets| bitmaps, the
    shuffle is #days × #buckets rows (map-side collapsed), and the
    numbers are EXACT — the oracle is the quadratic rescan formulation.
    """
    ev = load(spark, sf_dir, "events")
    per_bucket = ev.groupBy(
        F.to_date("ts").alias("day"),
        F.bitmap_bucket_number("user_id").alias("bucket"),
    ).agg(
        F.bitmap_construct_agg(F.bitmap_bit_position("user_id")).alias("bm")
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # a bucket contributes to every day from its first appearance on, so
    # carry each bucket's running bitmap forward onto the full day grid:
    # join the cumulative bitmaps to all days at-or-after their day via
    # the last_value-per-day trick — take, per (bucket, day), the running
    # OR, then for days where a bucket has no row, its latest prior
    # bitmap still counts. Implemented as: running OR per bucket, then a
    # per-day sum over each bucket's LATEST cumulative bitmap <= day.
    cum = per_bucket.select(
        "day",
        "bucket",
        F.bitmap_count(F.bitmap_or_agg("bm").over(w)).alias("cum_cnt"),
    )
    days = ev.select(F.to_date("ts").alias("day")).distinct()
    # per (grid day, bucket): the bucket's latest cumulative popcount at
    # or before that day (buckets are few: 1 + max(user_id)/64 — this
    # join is grid × buckets, tiny at any corpus size)
    latest = (
        days.alias("g")
        .join(cum.alias("c"), F.col("c.day") <= F.col("g.day"))
        .groupBy(F.col("g.day").alias("day"), "bucket")
        .agg(F.max_by("cum_cnt", F.col("c.day")).alias("cnt"))
    )
    return latest.groupBy("day").agg(
        F.sum("cnt").cast("bigint").alias("n_users_cum")
    )


# Datasketches HLL_4, lgConfigK=12: rsd ~ 1.04/sqrt(2^12) ~ 1.6%; the
# flag tolerance is 5x that, the agg_approx_distinct discipline.
HLL_LGK = 12
HLL_TOL = 5 * 1.04 / (2 ** (HLL_LGK / 2))


@register(
    "hll_mergeable_distinct",
    oracle="""
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
           COUNT(DISTINCT user_id) AS n_users, TRUE AS hll_ok
    FROM events GROUP BY 1
    UNION ALL
    SELECT 'ALL', COUNT(DISTINCT user_id), TRUE FROM events
    """,
)
def hll_mergeable_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE HyperLogLog sketches (Apache DataSketches via
    ``hll_sketch_agg`` / ``hll_union_agg``) — unlike
    ``approx_count_distinct``, whose estimate is a scalar you cannot
    re-aggregate, these sketches are first-class VALUES: per-day
    sketches persist, and any period's distinct count is a UNION of
    stored sketches, never a rescan — the approximate twin of the exact
    bitmap lane (``distinct_users_bitmap`` / ``_cumulative``).

    The query emits every day's exact distinct count plus an accuracy
    flag (sketch estimate within 5×rsd), and an 'ALL' row whose estimate
    comes from UNIONING the daily sketches — so the merge path itself is
    accuracy-checked against the exact global distinct. The oracle
    asserts every flag.
    """
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.hll_sketch_agg("user_id", F.lit(HLL_LGK)).alias("sk"),
        F.countDistinct("user_id").alias("n_users"),
    )
    per_day = daily.select(
        F.col("d").cast("string").alias("day"),
        "n_users",
        (
            F.abs(F.hll_sketch_estimate("sk") - F.col("n_users"))
            <= F.col("n_users") * HLL_TOL
        ).alias("hll_ok"),
    )
    exact_total = ev.agg(F.countDistinct("user_id").alias("n_users"))
    union_row = (
        daily.agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk", F.lit(False))).alias("est")
        )
        .crossJoin(exact_total)
        .select(
            F.lit("ALL").alias("day"),
            "n_users",
            (
                F.abs(F.col("est") - F.col("n_users"))
                <= F.col("n_users") * HLL_TOL
            ).alias("hll_ok"),
        )
    )
    return per_day.unionByName(union_row)


_TWA_SQL = """
    WITH seq AS (
      SELECT user_id,
             CAST(value AS DECIMAL(14,6)) AS v,
             epoch_us(ts) AS us,
             lead(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS nxt
      FROM events
    ),
    held AS (
      -- v re-cast to DECIMAL(20,6): forces DuckDB's int128 multiply lane
      -- (two <=18-digit decimals multiply in int64 and overflow)
      SELECT user_id, CAST(v AS DECIMAL(20,6)) AS v,
             CAST(nxt - us AS DECIMAL(13,0)) AS dur_us
      FROM seq WHERE nxt IS NOT NULL
    ),
    agg AS (
      SELECT user_id,
             CAST(SUM(v * dur_us) AS DECIMAL(38,6)) AS twa_num,
             CAST(SUM(dur_us) AS BIGINT) AS dur_us_total
      FROM held GROUP BY user_id
      HAVING SUM(dur_us) > 0
    )
    SELECT user_id,
           -- twa_num emitted as its canonical fixed-scale string: both
           -- engines print DECIMAL(38,6) as sign + digits + '.' + exactly
           -- six fractional digits, so the comparison lane is a plain
           -- string with no decimal-canonicalization surface left
           -- (CORRECTNESS_r07 recorded a hash-only fail on this column
           -- that no direct value diff could reproduce).
           CAST(twa_num AS VARCHAR) AS twa_num,
           dur_us_total,
           CAST((CAST(floor(twa_num) AS HUGEINT) * 1000000 // dur_us_total)
                AS DOUBLE) / 1000000 AS twa
    FROM agg
"""


@register("time_weighted_avg", oracle=_TWA_SQL)
def time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average per user — the hypertable serving primitive
    (TimescaleDB's ``time_weight``/``average`` pair) for irregular
    samples: each reading holds (LOCF) until the next one, so the mean
    weights each value by how long it was current, not by sample count.

    The accumulator IS the output: (Σ value·duration, Σ duration) — a
    mergeable pair, so per-partition partials combine associatively and
    grain rollups re-aggregate without touching raw events (the
    bitmap/histogram serving discipline). One shuffle on user_id feeds
    the lead() window; the rollup re-aggregates the same clustering.
    Exactness: value in the DECIMAL(14,6) lane × integer microsecond
    durations never leaves exact decimal; the displayed average is
    floor(floor(num)·1e6/dur)/1e6 via integer division — bit-identical
    on both engines with no double-rounding exposure (DuckDB truncates
    decimal downscales where Spark rounds HALF_UP, and DuckDB ROUNDS
    decimal→integer casts, so both steps are explicit floors instead).
    Users whose observations all share one timestamp are dropped
    (zero held time ⇒ the average is undefined).
    """
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    seq = ev.select(
        "user_id",
        F.col("value").cast("decimal(14,6)").alias("v"),
        us.alias("us"),
        F.lead(us).over(w).alias("nxt"),
    )
    held = seq.filter(F.col("nxt").isNotNull()).select(
        "user_id", "v", (F.col("nxt") - F.col("us")).cast("decimal(13,0)").alias("dur_us")
    )
    agg = (
        held.groupBy("user_id")
        .agg(
            F.sum(F.col("v") * F.col("dur_us")).cast("decimal(38,6)").alias("twa_num"),
            F.sum("dur_us").cast("long").alias("dur_us_total"),
        )
        .filter(F.col("dur_us_total") > 0)
    )
    return agg.select(
        "user_id",
        F.col("twa_num").cast("string").alias("twa_num"),
        "dur_us_total",
        (
            F.expr(
                "CAST(floor(twa_num) * CAST(1000000 AS DECIMAL(7,0))"
                " div dur_us_total AS DOUBLE)"
            )
            / 1000000
        ).alias("twa"),
    )


# Fixed-point EWMA kernel: 0.3·0.7^k rounded to 4 dp — a quantized decay
# kernel (standard DSP practice) so every product stays in a small exact
# decimal lane. Scale-4 weights × scale-6 daily sums ⇒ scale-10 terms whose
# per-(user,day) magnitude keeps the summed unscaled value far below 2^53,
# making the decimal→double emission correctly rounded on BOTH engines.
EWMA_WEIGHTS = [
    "0.3000", "0.2100", "0.1470", "0.1029", "0.0720",
    "0.0504", "0.0353", "0.0247", "0.0173", "0.0121",
]
_EWMA_CASE = " ".join(
    f"WHEN {k} THEN CAST({w} AS DECIMAL(5,4))" for k, w in enumerate(EWMA_WEIGHTS)
)

_EWMA_SQL = f"""
    WITH daily AS (
      SELECT user_id,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS dn,
             CAST(SUM(CAST(value AS DECIMAL(14,6))) AS DECIMAL(20,6)) AS dv
      FROM events
      GROUP BY user_id, CAST(ts AS DATE)
    )
    SELECT a.user_id,
           CAST(to_timestamp(a.dn * 86400) AS DATE) AS day,
           CAST(CAST(SUM(b.dv * (CASE a.dn - b.dn {_EWMA_CASE} END))
                AS DECIMAL(24,10)) AS DOUBLE) AS ewma_num,
           CAST(CAST(SUM(CASE a.dn - b.dn {_EWMA_CASE} END)
                AS DECIMAL(8,4)) AS DOUBLE) AS wsum,
           round(CAST(CAST(SUM(b.dv * (CASE a.dn - b.dn {_EWMA_CASE} END))
                      AS DECIMAL(24,10)) AS DOUBLE)
                 / CAST(CAST(SUM(CASE a.dn - b.dn {_EWMA_CASE} END)
                        AS DECIMAL(8,4)) AS DOUBLE), 9) AS ewma
    FROM daily a
    JOIN daily b
      ON b.user_id = a.user_id AND b.dn BETWEEN a.dn - 9 AND a.dn
    GROUP BY a.user_id, a.dn
"""


@register("ewma_smoothing", oracle=_EWMA_SQL)
def ewma_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of each user's daily value
    total — the trend-smoothing serving layer over the rollup, with a
    10-day calendar-decay kernel (missing days decay the weight; they
    don't shift it, unlike a row-frame EWMA).

    Spark side: a map-side-combined shuffle builds the daily rollup
    (only partial sums move, never raw events), then a RANGE window
    frame over day-number [-9, 0] collects (day, value) pairs and a JVM
    HOF folds them against the fixed-point kernel — no self-join; the
    window's user-keyed exchange moves only daily rows. The
    oracle expresses the same kernel as a bounded self-join, which is
    what a SQL engine without range-frame HOFs would run. Emitting
    (ewma_num, wsum) keeps the pair mergeable for boundary-correct
    backfill; `ewma` is their quotient. At 100 TB the daily rollup is
    ~6 orders smaller than raw events, so the window pass is trivial;
    the kernel never widens with data volume because weights are per
    calendar day, not per row.
    """
    ev = load(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            "user_id",
            F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")).alias("dn"),
        )
        .agg(F.sum(F.col("value").cast("decimal(14,6)")).cast("decimal(20,6)").alias("dv"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("dn")
        .rangeBetween(-9, Window.currentRow)
    )
    wlit = "array({})".format(
        ", ".join(f"CAST({x} AS DECIMAL(5,4))" for x in EWMA_WEIGHTS)
    )
    pairs = F.collect_list(F.struct(F.col("dn").alias("bdn"), F.col("dv"))).over(w)
    smoothed = daily.select(
        "user_id",
        "dn",
        pairs.alias("pairs"),
    ).select(
        "user_id",
        F.to_date(F.timestamp_seconds(F.col("dn") * 86400)).alias("day"),
        # SQL SUM null semantics on the numerator: a NULL daily total
        # (all of that day's values were NULL) contributes its WEIGHT
        # (wsum below folds all pairs) but no numerator term, and an
        # all-NULL window yields a NULL numerator — matching the
        # oracle's SUM(b.dv * w) / SUM(w) exactly
        F.expr(
            f"CASE WHEN size(filter(pairs, p -> p.dv IS NOT NULL)) = 0 "
            f"THEN CAST(NULL AS DOUBLE) ELSE "
            f"CAST(aggregate(filter(pairs, p -> p.dv IS NOT NULL), "
            f"CAST(0 AS DECIMAL(24,10)), (acc, p) -> "
            f"CAST(acc + p.dv * element_at({wlit}, CAST(dn - p.bdn AS INT) + 1) "
            f"AS DECIMAL(24,10))) AS DOUBLE) END"
        ).alias("ewma_num"),
        F.expr(
            f"CAST(aggregate(pairs, CAST(0 AS DECIMAL(8,4)), (acc, p) -> "
            f"CAST(acc + element_at({wlit}, CAST(dn - p.bdn AS INT) + 1) "
            f"AS DECIMAL(8,4))) AS DOUBLE)"
        ).alias("wsum"),
    )
    return smoothed.select(
        "user_id",
        "day",
        "ewma_num",
        "wsum",
        F.round(F.col("ewma_num") / F.col("wsum"), 9).alias("ewma"),
    )


@register(
    "distinct_users_sliding",
    oracle="""
    WITH days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events)
    SELECT d.day,
           CAST((SELECT COUNT(DISTINCT user_id) FROM events e
                 WHERE CAST(e.ts AS DATE) BETWEEN d.day - 6 AND d.day)
                AS BIGINT) AS n_users_7d
    FROM days d
    """,
)
def distinct_users_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day reach per day — the third member of the bitmap
    serving trio: per-day exact (`distinct_users_bitmap`), all-time
    running (`distinct_users_cumulative`), and this sliding window,
    which COUNT(DISTINCT) can least afford (every day re-scans a week
    of raw events; weekly-active-users over 100 TB re-reads ~2 TB per
    dashboard day).

    With per-(day, bucket) bitmaps the raw data is scanned ONCE; each
    grid day then OR-merges its window's ≤7 bitmaps per bucket — a
    |days × buckets|-row day-grid join, independent of corpus size, and
    the counts are EXACT. A bucket absent from the whole window simply
    contributes no row (empty bitmap), which is why the sliding variant
    needs no carry-forward trick, unlike the cumulative one. The oracle
    is the quadratic re-scan formulation.
    """
    ev = load(spark, sf_dir, "events")
    per_bucket = ev.groupBy(
        F.to_date("ts").alias("day"),
        F.bitmap_bucket_number("user_id").alias("bucket"),
    ).agg(F.bitmap_construct_agg(F.bitmap_bit_position("user_id")).alias("bm"))
    # the day grid comes from the bitmap table, not a second raw scan
    days = per_bucket.select("day").distinct()
    merged = (
        days.alias("g")
        .join(
            per_bucket.alias("c"),
            F.col("c.day").between(F.date_sub(F.col("g.day"), 6), F.col("g.day")),
        )
        .groupBy(F.col("g.day").alias("day"), "bucket")
        .agg(F.bitmap_count(F.bitmap_or_agg("bm")).alias("cnt"))
    )
    return merged.groupBy("day").agg(
        F.sum("cnt").cast("bigint").alias("n_users_7d")
    )


_RI_CUTOFF = "2024-01-15 00:00:00"


def _timegrain_partial(spark: SparkSession, ev: DataFrame, view: str) -> DataFrame:
    """Timegrain rollup with EXACT mergeable partials: counts + decimal
    sums (not doubles — doubles don't re-merge bit-exactly)."""
    ev.createOrReplaceTempView(view)
    return spark.sql(f"""
        SELECT
          CASE WHEN GROUPING(h) = 0 THEN 'hour'
               WHEN GROUPING(d) = 0 THEN 'day'
               ELSE 'week' END AS grain,
          COALESCE(h, d, w) AS bucket_start,
          COUNT(*) AS n_events,
          CAST(SUM(CAST(value AS DECIMAL(14,6))) AS DECIMAL(38,6)) AS sv
        FROM (
          SELECT date_trunc('hour', ts) AS h,
                 date_trunc('day', ts)  AS d,
                 date_trunc('week', ts) AS w,
                 value
          FROM {view}
        )
        GROUP BY GROUPING SETS ((h), (d), (w))
    """)


@register("rollup_incremental", oracle=_TIMEGRAIN_SQL)
def rollup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate REFRESH — the maintenance op behind
    `rollup_timegrain`'s serving story (TimescaleDB's refresh policy /
    Druid's delta ingest): the materialized hour/day/week rollup of
    history (events ≤ cutoff, persisted via `materialize_stamped`)
    absorbs an increment (events > cutoff) by MERGING partials on
    (grain, bucket) — buckets straddling the cutoff (the cutoff week)
    simply receive contributions from both sides and re-merge.

    Why it's exact: the materialized table stores the DECIMAL partial
    sums, not their double projection — decimal partials re-aggregate
    associatively, doubles don't. The final double conversion happens
    once, after the merge, through the same sql_dsum output lane as the
    batch rollup — so the ORACLE IS THE FULL REBUILD (rollup_timegrain's
    SQL verbatim): merge-maintained must be indistinguishable from
    recomputed, the contract of incremental aggregate maintenance.
    Work scales with |increment| + |touched buckets|, never history.
    """
    import os  # noqa: PLC0415

    from cpt_database_sync_spark.sources.sync import scratch_dir  # noqa: PLC0415
    from cpt_database_sync_spark.sources.tables import (  # noqa: PLC0415
        materialize_stamped,
    )

    ev = load(spark, sf_dir, "events").select("ts", "value")

    def build(d: str) -> None:
        _timegrain_partial(
            spark, ev.filter(F.col("ts") <= _RI_CUTOFF), "_ri_hist"
        ).write.mode("overwrite").parquet(d)

    dim_dir = materialize_stamped(
        os.path.join(sf_dir, "events.parquet"),
        os.path.join(
            scratch_dir(), "rollup_dim", os.path.basename(sf_dir.rstrip("/"))
        ),
        build,
    )
    hist = spark.read.parquet(dim_dir)
    incr = _timegrain_partial(
        spark, ev.filter(F.col("ts") > _RI_CUTOFF), "_ri_incr"
    )
    merged = (
        hist.unionByName(incr)
        .groupBy("grain", "bucket_start")
        .agg(
            F.sum("n_events").cast("long").alias("n_events"),
            F.sum("sv").alias("sv"),
        )
    )
    return merged.select(
        "grain",
        "bucket_start",
        "n_events",
        F.col("sv").cast("decimal(18,6)").cast("double").alias("sum_value"),
    )


@register(
    "sessionize_builtin",
    oracle=f"""
    WITH marked AS (
      SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL {SESSION_GAP_MIN} MINUTE
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
      SELECT user_id, ts,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sess_num
      FROM marked
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM sessions
    GROUP BY user_id, sess_num
    """,
)
def sessionize_builtin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via Spark's BUILT-IN ``session_window`` — the same
    semantics `sessionize` builds from lag + running sum, computed by
    the engine's native merging session-window aggregate instead (one
    shuffle, per-key in-sort window merging, no second window pass).
    Two genuinely different algorithms, one oracle — the algorithm
    cross-check discipline (`join_interval`, `join_asof_nearest`): if
    Spark's session merging and the manual gap formulation ever
    disagree on a boundary (the >-vs->= gap edge, an equal-ts tie),
    this key hash-fails. Also the batch twin of `stream_session`'s
    streaming session_window — same builtin, both paths checked.

    Semantics note (empirically pinned, not assumed): session_window's
    boundary is INCLUSIVE — an event at exactly prev + gap merges into
    the running session; only strictly-beyond-gap events open a new one
    (sessions [a, a+g] and [b, b+g] overlap when b <= a+g). That is
    precisely the manual op's / oracle's strict ">" split, so the two
    formulations agree FOR ANY INPUT including exact-boundary hits —
    tests/test_units.py::test_sessionize_builtin_exact_gap_boundary
    probes both sides of the microsecond edge (ADVICE r7 suspected the
    opposite, half-open, semantics; the probe refutes it).
    """
    ev = load(spark, sf_dir, "events")
    grouped = ev.groupBy(
        "user_id",
        F.session_window("ts", f"{SESSION_GAP_MIN} minutes").alias("sw"),
    ).agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    return grouped.select("user_id", "session_start", "session_end", "n_events")


HOLDOUT_NIBBLE = 3  # md5 first nibble < 3 → holdout (~18.75% of users)


@register(
    "split_train_holdout",
    oracle=f"""
    WITH assign AS (
      SELECT user_id,
             CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 1))
                       AS INT) < {HOLDOUT_NIBBLE}
                  THEN 'holdout' ELSE 'train' END AS split
      FROM (SELECT DISTINCT user_id FROM events)
    )
    SELECT a.split,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users
    FROM events e JOIN assign a ON e.user_id = a.user_id
    GROUP BY a.split
    """,
)
def split_train_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP-AWARE train/holdout split — the leakage guard every eval
    pipeline needs: splitting EVENTS at random puts the same user on
    both sides and the model memorizes its way to a fake eval win, so
    the split key is the USER (hash-gated md5 nibble, reproducible
    without any stored assignment table). Output is the audit row per
    split: event and user counts — the unit test asserts the disjoint-
    users invariant directly.

    The split expression evaluates inline on the fact's own key — at
    100 TB this is a map-only predicate (no assignment join at all;
    the join here mirrors the oracle's spelling). Deterministic: the
    same user lands in the same split on every run, every engine, every
    refresh — which is what makes held-out contamination checks
    (`contamination_check`) meaningful across corpus versions.
    """
    ev = load(spark, sf_dir, "events")
    nib = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 1), 16, 10
    ).cast("int")
    split = F.when(nib < HOLDOUT_NIBBLE, F.lit("holdout")).otherwise(
        F.lit("train")
    )
    return (
        ev.select(split.alias("split"), "user_id")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
    )


@register(
    "agg_bitmap_overlap",
    oracle="""
    WITH seg AS (SELECT DISTINCT event_type, user_id FROM events),
    sizes AS (SELECT event_type, COUNT(*) AS n FROM seg GROUP BY event_type),
    inter AS (
      SELECT a.event_type AS ta, b.event_type AS tb, COUNT(*) AS n_both
      FROM seg a JOIN seg b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY a.event_type, b.event_type
    )
    SELECT
      sa.event_type AS type_a,
      sb.event_type AS type_b,
      CAST(sa.n AS BIGINT) AS n_a,
      CAST(sb.n AS BIGINT) AS n_b,
      CAST(COALESCE(i.n_both, 0) AS BIGINT) AS n_both,
      CAST(COALESCE(i.n_both, 0) AS DOUBLE)
        / (sa.n + sb.n - COALESCE(i.n_both, 0)) AS jaccard
    FROM sizes sa
    JOIN sizes sb ON sa.event_type < sb.event_type
    LEFT JOIN inter i ON i.ta = sa.event_type AND i.tb = sb.event_type
    """,
)
def agg_bitmap_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact audience-overlap matrix — |A∩B| and Jaccard for every
    unordered segment pair — via BITMAPS and inclusion–exclusion, never
    a user-level self-join. The third member of the bitmap serving
    family: distinct_users_* answer reach (OR across time), this answers
    OVERLAP (the AND the engine lacks a builtin for, recovered as
    |A∩B| = |A| + |B| − |A∪B| with |A∪B| from ``bitmap_or_agg``).

    Physics: the fact table is scanned ONCE into per-(segment, bucket)
    bitmaps — after that every quantity is arithmetic on K×buckets tiny
    rows. The oracle's formulation (DISTINCT pairs self-joined on
    user_id) shuffles |users|·k̄² rows and re-scans per pair; the bitmap
    form shuffles fixed-size bit vectors and re-aggregates, which is
    why stored segment bitmaps are THE audience-overlap layout at 100 TB
    (one pass to maintain, any pair answerable offline). The pair
    expansion joins a 10-row pair list back to the bitmap table twice —
    both broadcast equi-joins; Jaccard divides two exact BIGINTs in one
    IEEE step.
    """
    from cpt_database_sync_spark.session import bounded_cache  # noqa: PLC0415

    ev = load(spark, sf_dir, "events")
    seg = bounded_cache(
        "agg_bitmap_overlap.seg",
        ev.groupBy(
            "event_type",
            F.bitmap_bucket_number("user_id").alias("bucket"),
        ).agg(F.bitmap_construct_agg(F.bitmap_bit_position("user_id")).alias("bm")),
    )
    sizes = seg.groupBy("event_type").agg(
        F.sum(F.bitmap_count("bm")).alias("n")
    )
    pairs = (
        sizes.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
        .join(
            sizes.select(
                F.col("event_type").alias("type_b"), F.col("n").alias("n_b")
            ),
            F.col("type_a") < F.col("type_b"),
        )
    )
    # union popcount: stack BOTH segments' bucket bitmaps under the pair
    # label, OR within bucket, popcount, sum across buckets
    stacked = pairs.select("type_a", "type_b").join(
        seg, F.col("type_a") == F.col("event_type")
    ).select("type_a", "type_b", "bucket", "bm").unionByName(
        pairs.select("type_a", "type_b")
        .join(seg, F.col("type_b") == F.col("event_type"))
        .select("type_a", "type_b", "bucket", "bm")
    )
    union_cnt = (
        stacked.groupBy("type_a", "type_b", "bucket")
        .agg(F.bitmap_count(F.bitmap_or_agg("bm")).alias("u"))
        .groupBy("type_a", "type_b")
        .agg(F.sum("u").alias("n_union"))
    )
    return (
        pairs.join(union_cnt, ["type_a", "type_b"])
        .withColumn("n_both", F.col("n_a") + F.col("n_b") - F.col("n_union"))
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "n_both",
            (F.col("n_both").cast("double") / F.col("n_union")).alias("jaccard"),
        )
    )


@register(
    "gapfill_interpolate",
    oracle="""
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             SUM(CAST(value AS DECIMAL(18,6))) AS v
      FROM events GROUP BY 1, 2
    ),
    cal AS (
      SELECT user_id,
             CAST(unnest(generate_series(min(day), max(day),
                                         INTERVAL 1 DAY)) AS DATE) AS day
      FROM daily GROUP BY user_id
    ),
    j AS (
      SELECT c.user_id, c.day, d.v
      FROM cal c LEFT JOIN daily d USING (user_id, day)
    ),
    brk AS (
      SELECT user_id, day, v,
        CAST(last_value(v IGNORE NULLS) OVER wb AS DOUBLE) AS pv,
        last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
          OVER wb AS pd,
        CAST(first_value(v IGNORE NULLS) OVER wf AS DOUBLE) AS nv,
        first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
          OVER wf AS nd
      FROM j
      WINDOW
        wb AS (PARTITION BY user_id ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        wf AS (PARTITION BY user_id ORDER BY day
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, day,
           CASE WHEN v IS NOT NULL THEN CAST(v AS DOUBLE)
                ELSE pv + (nv - pv)
                     * (CAST(day - pd AS DOUBLE) / CAST(nd - pd AS DOUBLE))
           END AS value_interp,
           CAST(v IS NULL AS INT) AS is_gap
    FROM brk
    """,
)
def gapfill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINEAR interpolation gap fill — gapfill_daily's LOCF sibling for
    quantities that drift rather than hold (sensor readings, balances):
    a missing day takes pv + (nv − pv) · (d − pd)/(nd − pd) between its
    bracketing observations. Same densify-then-window physics (calendar
    explode proportional to span, ONE user-keyed shuffle feeding both
    frame directions over one sort); the backward frame carries the
    last observed (value, day), the forward frame the next.

    Exactness: daily sums stay decimal until ONE cast to double; the
    day fractions are exact-integer divisions; the interpolation
    expression tree is written IDENTICALLY on both engines, so every
    IEEE step is the same operation on the same bits — deterministic
    without any rounding tolerance. Observed days short-circuit to
    their own value (the gap formula would hit 0/0 at d = pd = nd);
    interior gaps always have both neighbors because the calendar spans
    exactly [first, last] observed day.
    """
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.sum(F.col("value").cast("decimal(18,6)")).alias("v")
    )
    cal = (
        daily.groupBy("user_id")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select("user_id", F.explode(F.sequence("d0", "d1")).alias("day"))
    )
    j = cal.join(daily, ["user_id", "day"], "left")
    wb = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_day = F.when(F.col("v").isNotNull(), F.col("day"))
    brk = j.select(
        "user_id",
        "day",
        "v",
        F.last(F.col("v"), ignorenulls=True).over(wb).cast("double").alias("pv"),
        F.last(obs_day, ignorenulls=True).over(wb).alias("pd"),
        F.first(F.col("v"), ignorenulls=True).over(wf).cast("double").alias("nv"),
        F.first(obs_day, ignorenulls=True).over(wf).alias("nd"),
    )
    frac = F.datediff("day", "pd").cast("double") / F.datediff(
        "nd", "pd"
    ).cast("double")
    return brk.select(
        "user_id",
        "day",
        F.when(F.col("v").isNotNull(), F.col("v").cast("double"))
        .otherwise(F.col("pv") + (F.col("nv") - F.col("pv")) * frac)
        .alias("value_interp"),
        F.col("v").isNull().cast("int").alias("is_gap"),
    )


@register(
    "funnel_latency",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS fv
      FROM events GROUP BY user_id
    ),
    conv AS (
      SELECT f.user_id,
             epoch_us(MIN(e.ts)) - epoch_us(MIN(f.fv)) AS lat_us
      FROM firsts f
      JOIN events e ON e.user_id = f.user_id
                   AND e.event_type = 'purchase'
                   AND e.ts >= f.fv
      GROUP BY f.user_id
    )
    SELECT
      (SELECT CAST(COUNT(fv) AS BIGINT) FROM firsts) AS n_viewed,
      CAST(COUNT(*) AS BIGINT) AS n_converted,
      CAST(COUNT(*) AS DOUBLE)
        / (SELECT COUNT(fv) FROM firsts) AS conv_rate,
      quantile_cont(lat_us, 0.5) / 1e6 AS p50_latency_s,
      quantile_cont(lat_us, 0.9) / 1e6 AS p90_latency_s
    FROM conv
    """,
    tags=("reverify:r13",),
)
def funnel_latency(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Time-to-convert — the metric `funnel` (stage counts) doesn't
    answer: among users whose first 'view' was eventually followed by a
    'purchase', how LONG did conversion take (p50/p90)? Product teams
    watch the latency shift, not just the rate.

    Semantics: first view per user, then the first purchase AT-OR-AFTER
    it (a purchase before any view is not a conversion); latency in
    exact integer microseconds. Physics: one user-keyed aggregation for
    first views, one purchase-filtered join back on the SAME key (the
    shuffle is reused), and a single-row rollup — the percentile is the
    exact order-statistic interpolation over |converted| integers
    (agg_percentile's bit-parity precedent: F.percentile ≡
    quantile_cont), divided by 1e6 AFTER interpolation so both engines
    run the identical IEEE steps.

    Small lane (``lanes`` "single_task_rows", events footer count):
    Spark's built-in exact Percentile, whose single-group value buffer
    is |converted users|-sized. Scale lane:
    ``ranks.group_quantiles_cont`` with NO group column: per distinct
    latency rollup → hour-wide chunked cumulative counts (|chunks| is
    bounded by the event-time span in hours, never by the corpus) →
    bracketing order statistics by rank → Percentile's own
    interpolation as a closed form. The |chunks|-row unpartitioned
    prefix is the audited bounded class (mann_whitney_u's
    justification).
    """
    ev = load(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("fv")
    )
    conv = (
        ev.filter(F.col("event_type") == "purchase")
        .join(firsts, "user_id")
        .filter(F.col("ts") >= F.col("fv"))
        .groupBy("user_id")
        .agg(
            (
                F.unix_micros(F.min("ts")) - F.unix_micros(F.min("fv"))
            ).alias("lat_us")
        )
    )
    viewed = firsts.agg(F.count("fv").alias("n_viewed"))
    if lanes.exceeds("single_task_rows", table_rowcount(sf_dir, "events")):
        from cpt_database_sync_spark.operators.ranks import (  # noqa: PLC0415
            group_quantiles_cont,
        )

        stats = group_quantiles_cont(
            conv.select(F.col("lat_us").cast("double").alias("lat_us")),
            [],
            "lat_us",
            {"p50_us": 0.5, "p90_us": 0.9},
            chunk_width=LAT_US_CHUNK_WIDTH,
        ).select(
            # empty-input degenerate: the global agg still emits one
            # row, n = max over nothing = NULL — the small lane's
            # count() says 0 there.
            F.coalesce(F.col("n"), F.lit(0)).alias("n_converted"),
            "p50_us",
            "p90_us",
        )
    else:
        stats = conv.agg(
            F.count(F.lit(1)).alias("n_converted"),
            F.percentile("lat_us", 0.5).alias("p50_us"),
            F.percentile("lat_us", 0.9).alias("p90_us"),
        )
    return stats.crossJoin(F.broadcast(viewed)).select(
        F.col("n_viewed").cast("bigint").alias("n_viewed"),
        F.col("n_converted").cast("bigint").alias("n_converted"),
        # try_divide: zero viewers (empty input) must yield NULL like the
        # oracle's x/0, not an ANSI DIVIDE_BY_ZERO abort
        F.try_divide(F.col("n_converted").cast("double"), F.col("n_viewed")).alias(
            "conv_rate"
        ),
        (F.col("p50_us") / F.lit(1e6)).alias("p50_latency_s"),
        (F.col("p90_us") / F.lit(1e6)).alias("p90_latency_s"),
    )


@register(
    "running_balance_clamped",
    oracle="""
    WITH deltas AS (
      SELECT user_id, ts, event_id,
             CAST(CASE WHEN event_type = 'purchase' THEN -value
                       WHEN event_type IN ('view', 'signup') THEN value
                       ELSE 0 END AS DOUBLE) AS delta
      FROM events
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           list_reduce(
             list_prepend(CAST(0 AS DOUBLE),
                          list(delta ORDER BY ts, event_id)),
             (acc, x) -> greatest(acc + x, CAST(0 AS DOUBLE))
           ) AS final_balance
    FROM deltas
    GROUP BY user_id
    """,
)
def running_balance_clamped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clamped running balance — credits accrue (view/signup) and spend
    (purchase) but the balance NEVER goes below zero. This is the class
    of computation window functions cannot express at all: the clamp
    makes each step depend on the clamped PREVIOUS step (max(acc+x, 0)
    is not associative, has no prefix-sum decomposition), so it must run
    as an ordered per-key FOLD. Here the fold is a JVM-side higher-order
    ``aggregate`` over the user's (ts, event_id)-sorted deltas — the
    same expression DuckDB runs as list_reduce, so the oracle replays
    the identical IEEE sequence (sequential order fixed ⇒ bit-equal
    without any decimal lane).

    Scale: one user-keyed shuffle; the per-user array is that user's
    event count — fine for clickstream cardinalities (10³-ish rows/key).
    For keys with millions of rows the same fold runs incrementally as
    stateful streaming (stream_sessionize_stateful's shape: the clamped
    balance is one state value, folding each micro-batch in order) —
    the array form IS the batch/backfill path.
    """
    ev = load(spark, sf_dir, "events")
    delta = (
        F.when(F.col("event_type") == "purchase", -F.col("value"))
        .when(F.col("event_type").isin("view", "signup"), F.col("value"))
        .otherwise(F.lit(0))
        .cast("double")
    )
    rows = ev.select("user_id", F.struct("ts", "event_id", delta.alias("d")).alias("r"))
    return rows.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.expr(
            "aggregate(transform(sort_array(collect_list(r)), s -> s.d),"
            " cast(0.0 as double),"
            " (acc, x) -> greatest(acc + x, cast(0.0 as double)))"
        ).alias("final_balance"),
    )


ATTRIB_WINDOW_DAYS = 7


@register(
    "attribution_linear",
    oracle=f"""
    WITH purchases AS (
      SELECT event_id, user_id, ts, CAST(value AS DOUBLE) AS value
      FROM events WHERE event_type = 'purchase'
    ),
    touches AS (
      SELECT user_id, ts, event_type
      FROM events WHERE event_type IN ('view', 'click')
    )
    SELECT
      p.event_id,
      p.value,
      CAST(COUNT(t.ts) AS BIGINT) AS n_touches,
      CAST(COUNT(CASE WHEN t.event_type = 'view' THEN 1 END) AS BIGINT)
        AS n_views,
      CAST(COUNT(CASE WHEN t.event_type = 'click' THEN 1 END) AS BIGINT)
        AS n_clicks,
      CASE WHEN COUNT(t.ts) > 0
           THEN p.value / COUNT(t.ts) END AS credit_per_touch
    FROM purchases p
    LEFT JOIN touches t
      ON t.user_id = p.user_id
     AND t.ts <  p.ts
     AND t.ts >= p.ts - INTERVAL {ATTRIB_WINDOW_DAYS} DAY
    GROUP BY p.event_id, p.value
    """,
)
def attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear (equal-credit) marketing attribution: each purchase splits
    its value evenly across the user's view/click touches in the
    preceding {7}-day window. Emitted PER PURCHASE (touch counts by type
    + credit-per-touch) rather than pre-aggregated — deliberately: the
    per-purchase credit is ONE exact IEEE division, while summing
    float credits across purchases is summation-order-dependent; a
    consumer who wants channel totals re-aggregates at report scale
    (or swaps in the decimal lane). Purchases with no touches surface
    with NULL credit — the unattributable revenue a report must not
    silently drop (hence LEFT join, the Q13 outer-join-before-agg
    lesson).

    Physics: a user-keyed join with a time-RANGE residual — the
    bounded-lookback shape shared with join_asof_tolerance; both sides
    shuffle once on user_id and the window condition filters in the
    join. At 100 TB, day-bucket both sides (join_interval's grid) so
    the range condition becomes an equi-join on (user, day-bucket)
    with a ±1-bucket union.
    """
    ev = load(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.col("value").cast("double").alias("value")
    )
    touches = ev.filter(F.col("event_type").isin("view", "click")).select(
        F.col("user_id").alias("t_user"),
        F.col("ts").alias("t_ts"),
        F.col("event_type").alias("t_type"),
    )
    window_us = ATTRIB_WINDOW_DAYS * 86400 * 1_000_000
    joined = purchases.join(
        touches,
        (F.col("t_user") == F.col("user_id"))
        & (F.col("t_ts") < F.col("ts"))
        & (
            F.unix_micros("t_ts")
            >= F.unix_micros("ts") - F.lit(window_us)
        ),
        "left",
    )
    return joined.groupBy("event_id", "value").agg(
        F.count("t_ts").alias("n_touches"),
        F.count(F.when(F.col("t_type") == "view", 1)).alias("n_views"),
        F.count(F.when(F.col("t_type") == "click", 1)).alias("n_clicks"),
        F.when(
            F.count("t_ts") > 0, F.col("value") / F.count("t_ts")
        ).alias("credit_per_touch"),
    )


MAD_K = 3.0  # flag |value - median| > 3 MADs (≈ 2σ for normal data)

_MAD_SQL = f"""
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type
    ),
    mad AS (
      SELECT e.event_type,
             quantile_cont(abs(e.value - m.med), 0.5) AS mad
      FROM events e JOIN med m USING (event_type)
      WHERE e.value IS NOT NULL
      GROUP BY e.event_type
    )
    SELECT e.event_id, e.event_type, e.value,
           round(m.med, 9) AS med, round(d.mad, 9) AS mad,
           round((e.value - m.med) / NULLIF(d.mad, 0), 9) AS score
    FROM events e
    JOIN med m USING (event_type)
    JOIN mad d USING (event_type)
    WHERE abs(e.value - m.med) > {MAD_K} * d.mad
"""


@register("anomaly_mad", oracle=_MAD_SQL)
def anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation outlier flagging — `anomaly_zscore`'s
    ROBUST sibling: the z-score gate breaks down exactly when it is
    needed most (outliers inflate the mean/σ they are measured
    against, masking themselves); median and MAD have a 50 %
    breakdown point, so a telemetry channel where half the readings
    went bad still flags correctly. Flags events whose |value −
    per-type median| exceeds MAD_K · MAD, with the signed
    MAD-normalized score (NULL when MAD = 0: a constant-majority
    channel has no robust scale to normalize by, though the flag
    itself still fires on any deviation).

    Exactness: median and MAD are order statistics, not accumulations
    — Spark's exact ``percentile`` and DuckDB's ``quantile_cont``
    both linearly interpolate the same two order-adjacent doubles
    (the bit-parity precedent `window_rolling_median` pins), and the
    flag compares doubles produced by the identical expression tree
    on both engines.

    Physics: two aggregation passes over events (per-type median,
    then per-type MAD of the residuals vs the broadcast |types|-row
    median relation) and one map-only flagging pass — no window over
    the corpus, no sort of the full data on one node; exact
    percentile sorts WITHIN each type's aggregation buffer. At 100 TB
    swap both order statistics for ``approx_percentile`` (the
    `agg_percentile` lane) — same plan, sketch-sized state.
    """
    ev = load(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.percentile("value", 0.5).alias("med")
    )
    mad = (
        ev.join(F.broadcast(med), "event_type")
        .filter(F.col("value").isNotNull())
        .groupBy("event_type")
        .agg(F.percentile(F.abs(F.col("value") - F.col("med")), 0.5).alias("mad"))
    )
    return (
        ev.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .filter(F.abs(F.col("value") - F.col("med")) > MAD_K * F.col("mad"))
        .select(
            "event_id",
            "event_type",
            "value",
            F.round("med", 9).alias("med"),
            F.round("mad", 9).alias("mad"),
            F.round(
                F.try_divide(
                    F.col("value") - F.col("med"),
                    F.nullif(F.col("mad"), F.lit(0.0)),
                ),
                9,
            ).alias("score"),
        )
    )


PATH_LEN = 3  # leading events that define a session's path signature
MIN_PATH_SESS = 3  # report paths taken by at least this many sessions

_PATH_TOPK_SQL = f"""
    WITH marked AS (
      SELECT user_id, event_id, ts, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL {SESSION_GAP_MIN} MINUTE
                  THEN 1 ELSE 0 END AS new_sess
      FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
      SELECT user_id, ts, event_id, event_type,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sess_num
      FROM marked
    ),
    paths AS (
      SELECT user_id, sess_num,
             array_to_string(
               (list(event_type ORDER BY ts, event_id))[1:{PATH_LEN}],
               '>') AS path
      FROM sessions GROUP BY user_id, sess_num
    ),
    pc AS (SELECT path, count(*) AS cnt FROM paths GROUP BY path),
    n AS (SELECT SUM(cnt) AS n_sessions FROM pc)
    SELECT path,
           CAST(cnt AS BIGINT) AS n_sess,
           round(CAST(cnt AS DOUBLE) / (SELECT n_sessions FROM n), 9)
             AS share
    FROM pc WHERE cnt >= {MIN_PATH_SESS}
"""


@register("session_path_topk", oracle=_PATH_TOPK_SQL, tags=("reverify:r10",))
def session_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common session-opening paths — the sequence-mining rollup behind
    every "user flow" sankey: each session's signature is its first
    PATH_LEN event types in time order ('view>click>purchase'), and
    paths taken by ≥ MIN_PATH_SESS sessions surface with their session
    count and share of all sessions. `funnel` asks "did the canonical
    order happen?"; this asks the open-ended converse — WHICH orders
    actually happen, ranked (the input to funnel design, not the check
    of it).

    Reuses `sessionize`'s exact windows (gap flag + running sum, the
    same (ts, event_id) total-order tie-break). Untyped (NULL
    event_type) events carry no path information and are out of
    contract on BOTH sides before sessionization — necessary anyway:
    Spark's collect_list silently skips NULLs while DuckDB's list()
    keeps them, so an unfiltered path string would diverge. Counts are
    exact BIGINTs; share is one exact-int/exact-int division against
    the path-count-summed session total (never a second pass over
    sessions).

    Physics: one user-keyed shuffle feeds both window passes; the
    session rollup re-aggregates already-clustered data; the per-path
    count is map-side combined on a |distinct paths|-sized domain
    (bounded by |event types|^PATH_LEN, not by the corpus), and the
    grand total re-aggregates the checkpointed path-count relation —
    raw sessions are never re-scanned (plan-gated).
    """
    # ts IS NOT NULL on BOTH sides (ADVICE r10): Spark windows sort
    # NULLS FIRST, DuckDB NULLS LAST, so a NULL-ts event would take a
    # different position in the path signature on each engine; a
    # timestampless event also carries no session position by contract.
    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type").isNotNull())
        .filter(F.col("ts").isNotNull())
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wsum = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    gap_us = SESSION_GAP_MIN * 60 * 1_000_000
    marked = ev.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
                > gap_us
            ),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("new_sess"),
    )
    sessions = marked.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.sum("new_sess").over(wsum).alias("sess_num"),
    )
    paths = sessions.groupBy("user_id", "sess_num").agg(
        F.array_join(
            F.transform(
                F.slice(
                    F.sort_array(
                        F.collect_list(F.struct("ts", "event_id", "event_type"))
                    ),
                    1,
                    PATH_LEN,
                ),
                lambda s: s.event_type,
            ),
            ">",
        ).alias("path")
    )
    # pc feeds BOTH the output filter and the session grand total; cut
    # lineage on the |paths|-sized relation so the session pipeline runs
    # exactly once — plan-gated.
    pc = (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=False)
    )
    n = pc.agg(F.sum("cnt").alias("n_sessions"))
    return (
        pc.filter(F.col("cnt") >= MIN_PATH_SESS)
        .crossJoin(F.broadcast(n))
        .select(
            "path",
            F.col("cnt").cast("bigint").alias("n_sess"),
            F.round(
                F.col("cnt").cast("double") / F.col("n_sessions"), 9
            ).alias("share"),
        )
    )


ANOM_ACC = 10000  # GK sketch accuracy for the approx robust-stats lane

_MAD_APPROX_SQL = f"""
    WITH med AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COUNT(value) AS BIGINT) AS nv,
             quantile_cont(value, 0.5) AS med
      FROM events WHERE event_type IS NOT NULL GROUP BY event_type
    ),
    mad AS (
      SELECT e.event_type,
             quantile_cont(abs(e.value - m.med), 0.5) AS mad
      FROM events e JOIN med m USING (event_type)
      WHERE e.value IS NOT NULL
      GROUP BY e.event_type
    ),
    flags AS (
      SELECT e.event_type,
             CAST(COUNT(CASE WHEN abs(e.value - m.med) > {MAD_K} * d.mad
                        THEN 1 END) AS BIGINT) AS n_flagged
      FROM events e
      JOIN med m USING (event_type)
      JOIN mad d USING (event_type)
      GROUP BY e.event_type
    )
    SELECT m.event_type, m.n, m.nv,
           round(m.med, 9) AS med, round(d.mad, 9) AS mad,
           COALESCE(f.n_flagged, 0) AS n_flagged,
           TRUE AS approx_med_ok, TRUE AS approx_mad_ok
    FROM med m
    LEFT JOIN mad d USING (event_type)
    LEFT JOIN flags f USING (event_type)
"""
# LEFT joins: a channel whose values are all NULL has a count row but no
# residual distribution — med/mad NULL, zero flags, rank flags vacuously
# TRUE (both sides).


@register("anomaly_mad_approx", oracle=_MAD_APPROX_SQL)
def anomaly_mad_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`anomaly_mad`'s documented 100 TB lane made checkable (VERDICT r9
    next #5): both order statistics swapped for ``percentile_approx``
    (Greenwald-Khanna — constant memory per group, mergeable partials;
    the exact percentile re-buffers each group's values every run), with
    the sketch contract converted into exact pass/fail flags the oracle
    asserts — the ``agg_approx_percentile`` discipline applied to the
    robust-stats gate:

    - ``approx_med_ok`` / ``approx_mad_ok``: each sketch value's exact
      rank interval [count< + 1, count<=] must intersect the target
      rank ± nv/ACC (+1 row of slop below one-row windows). Rank
      counting is one map-only pass against the broadcast sketch row —
      never a second sort.
    - ``n_flagged``: the anomaly gate count itself (|value − med| >
      K·mad), exact and oracle-stated BIGINT — the gate pass stays in
      the plan (broadcast stats, map-side-combined count), proving the
      plan shape the approx swap preserves.

    Emitted values are the EXACT stats (bit-checkable); sketch outputs
    appear only inside the rank flags — GK results can vary with
    partition merge order, so they are contract-checked, never
    hash-compared (the ``agg_approx_distinct`` precedent). The MAD
    sketch runs over residuals about the exact median so the oracle can
    restate its rank contract; a production gate bases both statistics
    on the sketches — identical plan, identical contract structure.
    NULL event_type carries no channel identity and is out of contract
    on both sides (the oracle's USING joins would drop the NULL group
    Spark's groupBy keeps).

    Physics (unchanged from anomaly_mad, the "Done" condition): two
    aggregation passes over events plus one map-only gate/rank pass,
    every statistics relation |types|-sized, lineage-cut (so the
    multi-consumer DAG provably re-reads the tiny snapshots, never the
    corpus — plan-gated at exactly one live fact scan) and broadcast —
    no window over the corpus, no corpus sort; the sketch swap is what
    removes the exact percentile's per-group value buffer at 100 TB.
    """
    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type").isNotNull())
        .select("event_type", "value")
    )
    # pass 1: per-type counts, exact median, median sketch
    p1 = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.count("value").alias("nv"),
        F.percentile("value", 0.5).alias("med"),
        F.percentile_approx("value", 0.5, ANOM_ACC).alias("a_med"),
    ).localCheckpoint(eager=False)
    s1 = p1.select(F.col("event_type").alias("t1"), "a_med", "med")
    # pass 2: residuals about the exact median — exact MAD, the MAD
    # sketch, and the a_med rank counts, in one aggregation
    resid = F.abs(F.col("value") - F.col("med"))
    p2 = (
        ev.join(F.broadcast(s1), F.col("event_type") == F.col("t1"))
        .filter(F.col("value").isNotNull())
        .groupBy("event_type")
        .agg(
            F.percentile(resid, 0.5).alias("mad"),
            F.percentile_approx(resid, 0.5, ANOM_ACC).alias("a_mad"),
            F.sum((F.col("value") < F.col("a_med")).cast("long")).alias("lt_med"),
            F.sum((F.col("value") <= F.col("a_med")).cast("long")).alias("le_med"),
        )
        .withColumnRenamed("event_type", "t2")
        .localCheckpoint(eager=False)
    )
    stats = p1.join(
        F.broadcast(p2), F.col("event_type") == F.col("t2"), "left"
    ).drop("t2")
    sb = stats.select(
        F.col("event_type").alias("t3"), "med", "mad", "a_mad"
    )
    # pass 3 (the map-only gate + a_mad rank counts): one broadcast
    # join, one map-side-combined aggregation
    r3 = F.abs(F.col("value") - F.col("med"))
    p3 = (
        ev.join(F.broadcast(sb), F.col("event_type") == F.col("t3"))
        .groupBy("event_type")
        .agg(
            F.sum(
                (F.col("value").isNotNull() & (r3 > MAD_K * F.col("mad")))
                .cast("long")
            ).alias("n_flagged"),
            F.sum(
                (F.col("value").isNotNull() & (r3 < F.col("a_mad"))).cast("long")
            ).alias("lt_mad"),
            F.sum(
                (F.col("value").isNotNull() & (r3 <= F.col("a_mad"))).cast("long")
            ).alias("le_mad"),
        )
        .withColumnRenamed("event_type", "t4")
    )
    out = stats.join(
        F.broadcast(p3), F.col("event_type") == F.col("t4"), "left"
    )

    def rank_ok(lt: str, le: str, sketch: str) -> F.Column:
        target = F.lit(0.5) * F.col("nv")
        err = F.col("nv") / F.lit(ANOM_ACC) + 1
        cond = (F.col(lt) + 1 <= target + err) & (F.col(le) >= target - err)
        return F.when(F.col(sketch).isNull(), F.lit(True)).otherwise(cond)

    return out.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.col("nv").cast("long").alias("nv"),
        F.round("med", 9).alias("med"),
        F.round("mad", 9).alias("mad"),
        F.coalesce(F.col("n_flagged"), F.lit(0)).cast("long").alias("n_flagged"),
        rank_ok("lt_med", "le_med", "a_med").alias("approx_med_ok"),
        rank_ok("lt_mad", "le_mad", "a_mad").alias("approx_mad_ok"),
    )


# interval_coverage: each event holds the channel for a deterministic
# (event_id % 90) + 1 minutes — the synthetic-interval device
# null_handling's injected NULLs established (the slim fixture carries
# no natural end-timestamp column). Half-open [s, e) union semantics:
# intervals touching end-to-start merge.
IC_MOD_MIN = 90

_INTERVAL_COVERAGE_SQL = f"""
    WITH iv AS (
      SELECT user_id, event_id,
             epoch_us(ts) AS s,
             epoch_us(ts) + ((event_id % {IC_MOD_MIN}) + 1) * 60000000 AS e
      FROM events WHERE ts IS NOT NULL AND event_id IS NOT NULL
    ),
    marked AS (
      SELECT user_id, event_id, s, e,
             CASE WHEN MAX(e) OVER w IS NULL OR s > MAX(e) OVER w
                  THEN 1 ELSE 0 END AS new_island
      FROM iv
      WINDOW w AS (PARTITION BY user_id ORDER BY s, e, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    islands AS (
      SELECT user_id, s, e,
             SUM(new_island) OVER (PARTITION BY user_id
                                   ORDER BY s, e, event_id
                                   ROWS UNBOUNDED PRECEDING) AS isl
      FROM marked
    ),
    merged AS (
      SELECT user_id, isl, MIN(s) AS ms, MAX(e) AS me, COUNT(*) AS n
      FROM islands GROUP BY user_id, isl
    )
    SELECT user_id,
           CAST(SUM(n) AS BIGINT) AS n_events,
           CAST(COUNT(*) AS BIGINT) AS n_islands,
           CAST(SUM(me - ms) AS BIGINT) AS covered_us,
           CAST(MAX(me) - MIN(ms) AS BIGINT) AS span_us
    FROM merged GROUP BY user_id
"""


@register("interval_coverage", oracle=_INTERVAL_COVERAGE_SQL, tags=("reverify:r11",))
def interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged-interval coverage per user — the gaps-and-islands union
    the sessionize family doesn't cover: each event holds the channel
    for a deterministic duration, overlapping/touching holds MERGE
    (half-open [s, e) semantics), and the report is events, merged
    islands, total covered time and first-to-last span per user. This
    is the utilization/SLA primitive (machine busy time, call-center
    occupancy, GPU allocation coverage) — `time_weighted_avg` weights a
    VALUE by holding time; this measures the holding-set union itself.

    Exactness: all arithmetic is BIGINT µs (unix_micros ≡ epoch_us);
    island detection compares s against the running MAX(e) over a
    TOTALLY ordered frame (s, e, event_id — the sessionize tie-break
    discipline), so both engines mark identical islands; NULL ts /
    event_id rows have no interval and are out of contract on both
    sides (also sidestepping NULLS FIRST/LAST divergence).

    Physics: ONE user-keyed shuffle feeds both window passes (same
    clustering); the island rollup and the per-user rollup re-aggregate
    already-clustered data map-side. At 100 TB this is the canonical
    window shape — no self-join (the naive overlap-pairs formulation is
    quadratic per user), no corpus sort, partitions bounded by the
    user-day clustering of the landing layout.
    """
    ev = load(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("event_id").isNotNull()
    )
    s = F.unix_micros("ts")
    e = s + ((F.col("event_id") % IC_MOD_MIN) + 1) * 60_000_000
    iv = ev.select("user_id", "event_id", s.alias("s"), e.alias("e"))
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s", "e", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("s", "e", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pm = F.max("e").over(w_prev)
    marked = iv.select(
        "user_id",
        "event_id",
        "s",
        "e",
        F.when(pm.isNull() | (F.col("s") > pm), F.lit(1))
        .otherwise(F.lit(0))
        .alias("new_island"),
    )
    islands = marked.select(
        "user_id", "s", "e", F.sum("new_island").over(w_run).alias("isl")
    )
    merged = islands.groupBy("user_id", "isl").agg(
        F.min("s").alias("ms"),
        F.max("e").alias("me"),
        F.count(F.lit(1)).alias("n"),
    )
    return merged.groupBy("user_id").agg(
        F.sum("n").cast("long").alias("n_events"),
        F.count(F.lit(1)).cast("long").alias("n_islands"),
        F.sum(F.col("me") - F.col("ms")).cast("long").alias("covered_us"),
        (F.max("me") - F.min("ms")).cast("long").alias("span_us"),
    )


_INTERVAL_GAPS_SQL = f"""
    WITH iv AS (
      SELECT user_id, event_id,
             epoch_us(ts) AS s,
             epoch_us(ts) + ((event_id % {IC_MOD_MIN}) + 1) * 60000000 AS e
      FROM events WHERE ts IS NOT NULL AND event_id IS NOT NULL
    ),
    marked AS (
      SELECT user_id, event_id, s, e,
             CASE WHEN MAX(e) OVER w IS NULL OR s > MAX(e) OVER w
                  THEN 1 ELSE 0 END AS new_island
      FROM iv
      WINDOW w AS (PARTITION BY user_id ORDER BY s, e, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    islands AS (
      SELECT user_id, s, e,
             SUM(new_island) OVER (PARTITION BY user_id
                                   ORDER BY s, e, event_id
                                   ROWS UNBOUNDED PRECEDING) AS isl
      FROM marked
    ),
    merged AS (
      SELECT user_id, isl, MIN(s) AS ms, MAX(e) AS me
      FROM islands GROUP BY user_id, isl
    ),
    gaps AS (
      SELECT user_id, me,
             LEAD(ms) OVER (PARTITION BY user_id ORDER BY isl) AS next_ms
      FROM merged
    )
    SELECT user_id,
           CAST(COUNT(next_ms) AS BIGINT) AS n_gaps,
           CAST(COALESCE(SUM(next_ms - me), 0) AS BIGINT) AS gap_total_us,
           CAST(MAX(next_ms - me) AS BIGINT) AS gap_max_us
    FROM gaps GROUP BY user_id
"""


@register("interval_gaps", oracle=_INTERVAL_GAPS_SQL)
def interval_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Idle-gap profile per user — the COMPLEMENT of
    `interval_coverage`: where coverage measures the holding-set union,
    this measures the holes between merged islands (count, total idle
    µs, longest single outage). The downtime/starvation primitive: SLA
    reports quote both "how long was it busy" and "how long and how
    often was it dark", and the longest gap is the headline incident
    number. Single-island users report 0 gaps (NULL max — no gap
    exists to have a length, distinct from a zero-length one, which
    half-open merge semantics make impossible).

    Exactness: the island derivation is `interval_coverage`'s verbatim
    (same totally ordered (s, e, event_id) frames, same BIGINT µs
    lanes); gaps are LEAD(ms) − me over the islands, strictly positive
    by the merge invariant. NULL ts / event_id rows are out of contract
    on both sides.

    Physics: the SAME one user-keyed shuffle feeds every window pass
    (island marking, running island id, the per-user island LEAD) —
    the merged-island relation is |islands| rows per user, so the gap
    window runs over already-clustered reduced data; nothing
    corpus-sized follows the first exchange.
    """
    ev = load(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("event_id").isNotNull()
    )
    s = F.unix_micros("ts")
    e = s + ((F.col("event_id") % IC_MOD_MIN) + 1) * 60_000_000
    iv = ev.select("user_id", "event_id", s.alias("s"), e.alias("e"))
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s", "e", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("s", "e", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pm = F.max("e").over(w_prev)
    marked = iv.select(
        "user_id",
        "event_id",
        "s",
        "e",
        F.when(pm.isNull() | (F.col("s") > pm), F.lit(1))
        .otherwise(F.lit(0))
        .alias("new_island"),
    )
    islands = marked.select(
        "user_id", "s", "e", F.sum("new_island").over(w_run).alias("isl")
    )
    merged = islands.groupBy("user_id", "isl").agg(
        F.min("s").alias("ms"), F.max("e").alias("me")
    )
    w_isl = Window.partitionBy("user_id").orderBy("isl")
    gaps = merged.select(
        "user_id", "me", F.lead("ms").over(w_isl).alias("next_ms")
    )
    g = F.col("next_ms") - F.col("me")
    return gaps.groupBy("user_id").agg(
        F.count("next_ms").cast("long").alias("n_gaps"),
        F.coalesce(F.sum(g), F.lit(0)).cast("long").alias("gap_total_us"),
        F.max(g).cast("long").alias("gap_max_us"),
    )


_CONC_HIST_SQL = f"""
    WITH iv AS (
      SELECT event_type, event_id,
             epoch_us(ts) AS s,
             epoch_us(ts) + ((event_id % {IC_MOD_MIN}) + 1) * 60000000 AS e
      FROM events
      WHERE ts IS NOT NULL AND event_id IS NOT NULL
        AND event_type IS NOT NULL
    ),
    pts AS (
      SELECT event_type, s AS t, 1 AS delta, event_id FROM iv
      UNION ALL
      SELECT event_type, e AS t, -1 AS delta, event_id FROM iv
    ),
    run AS (
      SELECT event_type, t,
             SUM(delta) OVER w AS running,
             LEAD(t) OVER w AS next_t,
             MAX(t) OVER (PARTITION BY event_type)
               - MIN(t) OVER (PARTITION BY event_type) AS span_us
      FROM pts
      WINDOW w AS (PARTITION BY event_type ORDER BY t, delta, event_id
                   ROWS UNBOUNDED PRECEDING)
    )
    SELECT event_type,
           CAST(running AS BIGINT) AS depth,
           CAST(SUM(next_t - t) AS BIGINT) AS dur_us,
           round(CAST(SUM(next_t - t) AS DOUBLE)
                 / CAST(MAX(span_us) AS DOUBLE), 9) AS share
    FROM run
    WHERE next_t IS NOT NULL
    GROUP BY event_type, running
    HAVING SUM(next_t - t) > 0
"""


@register(
    "concurrency_histogram", oracle=_CONC_HIST_SQL, tags=("reverify:r13",)
)
def concurrency_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Duration-weighted concurrency-DEPTH histogram per channel —
    `concurrency_peak` answers "how deep did it stack and when"; this
    answers "how long did it spend at EVERY depth" (depth 0 = idle time
    inside the observed span): after each endpoint in the ±1 sweep the
    running depth holds until the next endpoint, so total time at depth
    d is Σ(next_t − t) over sweep rows with running = d. Capacity
    planning reads this directly (p-th busiest depth, idle share,
    overflow exposure above a license count) where the peak alone
    over-provisions.

    Exactness: the endpoint stream, its (t, delta, event_id) total
    order and BIGINT µs lanes are `concurrency_peak`'s verbatim; LEAD
    rides the identical window frame on both engines, so every
    (depth, duration) cell is bit-equal. Zero-duration cells (depths
    crossed transiently inside an equal-t tie block — artifacts of tie
    order, not occupancy) are excluded by the HAVING on both sides; the
    share divides two exact BIGINTs in one rounded double op. The last
    endpoint (depth 0 forever after) has no next and is out of the
    span by construction.

    Physics: identical to the peak sweep. Small lane (``lanes``
    "single_task_rows", events footer count): one type-keyed shuffle,
    one within-partition sort feeding running sum + LEAD + span extrema
    in the SAME window pass, then a map-side-combined rollup over
    (type, depth). Scale lane: the peak's two-level chunk device:
    per-(type, time-chunk) local running sums, LEAD and depth
    histograms in parallel; the chunk balance (prefix over chunk
    AGGREGATES) shifts local depths to global ones through a broadcast
    join; cross-chunk gap durations —
    last endpoint of chunk k to first endpoint of chunk k+1, held at
    the chunk's closing global depth — come from a LEAD over the same
    chunk-aggregate relation; span extrema assemble from per-chunk
    min/max. Plan-gated: no per-type endpoint sort in the scale lane.
    """
    ev = load(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
        & F.col("event_id").isNotNull()
        & F.col("event_type").isNotNull()
    )
    s = F.unix_micros("ts")
    e = s + ((F.col("event_id") % IC_MOD_MIN) + 1) * 60_000_000
    pts = ev.select(
        "event_type",
        F.explode(
            F.array(
                F.struct(
                    s.alias("t"), F.lit(1).alias("delta"),
                    F.col("event_id").alias("event_id"),
                ),
                F.struct(
                    e.alias("t"), F.lit(-1).alias("delta"),
                    F.col("event_id").alias("event_id"),
                ),
            )
        ).alias("p"),
    ).select("event_type", "p.t", "p.delta", "p.event_id")
    if lanes.exceeds("single_task_rows", table_rowcount(sf_dir, "events")):
        pts = pts.withColumn("c", F.floor(F.col("t") / CONCURRENCY_CHUNK_US))
        w_local = (
            Window.partitionBy("event_type", "c")
            .orderBy("t", "delta", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        w_lead_local = Window.partitionBy("event_type", "c").orderBy(
            "t", "delta", "event_id"
        )
        local = pts.select(
            "event_type",
            "c",
            "t",
            "delta",
            F.sum("delta").over(w_local).alias("lr"),
            F.lead("t").over(w_lead_local).alias("nt"),
        )
        # chunk-local depth histogram (local depths, shifted later)
        lhist = (
            local.filter(F.col("nt").isNotNull())
            .groupBy("event_type", "c", F.col("lr").alias("ld"))
            .agg(F.sum(F.col("nt") - F.col("t")).alias("ldur"))
        )
        chunk_agg = local.groupBy("event_type", "c").agg(
            F.sum("delta").alias("sd"),
            F.min("t").alias("t_min"),
            F.max("t").alias("t_max"),
        )
        w_prefix = (
            Window.partitionBy("event_type")
            .orderBy("c")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        w_next = Window.partitionBy("event_type").orderBy("c")
        chunk2 = chunk_agg.select(
            "event_type",
            "c",
            "t_min",
            "t_max",
            F.coalesce(F.sum("sd").over(w_prefix), F.lit(0)).alias("b"),
            (F.coalesce(F.sum("sd").over(w_prefix), F.lit(0)) + F.col("sd"))
            .alias("b_end"),
            F.lead("t_min").over(w_next).alias("t_next_min"),
        )
        span = chunk_agg.groupBy("event_type").agg(
            (F.max("t_max") - F.min("t_min")).alias("span_us")
        )
        shifted = lhist.join(
            F.broadcast(chunk2.select("event_type", "c", "b")),
            ["event_type", "c"],
        ).select(
            "event_type",
            (F.col("ld") + F.col("b")).alias("depth"),
            F.col("ldur").alias("dur"),
        )
        # cross-chunk gap: held at the chunk's CLOSING global depth
        # from its last endpoint to the next chunk's first endpoint
        boundary = chunk2.filter(F.col("t_next_min").isNotNull()).select(
            "event_type",
            F.col("b_end").alias("depth"),
            (F.col("t_next_min") - F.col("t_max")).alias("dur"),
        )
        hist = (
            shifted.unionByName(boundary)
            .groupBy("event_type", "depth")
            .agg(F.sum("dur").cast("long").alias("dur_us"))
            .filter(F.col("dur_us") > 0)
        )
        return hist.join(F.broadcast(span), "event_type").select(
            "event_type",
            F.col("depth").cast("long").alias("depth"),
            "dur_us",
            F.round(
                F.col("dur_us").cast("double")
                / F.col("span_us").cast("double"),
                9,
            ).alias("share"),
        )
    w = (
        Window.partitionBy("event_type")
        .orderBy("t", "delta", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_lead = Window.partitionBy("event_type").orderBy(
        "t", "delta", "event_id"
    )
    wp = Window.partitionBy("event_type")
    run = pts.select(
        "event_type",
        "t",
        F.sum("delta").over(w).alias("running"),
        F.lead("t").over(w_lead).alias("next_t"),
        (F.max("t").over(wp) - F.min("t").over(wp)).alias("span_us"),
    )
    d = F.col("next_t") - F.col("t")
    return (
        run.filter(F.col("next_t").isNotNull())
        .groupBy("event_type", F.col("running").alias("depth"))
        .agg(
            F.sum(d).cast("long").alias("dur_us"),
            F.round(
                F.sum(d).cast("double") / F.max("span_us").cast("double"), 9
            ).alias("share"),
        )
        .filter(F.col("dur_us") > 0)
        .select("event_type", F.col("depth").cast("long"), "dur_us", "share")
    )


RFM_BUCKETS = 4  # quartile scores per dimension

_RFM_SQL = f"""
    WITH o AS (
      SELECT o_custkey, o_totalprice,
             date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
               AS dn
      FROM orders
      WHERE o_orderdate IS NOT NULL AND o_custkey IS NOT NULL
    ),
    ref AS (SELECT MAX(dn) AS refdn FROM o),
    rfm AS (
      SELECT o_custkey,
             (SELECT refdn FROM ref) - MAX(dn) AS r_days,
             COUNT(*) AS f_orders,
             CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(12,2))), 0) * 100
                  AS BIGINT) AS m_cents
      FROM o GROUP BY 1
    ),
    scored AS (
      SELECT o_custkey, r_days, f_orders, m_cents,
             NTILE({RFM_BUCKETS}) OVER (ORDER BY r_days DESC, o_custkey)
               AS r_score,
             NTILE({RFM_BUCKETS}) OVER (ORDER BY f_orders, o_custkey)
               AS f_score,
             NTILE({RFM_BUCKETS}) OVER (ORDER BY m_cents, o_custkey)
               AS m_score
      FROM rfm
    )
    SELECT o_custkey AS custkey,
           CAST(r_days AS BIGINT) AS r_days,
           CAST(f_orders AS BIGINT) AS f_orders,
           m_cents,
           CAST(r_score AS INT) AS r_score,
           CAST(f_score AS INT) AS f_score,
           CAST(m_score AS INT) AS m_score,
           CAST(r_score * 100 + f_score * 10 + m_score AS INT) AS rfm_cell
    FROM scored
"""


# Chunk widths of rfm's scale lane (recency days, order count, cents).
RFM_DAYS_CHUNK = 64
RFM_ORDERS_CHUNK = 8
RFM_CENTS_CHUNK = 10_000_000


@register("rfm_segments", oracle=_RFM_SQL, tags=("reverify:r13",))
def rfm_segments(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """RFM segmentation — the standard customer-value grid (Recency /
    Frequency / Monetary, each scored into quartiles, higher = better):
    r_days since last order vs the corpus reference date (MAX order
    day — reproducible, unlike wall-clock now()), order count, and
    lifetime spend in exact cents, with the composite cell id (444 =
    champions, 111 = lost). `retention` tracks cohorts over time; this
    snapshots where every customer stands today.

    Exactness: days/counts/cents are exact integers; NTILE is
    deterministic once the order is TOTAL — every score orders by
    (metric, custkey), and both engines share NTILE's remainder rule
    (first buckets take the extras). Orders without a date or customer
    key carry no R/F/M information and are out of contract on both
    sides (also pinning the Spark-DESC-NULLS-LAST vs DuckDB-DESC-
    NULLS-FIRST divergence out of existence).

    Physics: one map-side-combined per-customer rollup over orders;
    the reference date joins as a one-row broadcast. Small lane
    (``lanes`` "single_task_rows", orders footer count, an upper bound
    on |customers with orders|): the three NTILEs run over the
    |customers|-sized rollup, a sort of the DIMENSION, never the fact.
    Scale lane: each score comes from the two-level chunked row_number
    + the closed-form NTILE over (rank, n) (operators/ranks.py): no
    task ever sorts the whole rollup, and only |chunks|-row aggregate
    relations take an unpartitioned prefix.
    """
    o = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate").isNotNull() & F.col("o_custkey").isNotNull())
        .select(
            "o_custkey",
            "o_totalprice",
            F.datediff(
                F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
            ).alias("dn"),
        )
    )
    base = o.groupBy("o_custkey").agg(
        F.max("dn").alias("lastdn"),
        F.count(F.lit(1)).alias("f_orders"),
        (
            F.coalesce(
                F.sum(F.col("o_totalprice").cast("decimal(12,2)")), F.lit(0)
            )
            * 100
        )
        .cast("bigint")
        .alias("m_cents"),
    ).localCheckpoint(eager=False)
    # reference date from the ROLLUP (max of per-customer last days ≡
    # global max day): orders are scanned exactly once — a second
    # fact-scan branch for one scalar is the shape the plan gates ban
    ref = base.agg(F.max("lastdn").alias("refdn"))
    rfm = (
        base.crossJoin(F.broadcast(ref))
        .select(
            "o_custkey",
            (F.col("refdn") - F.col("lastdn")).alias("r_days"),
            "f_orders",
            "m_cents",
        )
    )
    if lanes.exceeds("single_task_rows", table_rowcount(sf_dir, "orders")):
        from cpt_database_sync_spark.operators.ranks import (  # noqa: PLC0415
            ntile_col_sql,
            two_level_row_number,
        )

        # recency ranks DESC: negate the metric so the chunk key stays
        # monotone in the local order (truncating div is monotone for
        # a fixed positive divisor over the whole integer line).
        ranked = two_level_row_number(
            rfm,
            F.expr(f"(-r_days) div {RFM_DAYS_CHUNK}"),
            [F.col("r_days").desc(), "o_custkey"],
            out="ri",
            total_col="n",
        )
        ranked = two_level_row_number(
            ranked,
            F.expr(f"f_orders div {RFM_ORDERS_CHUNK}"),
            ["f_orders", "o_custkey"],
            out="fi",
        )
        ranked = two_level_row_number(
            ranked,
            F.expr(f"m_cents div {RFM_CENTS_CHUNK}"),
            ["m_cents", "o_custkey"],
            out="mi",
        )
        scored = ranked.select(
            "o_custkey",
            "r_days",
            "f_orders",
            "m_cents",
            F.expr(ntile_col_sql("ri", "n", RFM_BUCKETS)).alias("r_score"),
            F.expr(ntile_col_sql("fi", "n", RFM_BUCKETS)).alias("f_score"),
            F.expr(ntile_col_sql("mi", "n", RFM_BUCKETS)).alias("m_score"),
        )
    else:
        wr = Window.orderBy(F.col("r_days").desc(), F.col("o_custkey"))
        wf = Window.orderBy("f_orders", "o_custkey")
        wm = Window.orderBy("m_cents", "o_custkey")
        scored = rfm.select(
            "o_custkey",
            "r_days",
            "f_orders",
            "m_cents",
            F.ntile(RFM_BUCKETS).over(wr).alias("r_score"),
            F.ntile(RFM_BUCKETS).over(wf).alias("f_score"),
            F.ntile(RFM_BUCKETS).over(wm).alias("m_score"),
        )
    return scored.select(
        F.col("o_custkey").alias("custkey"),
        F.col("r_days").cast("long").alias("r_days"),
        F.col("f_orders").cast("long").alias("f_orders"),
        "m_cents",
        F.col("r_score").cast("int").alias("r_score"),
        F.col("f_score").cast("int").alias("f_score"),
        F.col("m_score").cast("int").alias("m_score"),
        (F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score"))
        .cast("int")
        .alias("rfm_cell"),
    )


_CONCURRENCY_SQL = f"""
    WITH iv AS (
      SELECT event_type, event_id,
             epoch_us(ts) AS s,
             epoch_us(ts) + ((event_id % {IC_MOD_MIN}) + 1) * 60000000 AS e
      FROM events
      WHERE ts IS NOT NULL AND event_id IS NOT NULL
        AND event_type IS NOT NULL
    ),
    pts AS (
      SELECT event_type, s AS t, 1 AS delta, event_id FROM iv
      UNION ALL
      SELECT event_type, e AS t, -1 AS delta, event_id FROM iv
    ),
    run AS (
      SELECT event_type, t,
             SUM(delta) OVER (PARTITION BY event_type
                              ORDER BY t, delta, event_id
                              ROWS UNBOUNDED PRECEDING) AS running
      FROM pts
    ),
    run2 AS (
      SELECT event_type, t, running,
             MAX(running) OVER (PARTITION BY event_type) AS mr
      FROM run
    )
    SELECT event_type,
           CAST(MAX(running) AS BIGINT) AS peak,
           CAST(MIN(CASE WHEN running = mr THEN t END) AS BIGINT)
             AS first_peak_us,
           CAST(COUNT(*) // 2 AS BIGINT) AS n_intervals
    FROM run2 GROUP BY event_type
"""


# The ±1 endpoint sweep's parallelism is bounded by |event_type|, and
# one dominant type funnels 2×|its events| endpoint rows through a
# single task's sort. Above ``lanes`` "single_task_rows" the
# sweep runs TWO-LEVEL (the distributed prefix-sum shape): endpoints
# chunk by time range, each (type, chunk) computes its delta sum +
# local running max + first-max time in parallel, a second window over
# the CHUNK AGGREGATES (|chunks| rows per type, not |events|) prefixes
# the incoming balance, and the global peak/first-time assemble from
# per-chunk (balance + local max). Bit-identical to the window form
# (differential-tested): chunks are contiguous time ranges, so
# (chunk, t, delta, event_id) is the same total order, the local max
# plus incoming balance is the chunk's global running max, and the
# earliest chunk attaining the global peak holds the earliest peak row.
CONCURRENCY_CHUNK_US = 6 * 3_600_000_000  # 6 h endpoint chunks


@register("concurrency_peak", oracle=_CONCURRENCY_SQL, tags=("reverify:r11",))
def concurrency_peak(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Peak concurrency per channel — the capacity question
    `interval_coverage` doesn't answer (union length says how LONG the
    channel was busy; this says how DEEP it stacked): over the same
    deterministic holding intervals, the classic ±1 endpoint sweep —
    +1 at each open, −1 at each close, running sum over the totally
    ordered endpoint stream — reports the maximum simultaneous holds
    and the first microsecond it was reached. Sizing licenses,
    connection pools, GPU slots: all this query.

    Exactness: all BIGINT µs and integer deltas. The endpoint order is
    (t, delta, event_id) with −1 < +1, so a close at time T processes
    before an open at T — exactly the half-open [s, e) contract shared
    with interval_coverage. The peak and its first time are provably
    invariant to tie order WITHIN an equal-(t, delta) block (a +1 block
    is monotone rising — its max sits at the block end; a −1 block at
    its start), and the order is pinned anyway. NULL ts / event_id /
    event_type rows carry no interval and are out of contract both
    sides.

    Physics: one type-keyed shuffle of 2×|events| endpoint rows, one
    within-partition sort, map-side-combined rollups after — the
    canonical sweep-line-as-window shape; no self-join (the
    interval-overlap-pairs formulation is quadratic), nothing
    corpus-sized past the window.
    """
    ev = load(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
        & F.col("event_id").isNotNull()
        & F.col("event_type").isNotNull()
    )
    s = F.unix_micros("ts")
    e = s + ((F.col("event_id") % IC_MOD_MIN) + 1) * 60_000_000
    # endpoint expansion via explode, NOT a two-branch union: the union
    # form scans events twice; this keeps ONE scan with a 2× generator
    pts = ev.select(
        "event_type",
        F.explode(
            F.array(
                F.struct(
                    s.alias("t"), F.lit(1).alias("delta"),
                    F.col("event_id").alias("event_id"),
                ),
                F.struct(
                    e.alias("t"), F.lit(-1).alias("delta"),
                    F.col("event_id").alias("event_id"),
                ),
            )
        ).alias("p"),
    ).select("event_type", "p.t", "p.delta", "p.event_id")
    if lanes.exceeds("single_task_rows", table_rowcount(sf_dir, "events")):
        # Two-level sweep: chunk-local partials over (type, time-chunk)
        # — parallelism |type|×|chunks| — then a prefix window over the
        # chunk AGGREGATES only (see CONCURRENCY_CHUNK_US).
        pts = pts.withColumn(
            "c", F.floor(F.col("t") / CONCURRENCY_CHUNK_US)
        )
        w_local = (
            Window.partitionBy("event_type", "c")
            .orderBy("t", "delta", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        wp_local = Window.partitionBy("event_type", "c")
        local = pts.select(
            "event_type",
            "c",
            "t",
            "delta",
            F.sum("delta").over(w_local).alias("lr"),
        ).withColumn("lm", F.max("lr").over(wp_local))
        chunk_agg = local.groupBy("event_type", "c").agg(
            F.sum("delta").alias("sd"),
            F.max("lr").alias("lm"),
            F.min(F.when(F.col("lr") == F.col("lm"), F.col("t"))).alias(
                "t_first"
            ),
            F.count(F.lit(1)).alias("n_pts"),
        )
        w_prefix = (
            Window.partitionBy("event_type")
            .orderBy("c")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        chunk2 = (
            chunk_agg.withColumn(
                "b", F.coalesce(F.sum("sd").over(w_prefix), F.lit(0))
            )
            .withColumn("gm", F.col("b") + F.col("lm"))
            .withColumn(
                "gpeak", F.max("gm").over(Window.partitionBy("event_type"))
            )
        )
        return chunk2.groupBy("event_type").agg(
            F.max("gm").cast("bigint").alias("peak"),
            F.min(
                F.when(
                    F.col("gm") == F.col("gpeak"),
                    F.struct(F.col("c"), F.col("t_first")),
                )
            )["t_first"]
            .cast("bigint")
            .alias("first_peak_us"),
            (F.sum("n_pts") / 2).cast("bigint").alias("n_intervals"),
        )
    w = (
        Window.partitionBy("event_type")
        .orderBy("t", "delta", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # single-branch argmin trick: the partition-wide max rides the SAME
    # sorted window pass (unbounded frame over the identical partition
    # spec — no extra exchange, no second corpus branch to re-expand)
    wp = Window.partitionBy("event_type")
    run = pts.select(
        "event_type", "t", F.sum("delta").over(w).alias("running")
    ).withColumn("mr", F.max("running").over(wp))
    return run.groupBy("event_type").agg(
        F.max("running").cast("bigint").alias("peak"),
        F.min(F.when(F.col("running") == F.col("mr"), F.col("t")))
        .cast("bigint")
        .alias("first_peak_us"),
        (F.count(F.lit(1)) / 2).cast("bigint").alias("n_intervals"),
    )


# Conversion window for funnel_window: the whole chain must complete
# within this many microseconds of the stage-1 entry event.
FUNNEL_WINDOW_US = 48 * 3600 * 1_000_000

_FUNNEL_WINDOW_SQL = f"""
    WITH s1 AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, MIN(e.ts) AS t2, MIN(s1.t1) AS t1
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'click' AND e.ts > s1.t1
        AND epoch_us(e.ts) - epoch_us(s1.t1) <= {FUNNEL_WINDOW_US}
      GROUP BY e.user_id
    ),
    s3 AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s2.t2
        AND epoch_us(e.ts) - epoch_us(s2.t1) <= {FUNNEL_WINDOW_US}
      GROUP BY e.user_id
    )
    SELECT 'view' AS stage, CAST((SELECT COUNT(*) FROM s1) AS BIGINT) AS n_users
    UNION ALL
    SELECT 'click', CAST((SELECT COUNT(*) FROM s2) AS BIGINT)
    UNION ALL
    SELECT 'purchase', CAST((SELECT COUNT(*) FROM s3) AS BIGINT)
"""


@register("funnel_window", oracle=_FUNNEL_WINDOW_SQL)
def funnel_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed conversion funnel (the windowFunnel semantics):
    view → click → purchase counts at each stage only when the whole
    chain completes within 48 hours (``FUNNEL_WINDOW_US``) of the
    user's FIRST view.
    `funnel` answers "did they ever convert"; this answers "did they
    convert in THIS session/campaign horizon" — the form attribution
    and campaign analytics actually need. Entry is greedy (the first
    stage-1 event anchors the window; a later view that would convert
    does not re-anchor — documented, the standard funnel
    approximation, identical on both engines).

    Exactness: all comparisons are exact integer microseconds
    (``unix_micros`` ↔ ``epoch_us`` — the `funnel_latency` pairing);
    stage frontiers are MIN-aggregates; counts are BIGINT.

    Physics: identical shape to `funnel` — each stage is one
    user-keyed join of the shrinking frontier against the type-
    filtered events (every shuffle keys on user_id, so the exchange
    is reused across stages; AQE broadcasts frontiers once they
    shrink under the threshold); the window predicate rides the join
    filter, costing nothing. The three counts union into ONE lazy
    plan. The anchor time t1 is carried through the frontier rows, so
    no stage re-reads a prior stage's events.
    """
    ev = load(spark, sf_dir, "events")
    s1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(
            (F.col("ts") > F.col("t1"))
            & (
                F.unix_micros(F.col("ts")) - F.unix_micros(F.col("t1"))
                <= FUNNEL_WINDOW_US
            )
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"), F.min("t1").alias("t1"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(
            (F.col("ts") > F.col("t2"))
            & (
                F.unix_micros(F.col("ts")) - F.unix_micros(F.col("t1"))
                <= FUNNEL_WINDOW_US
            )
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        s1.agg(F.lit("view").alias("stage"), F.count(F.lit(1)).alias("n_users"))
        .unionAll(
            s2.agg(F.lit("click").alias("stage"), F.count(F.lit(1)).alias("n_users"))
        )
        .unionAll(
            s3.agg(
                F.lit("purchase").alias("stage"),
                F.count(F.lit(1)).alias("n_users"),
            )
        )
    )


# --- Transition PMI ---------------------------------------------------------

# Each ln is quantized to DECIMAL(15,9) BEFORE composition (the
# entropy_profile device): pmi = ln(n) + ln(c_xy) - ln(c_x) - ln(c_y)
# over exact integer counts, so the only transcendental enters through
# the same round-9 lane on both engines and the composition is exact
# decimal arithmetic.
_PMI_TERM = "CAST(round(ln(CAST({c} AS DOUBLE)), 9) AS DECIMAL(15,9))"
_PMI_EXPR = (
    f"CAST({_PMI_TERM.format(c='n')} + {_PMI_TERM.format(c='c_xy')}"
    f" - {_PMI_TERM.format(c='c_x')} - {_PMI_TERM.format(c='c_y')}"
    " AS DOUBLE)"
)

_TRANSITION_PMI_SQL = f"""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    t AS (
      SELECT prev_type, event_type, CAST(COUNT(*) AS BIGINT) AS c_xy
      FROM seq WHERE prev_type IS NOT NULL AND event_type IS NOT NULL
      GROUP BY 1, 2
    ),
    m AS (
      SELECT prev_type, event_type, c_xy,
             SUM(c_xy) OVER (PARTITION BY prev_type) AS c_x,
             SUM(c_xy) OVER (PARTITION BY event_type) AS c_y,
             SUM(c_xy) OVER () AS n
      FROM t
    )
    SELECT prev_type, event_type, c_xy AS n_obs,
           {_PMI_EXPR} AS pmi
    FROM m
"""


@register("transition_pmi", oracle=_TRANSITION_PMI_SQL)
def transition_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information of consecutive event-type pairs:
    pmi(x→y) = ln(N·c_xy / (c_x·c_y)) over the first-order transition
    counts — the ASSOCIATION-strength view of the Markov matrix
    `event_transitions` reports as raw counts (a frequent pair can be
    pure chance if both marginals are huge; PMI > 0 means the
    transition happens MORE than independence predicts — the signal
    sessionization and recommendation features actually want).

    Exactness: all counts are exact BIGINTs off one rollup; each ln is
    quantized to DECIMAL(15,9) BEFORE the four-term composition (the
    `entropy_profile` device — the only transcendental enters through
    the same round-9 lane on both engines, and the sum is exact
    decimal arithmetic), then one cast to double.

    Physics: one user-keyed window pass over the events (the
    `event_transitions` exchange), one map-side-combined pair rollup;
    the margin windows run over the |types|² pair relation —
    catalog-sized at any corpus volume.
    """
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull() & F.col("event_type").isNotNull())
    t = seq.groupBy("prev_type", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("c_xy")
    )
    m = t.select(
        "prev_type",
        "event_type",
        "c_xy",
        F.sum("c_xy").over(Window.partitionBy("prev_type")).alias("c_x"),
        F.sum("c_xy").over(Window.partitionBy("event_type")).alias("c_y"),
        F.sum("c_xy").over(Window.partitionBy()).alias("n"),
    )
    return m.select(
        "prev_type",
        "event_type",
        F.col("c_xy").alias("n_obs"),
        F.expr(_PMI_EXPR).alias("pmi"),
    )


# --- Tukey IQR fences -------------------------------------------------------

# Above ``lanes`` "single_task_rows" the exact-percentile keys
# (iqr_fences, tail_cvar, funnel_latency) leave Spark's built-in
# Percentile aggregate — whose per-group value buffer funnels each
# group's whole slice through one task — for the two-level rollup lane
# (ranks.group_quantiles_cont). Chunk widths keep |chunks| =
# value-range / width — bounded by the physical domain, not corpus
# size, yet wide enough that the chunk-aggregate prefix has real
# parallelism feeding it.
EVENT_VALUE_CHUNK_WIDTH = 50.0  # events.value spans ~[0, 500)
PRICE_CHUNK_WIDTH = 10_000.0  # o_totalprice spans ~[900, 600k)
# funnel_latency: one hour of microseconds per chunk — |chunks| =
# the corpus's event-time span in hours (domain-bounded; the sf0.01
# latency range is ~[425 s, 10.3 days] ≈ 247 chunks).
LAT_US_CHUNK_WIDTH = 3_600_000_000.0

_IQR_SQL = """
    WITH q AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             quantile_cont(value, 0.25) AS q1,
             quantile_cont(value, 0.75) AS q3
      FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
      GROUP BY 1
    )
    SELECT e.event_type, MAX(q.n) AS n, MAX(q.q1) AS q1, MAX(q.q3) AS q3,
           CAST(SUM(CASE WHEN e.value < q.q1 - 1.5 * (q.q3 - q.q1)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
           CAST(SUM(CASE WHEN e.value > q.q3 + 1.5 * (q.q3 - q.q1)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_high
    FROM events e JOIN q ON e.event_type = q.event_type
    WHERE e.value IS NOT NULL
    GROUP BY e.event_type
"""


@register("iqr_fences", oracle=_IQR_SQL, tags=("reverify:r13",))
def iqr_fences(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Tukey IQR outlier fences per event type: quartiles of `value`,
    and the count of points beyond q1 − 1.5·IQR / q3 + 1.5·IQR — the
    boxplot screen completing the outlier matrix (`anomaly_zscore`
    parametric-global, `anomaly_mad` robust-global, `hampel_filter`
    robust-local, `grubbs_outlier` single-suspect; this one is the
    quartile rule every EDA pass runs first).

    Exactness: quartiles are the exact order-statistic pairing
    (``percentile`` ↔ ``quantile_cont``); the fences are one IEEE
    expression over those doubles (1.5 is an exact binary constant)
    and the threshold compares are exact double comparisons — same
    operands, same result, both engines. Counts BIGINT.

    Physics: small lane (``lanes`` "single_task_rows", events footer
    count), one per-type exact-Percentile rollup — whose per-group
    value buffer is the scale hazard. Scale lane: the quartiles come
    from ``ranks.group_quantiles_cont``: per-(type, value) rollup →
    two-level chunked cumulative counts → the two bracketing order
    statistics per quartile looked up by rank → Spark's own
    Percentile interpolation as a closed-form column. Either way the
    fence counts are ONE pass of the fact re-joined against the
    |types|-row broadcast quartile relation; the fact is never sorted
    inside a task in the big lane. The GK-sketch swap
    (`agg_approx_percentile`) remains the documented lane when even
    the distinct-value rollup is too hot.
    """
    ev = load(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("event_type").isNotNull()
    )
    if lanes.exceeds("single_task_rows", table_rowcount(sf_dir, "events")):
        from cpt_database_sync_spark.operators.ranks import (  # noqa: PLC0415
            group_quantiles_cont,
        )

        q = group_quantiles_cont(
            ev,
            ["event_type"],
            "value",
            {"q1": 0.25, "q3": 0.75},
            chunk_width=EVENT_VALUE_CHUNK_WIDTH,
        ).withColumnRenamed("event_type", "q_et")
    else:
        q = ev.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.percentile("value", 0.25).alias("q1"),
            F.percentile("value", 0.75).alias("q3"),
        ).withColumnRenamed("event_type", "q_et")
    j = ev.join(F.broadcast(q), F.col("event_type") == F.col("q_et"))
    lo = F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))
    hi = F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))
    return j.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.max("q1").alias("q1"),
        F.max("q3").alias("q3"),
        F.sum(F.when(F.col("value") < lo, 1).otherwise(0))
        .cast("long")
        .alias("n_low"),
        F.sum(F.when(F.col("value") > hi, 1).otherwise(0))
        .cast("long")
        .alias("n_high"),
    )


# --- Kaplan-Meier survival --------------------------------------------------

# One shared factor text and one shared predicate text: the survival at
# event time t is the product of (1 - d/r) over the SORTED event-time
# array restricted to times <= t.  Both engines fold the same doubles in
# the same ascending-t order, so the products are bit-identical.
_KM_FACTOR = "1 - CAST(x.d AS DOUBLE) / CAST(x.r AS DOUBLE)"
_KM_PRED = "x.t <= t"

_KM_SQL = f"""
    WITH u AS (
      SELECT user_id,
             MIN(dn) AS f,
             MIN(CASE WHEN event_type = 'purchase' THEN dn END) AS p,
             MAX(dn) AS l
      FROM (SELECT user_id, event_type,
                   date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS dn
            FROM events)
      WHERE user_id IS NOT NULL AND dn IS NOT NULL
      GROUP BY 1
    ),
    obs AS (
      SELECT CASE WHEN p IS NOT NULL THEN p - f ELSE l - f END AS t,
             CASE WHEN p IS NOT NULL THEN 1 ELSE 0 END AS ev
      FROM u
    ),
    bytime AS (
      SELECT t,
             CAST(SUM(ev) AS BIGINT) AS d,
             CAST(COUNT(*) - SUM(ev) AS BIGINT) AS c
      FROM obs GROUP BY 1
    ),
    risk AS (
      SELECT t, d, c,
             CAST(SUM(d + c) OVER (ORDER BY t
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                  AS BIGINT) AS r
      FROM bytime
    ),
    arr AS (
      SELECT list(struct_pack(t := t, d := d, r := r) ORDER BY t) AS a
      FROM risk WHERE d > 0
    )
    SELECT k.t, k.r AS at_risk, k.d AS events,
           round(list_reduce(list_prepend(CAST(1 AS DOUBLE),
                   list_transform(list_filter(arr.a, x -> {_KM_PRED}),
                                  x -> {_KM_FACTOR})),
                 (acc, y) -> acc * y), 9) AS survival
    FROM risk k, arr
    WHERE k.d > 0
"""


@register("kaplan_meier", oracle=_KM_SQL)
def kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve for time-to-first-purchase: per
    user, the elapsed days from first event to first 'purchase'
    (event) or to the last observed event (right-censored); at each
    event time t, the at-risk count r_t, event count d_t, and the
    product-limit estimate S(t) = prod_{u<=t}(1 - d_u/r_u). THE
    standard censoring-aware conversion-latency estimate —
    `funnel_latency` reports quantiles of the CONVERTED population
    only (survivor bias); this accounts for every user who has not
    converted YET.

    Exactness: event times are integer day offsets, d/r exact BIGINTs
    (at-risk via one suffix-sum window: r_t = sum of observations at
    times >= t — no subtraction from a separately counted total); the
    survival product folds the SAME factor text over the SAME sorted
    event-time array on both engines (ascending t; the
    `kalman_filter_1d` shared-step device applied to a product), so
    every partial product is bit-identical. Round-9 display.

    Physics: one user rollup over the events scan (map-side
    combined), one |users|-sized re-rollup to |distinct times| rows,
    one ordered window over that calendar-sized relation, and the
    per-row prefix folds run over a <=|times|-element array
    (quadratic in |times|, which is bounded by the observation
    calendar, never the corpus). The event-time array rides a
    single-row broadcast nested-loop join back onto the time rows.
    """
    ev = load(spark, sf_dir, "events")
    dn = F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
    u = (
        ev.select("user_id", "event_type", dn.alias("dn"))
        .filter(F.col("user_id").isNotNull() & F.col("dn").isNotNull())
        .groupBy("user_id")
        .agg(
            F.min("dn").alias("f"),
            F.min(
                F.when(F.col("event_type") == "purchase", F.col("dn"))
            ).alias("p"),
            F.max("dn").alias("l"),
        )
    )
    obs = u.select(
        F.when(F.col("p").isNotNull(), F.col("p") - F.col("f"))
        .otherwise(F.col("l") - F.col("f"))
        .alias("t"),
        F.when(F.col("p").isNotNull(), 1).otherwise(0).alias("ev"),
    )
    bytime = obs.groupBy("t").agg(
        F.sum("ev").cast("long").alias("d"),
        (F.count(F.lit(1)) - F.sum("ev")).cast("long").alias("c"),
    )
    wr = Window.orderBy("t").rowsBetween(Window.currentRow, Window.unboundedFollowing)
    risk = bytime.select(
        "t",
        "d",
        "c",
        F.sum(F.col("d") + F.col("c")).over(wr).cast("long").alias("r"),
    )
    from cpt_database_sync_spark.session import bounded_cache

    risk = bounded_cache("kaplan_meier.risk", risk)
    arr = risk.filter(F.col("d") > 0).agg(
        F.sort_array(F.collect_list(F.struct("t", "d", "r"))).alias("a")
    )
    k = risk.filter(F.col("d") > 0).crossJoin(F.broadcast(arr))
    return k.select(
        "t",
        F.col("r").alias("at_risk"),
        F.col("d").alias("events"),
        F.expr(
            f"round(aggregate(transform(filter(a, x -> {_KM_PRED}),"
            f" x -> {_KM_FACTOR}), CAST(1 AS DOUBLE),"
            " (acc, y) -> acc * y), 9)"
        ).alias("survival"),
    )


# --- Burstiness --------------------------------------------------------------

# Goh-Barabasi burstiness over exact integer microsecond gaps:
# B = (sigma - mu) / (sigma + mu), one shared closed form over exact
# moments (population variance; epsilon-negative clamped like agg_stats).
_BURST_EXPR = (
    "round((sqrt(CASE WHEN CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)"
    " - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"
    " * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) < 0 THEN 0"
    " ELSE CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)"
    " - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"
    " * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) END)"
    " - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"
    " / NULLIF(sqrt(CASE WHEN CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)"
    " - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"
    " * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) < 0 THEN 0"
    " ELSE CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)"
    " - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"
    " * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) END)"
    " + CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE), CAST(0 AS DOUBLE)), 9)"
)

_BURSTINESS_SQL = f"""
    WITH seq AS (
      SELECT event_type,
             epoch_us(ts) - lag(epoch_us(ts))
               OVER (PARTITION BY event_type ORDER BY ts, event_id) AS gap
      FROM events
      WHERE ts IS NOT NULL AND event_type IS NOT NULL
    ),
    m AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(gap) AS BIGINT) AS s1,
             CAST(SUM(CAST(gap AS DECIMAL(38,0)) * gap) AS DECIMAL(38,0))
               AS s2
      FROM seq WHERE gap IS NOT NULL
      GROUP BY 1
    )
    SELECT event_type, n, s1 AS total_gap_us, {_BURST_EXPR} AS burstiness
    FROM m
"""


@register("burstiness", oracle=_BURSTINESS_SQL, tags=("reverify:r13",))
def burstiness(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Goh-Barabasi burstiness of the per-type arrival process:
    B = (σ−μ)/(σ+μ) over inter-event gaps — B → −1 periodic, B ≈ 0
    Poisson, B → 1 bursty. THE temporal-pattern diagnostic for event
    feeds (capacity planning and anomaly baselines read it before any
    model), complementing `autocorr_daily` (daily counts) with the
    micro-structure between events that daily rollups erase.

    Exactness: gaps are exact integer microseconds off ONE type-keyed
    window pass ((ts, event_id) total order — the `event_transitions`
    tie-break; unix_micros ↔ epoch_us); Σgap is BIGINT, Σgap² runs in
    DECIMAL(38,0) ↔ HUGEINT (a 90-day span squared overflows 2⁶³);
    B is one shared closed-form text over the exact moments with the
    epsilon-negative variance clamp (`agg_stats` doctrine) and the
    n=1-gap degenerate (σ=0, μ>0 → B=−1) falling out identically.
    Zero-gap-only types: σ+μ = 0 → NULL via NULLIF.

    Physics: small lane (``lanes`` "single_task_rows", events footer
    count), one window pass over the type-keyed exchange, one
    map-side-combined moment rollup to |types| rows. Scale lane, the
    chunked-lag device: gaps are time-local, so time-range chunks
    compute their gap moments in parallel and only the CROSS-CHUNK
    gaps — last arrival of chunk k to first arrival of chunk k+1, one
    per chunk pair — assemble on the |chunks|-row aggregate relation
    via LEAD; the per-type moments are then one rollup over chunk
    aggregates (moments are sums — chunk decomposition is exact). The
    pre-sorted-ingest swap (sort within arrival files, merge at read)
    remains documented for feeds that land ordered.
    """
    ev = load(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    if lanes.exceeds("single_task_rows", table_rowcount(sf_dir, "events")):
        t = F.unix_micros("ts")
        pts = ev.select(
            "event_type",
            t.alias("t"),
            "event_id",
            F.floor(t / CONCURRENCY_CHUNK_US).alias("c"),
        )
        w_local = Window.partitionBy("event_type", "c").orderBy(
            "t", "event_id"
        )
        local = pts.select(
            "event_type",
            "c",
            "t",
            (F.col("t") - F.lag("t").over(w_local)).alias("gap"),
        )
        chunk_agg = local.groupBy("event_type", "c").agg(
            F.count(F.when(F.col("gap").isNotNull(), 1)).alias("n_l"),
            F.coalesce(F.sum("gap"), F.lit(0)).alias("s1_l"),
            F.coalesce(
                F.sum(F.col("gap").cast("decimal(38,0)") * F.col("gap")),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("s2_l"),
            F.min("t").alias("t_first"),
            F.max("t").alias("t_last"),
        )
        w_next = Window.partitionBy("event_type").orderBy("c")
        bridged = chunk_agg.withColumn(
            "bgap", F.lead("t_first").over(w_next) - F.col("t_last")
        )
        m = bridged.groupBy("event_type").agg(
            (
                F.sum("n_l") + F.count(F.when(F.col("bgap").isNotNull(), 1))
            )
            .cast("long")
            .alias("n"),
            (F.sum("s1_l") + F.coalesce(F.sum("bgap"), F.lit(0)))
            .cast("long")
            .alias("s1"),
            (
                F.sum("s2_l")
                + F.coalesce(
                    F.sum(F.col("bgap").cast("decimal(38,0)") * F.col("bgap")),
                    F.lit(0).cast("decimal(38,0)"),
                )
            )
            .cast("decimal(38,0)")
            .alias("s2"),
        )
        return m.filter(F.col("n") > 0).select(
            "event_type",
            "n",
            F.col("s1").alias("total_gap_us"),
            F.expr(_BURST_EXPR).alias("burstiness"),
        )
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        (
            F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
        ).alias("gap"),
    ).filter(F.col("gap").isNotNull())
    m = seq.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("gap").cast("long").alias("s1"),
        F.sum(F.col("gap").cast("decimal(38,0)") * F.col("gap"))
        .cast("decimal(38,0)")
        .alias("s2"),
    )
    return m.select(
        "event_type",
        "n",
        F.col("s1").alias("total_gap_us"),
        F.expr(_BURST_EXPR).alias("burstiness"),
    )


# --- Tail conditional value-at-risk ------------------------------------------

TAIL_Q = 0.95

_TAIL_CVAR_SQL = f"""
    WITH q AS (
      SELECT o_orderpriority AS grp,
             quantile_cont(o_totalprice, {TAIL_Q}) AS var95
      FROM orders WHERE o_totalprice IS NOT NULL
      GROUP BY 1
    ),
    t AS (
      SELECT o.o_orderpriority AS grp, q.var95,
             CAST(o.o_totalprice AS DECIMAL(18,2)) AS p2
      FROM orders o JOIN q ON o.o_orderpriority = q.grp
      WHERE o.o_totalprice IS NOT NULL AND o.o_totalprice >= q.var95
    )
    SELECT grp AS o_orderpriority,
           MAX(var95) AS var95,
           CAST(COUNT(*) AS BIGINT) AS n_tail,
           round(CAST(SUM(p2) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 9)
             AS cvar95
    FROM t GROUP BY grp
"""


@register("tail_cvar", oracle=_TAIL_CVAR_SQL, tags=("reverify:r13",))
def tail_cvar(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Value-at-risk and conditional value-at-risk of order totals per
    priority class: VaR = the exact 0.95 quantile, CVaR = the mean of
    the tail at-or-above it — the standard tail-risk pair
    (`agg_percentile` stops at the quantile; CVaR answers "and how bad
    is it WHEN it's bad", the number capacity/fraud thresholds
    actually want). Tail membership is at-or-above the exact quantile
    (ties included — documented, identical on both engines).

    Exactness: VaR is the exact order-statistic pairing (percentile ↔
    quantile_cont — one double, bit-identical); the tail cut is one
    exact double compare against it; the tail SUM runs through the
    DECIMAL(18,2) money lane (`sync_checksum` doctrine — raw-double
    sums are order-dependent and never portable), so CVaR is one
    exact-decimal / exact-int division, round-9.

    Physics: one per-group quantile relation broadcast back over ONE
    tail-count pass (the `iqr_fences` shape — the fact is scanned
    twice, never joined to itself). Small lane (``lanes``
    "single_task_rows", orders footer count): Spark's built-in exact
    Percentile. Scale lane: ``ranks.group_quantiles_cont`` — the
    per-(priority, price) rollup through the two-level chunked
    cumulative counts with closed-form interpolation. The GK sketch
    stays the documented lane when even the rollup is too hot (prices
    here are near-unique — the honest exact-rank footprint the
    mann_whitney_u docstring costs out).
    """
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_totalprice").isNotNull()
    )
    if lanes.exceeds("single_task_rows", table_rowcount(sf_dir, "orders")):
        from cpt_database_sync_spark.operators.ranks import (  # noqa: PLC0415
            group_quantiles_cont,
        )

        q = group_quantiles_cont(
            orders,
            ["o_orderpriority"],
            "o_totalprice",
            {"var95": TAIL_Q},
            chunk_width=PRICE_CHUNK_WIDTH,
        ).select(F.col("o_orderpriority").alias("grp"), "var95")
    else:
        q = orders.groupBy(F.col("o_orderpriority").alias("grp")).agg(
            F.percentile("o_totalprice", TAIL_Q).alias("var95")
        )
    t = orders.join(
        F.broadcast(q), F.col("o_orderpriority") == F.col("grp")
    ).filter(F.col("o_totalprice") >= F.col("var95"))
    return (
        t.select(
            "grp",
            "var95",
            F.col("o_totalprice").cast("decimal(18,2)").alias("p2"),
        )
        .groupBy("grp")
        .agg(
            F.max("var95").alias("var95"),
            F.count(F.lit(1)).cast("long").alias("n_tail"),
            F.round(
                F.sum("p2").cast("double")
                / F.count(F.lit(1)).cast("double"),
                9,
            ).alias("cvar95"),
        )
        .select(
            F.col("grp").alias("o_orderpriority"),
            "var95",
            "n_tail",
            "cvar95",
        )
    )


# --- Odds ratio --------------------------------------------------------------

OR_EXPOSURE = "1-URGENT"
OR_OUTCOME_MIN = 200000.0  # exact binary constant

_OR_EXPR = (
    "round(CAST(a AS DOUBLE) * d"
    " / NULLIF(CAST(b AS DOUBLE) * c, CAST(0 AS DOUBLE)), 9)"
)
_LOG_OR_EXPR = (
    "round(ln(CAST(a AS DOUBLE) * d"
    " / NULLIF(CAST(b AS DOUBLE) * c, CAST(0 AS DOUBLE))), 9)"
)
_OR_SE_EXPR = (
    "round(sqrt(1 / NULLIF(CAST(a AS DOUBLE), CAST(0 AS DOUBLE))"
    " + 1 / NULLIF(CAST(b AS DOUBLE), CAST(0 AS DOUBLE))"
    " + 1 / NULLIF(CAST(c AS DOUBLE), CAST(0 AS DOUBLE))"
    " + 1 / NULLIF(CAST(d AS DOUBLE), CAST(0 AS DOUBLE))), 9)"
)

_ODDS_RATIO_SQL = f"""
    WITH t AS (
      SELECT CASE WHEN o_orderpriority = '{OR_EXPOSURE}' THEN 1 ELSE 0 END
               AS exposed,
             CASE WHEN o_totalprice >= {OR_OUTCOME_MIN} THEN 1 ELSE 0 END
               AS outcome
      FROM orders
      WHERE o_totalprice IS NOT NULL AND o_orderpriority IS NOT NULL
    ),
    cells AS (
      SELECT
        CAST(SUM(CASE WHEN exposed = 1 AND outcome = 1 THEN 1 ELSE 0 END)
             AS BIGINT) AS a,
        CAST(SUM(CASE WHEN exposed = 1 AND outcome = 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS b,
        CAST(SUM(CASE WHEN exposed = 0 AND outcome = 1 THEN 1 ELSE 0 END)
             AS BIGINT) AS c,
        CAST(SUM(CASE WHEN exposed = 0 AND outcome = 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS d
      FROM t
    )
    SELECT a, b, c, d, {_OR_EXPR} AS odds_ratio, {_LOG_OR_EXPR} AS log_or,
           {_OR_SE_EXPR} AS se_log_or
    FROM cells
"""


@register("odds_ratio", oracle=_ODDS_RATIO_SQL)
def odds_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Odds ratio of a 2×2 exposure/outcome table — is an URGENT
    order more likely to be high-value (>= the exact-binary 200 000
    threshold)? The effect-SIZE companion to `chi2_independence`
    (which tests whether ANY association exists; the OR says how
    strong and in which direction), with the Woolf log-OR standard
    error 1/a+1/b+1/c+1/d — the classic case-control readout.

    Exactness: all four cells are exact BIGINTs off ONE conditional
    rollup (the threshold constant is exactly representable, so the
    outcome cut is an exact double compare); OR is exact-int
    products through one shared division text; ln enters once and is
    immediately rounded to 9 dp (the `entropy_profile` quantization —
    no composition after the transcendental); any empty cell yields
    NULL via NULLIF in every lane, identically.

    Physics: one map-side-combined single-row rollup over the scan.
    Nothing downstream exists.
    """
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_totalprice").isNotNull() & F.col("o_orderpriority").isNotNull()
    )
    exposed = (F.col("o_orderpriority") == OR_EXPOSURE).cast("int")
    outcome = (F.col("o_totalprice") >= OR_OUTCOME_MIN).cast("int")
    t = orders.select(exposed.alias("exposed"), outcome.alias("outcome"))
    cells = t.agg(
        F.sum(F.when((F.col("exposed") == 1) & (F.col("outcome") == 1), 1).otherwise(0))
        .cast("long")
        .alias("a"),
        F.sum(F.when((F.col("exposed") == 1) & (F.col("outcome") == 0), 1).otherwise(0))
        .cast("long")
        .alias("b"),
        F.sum(F.when((F.col("exposed") == 0) & (F.col("outcome") == 1), 1).otherwise(0))
        .cast("long")
        .alias("c"),
        F.sum(F.when((F.col("exposed") == 0) & (F.col("outcome") == 0), 1).otherwise(0))
        .cast("long")
        .alias("d"),
    )
    return cells.select(
        "a",
        "b",
        "c",
        "d",
        F.expr(_OR_EXPR).alias("odds_ratio"),
        F.expr(_LOG_OR_EXPR).alias("log_or"),
        F.expr(_OR_SE_EXPR).alias("se_log_or"),
    )


# --- Transition entropy rate -------------------------------------------------

# Quantized-ln decimal device (entropy_profile / transition_pmi): each
# ln is rounded to DECIMAL(15,9) BEFORE any sum, so the weighted sums
# are exact decimal arithmetic; one division to double at the end.
_TE_QLN = "CAST(round(ln(CAST({c} AS DOUBLE)), 9) AS DECIMAL(15,9))"

_TRANSITION_ENTROPY_SQL = f"""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    t AS (
      SELECT prev_type, event_type, CAST(COUNT(*) AS BIGINT) AS c_xy
      FROM seq WHERE prev_type IS NOT NULL AND event_type IS NOT NULL
      GROUP BY 1, 2
    ),
    mx AS (
      SELECT prev_type, CAST(SUM(c_xy) AS BIGINT) AS c_x
      FROM t GROUP BY 1
    ),
    s AS (
      SELECT
        (SELECT CAST(SUM(c_xy) AS BIGINT) FROM t) AS n,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM mx) AS k,
        (SELECT CAST(SUM(c_x * {_TE_QLN.format(c='c_x')}) AS DECIMAL(38,9))
           FROM mx) AS sx,
        (SELECT CAST(SUM(c_xy * {_TE_QLN.format(c='c_xy')}) AS DECIMAL(38,9))
           FROM t) AS sxy
    )
    SELECT n AS n_transitions, CAST(k AS INT) AS n_states,
           round(CAST(sx - sxy AS DOUBLE) / CAST(n AS DOUBLE), 9)
             AS entropy_rate,
           round(ln(CAST(NULLIF(k, 0) AS DOUBLE)), 9) AS entropy_max
    FROM s
"""


@register("transition_entropy", oracle=_TRANSITION_ENTROPY_SQL)
def transition_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy RATE of the event-type Markov chain: H(Y|X) =
    (Σ_x c_x ln c_x − Σ_xy c_xy ln c_xy)/N nats per transition — how
    predictable the next event type is given the current one (0 =
    deterministic funnel, ln k = memoryless uniform), alongside
    ln(k) as the ceiling. The sequence-predictability summary that
    `transition_pmi` (per-pair surprise) and `event_transitions`
    (raw matrix) leave unsummarized — the number a sessionization or
    next-event model quotes as irreducible uncertainty.

    Exactness: transition and margin counts are exact BIGINTs off the
    same user-keyed window pass as `transition_pmi`; each ln is
    quantized to DECIMAL(15,9) BEFORE the weighted sums (the
    `entropy_profile` device), so Σ c·q(ln c) is EXACT decimal
    arithmetic in DECIMAL(38,9) at any corpus size and the rate is
    one shared division text, round-9.

    Physics: one user-keyed window pass, one map-side-combined pair
    rollup to |types|² rows; margins and both sums are catalog-sized
    aggregations. Nothing after the rollup is corpus-sized.
    """
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull() & F.col("event_type").isNotNull())
    t = seq.groupBy("prev_type", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("c_xy")
    )
    from cpt_database_sync_spark.session import bounded_cache

    t = bounded_cache("transition_entropy.t", t)
    mx = t.groupBy("prev_type").agg(F.sum("c_xy").cast("long").alias("c_x"))
    sums_t = t.agg(
        F.sum("c_xy").cast("long").alias("n"),
        F.sum(F.expr(f"c_xy * {_TE_QLN.format(c='c_xy')}"))
        .cast("decimal(38,9)")
        .alias("sxy"),
    )
    sums_x = mx.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum(F.expr(f"c_x * {_TE_QLN.format(c='c_x')}"))
        .cast("decimal(38,9)")
        .alias("sx"),
    )
    s = sums_t.crossJoin(sums_x)
    return s.select(
        F.col("n").alias("n_transitions"),
        F.col("k").cast("int").alias("n_states"),
        F.round(
            (F.col("sx") - F.col("sxy")).cast("double")
            / F.col("n").cast("double"),
            9,
        ).alias("entropy_rate"),
        # entropy_max is a display SCALAR, not a summand: plain round-9
        # double (the shared device for one-shot transcendentals). The
        # decimal quantization lane is for values that get SUMMED; a
        # decimal(15,9) display column was the r11 driver hash-red class.
        F.expr("round(ln(CAST(NULLIF(k, 0) AS DOUBLE)), 9)").alias(
            "entropy_max"
        ),
    )

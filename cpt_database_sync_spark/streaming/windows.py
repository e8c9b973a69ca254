"""Structured Streaming: windowed aggregation, session windows, streaming
dedup — the reference's pipelined transfer loop recast declaratively.

Reference: producer/consumer threads over a bounded BlockingQueue
(`sync/M2H2DataMigrator.java:22-36`, `sync/FetchRunner.java:29-55`,
`sync/H2Runner.java:28-50`) with two latent races. Spark's micro-batch
engine replaces the queue (backpressure, exactly-once state), watermarks
replace the hand-rolled "queue momentarily empty" termination guess.

Correctness strategy (SURVEY.md §5.2#4): every streaming query here is
batch-equivalent — run with availableNow over the events fixture, compare
against the batch SQL oracle. Each fixture table is one parquet file, so
availableNow is a single micro-batch and watermark eviction cannot drop
fixture rows; on a real unbounded source the same code handles late data
by the declared watermark bound.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cpt_database_sync_spark.functions.numeric import sql_dsum
from cpt_database_sync_spark.plans.registry import register
from cpt_database_sync_spark.session import local_frame
from cpt_database_sync_spark.sources.tables import (
    events_raw_schema,
    normalize_events_ts,
    parquet_schema,
)
from cpt_database_sync_spark.streaming.incremental import CKPT_ROOT, run_stream


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events as an unbounded source: readStream over the fixture dir.
    On a real deployment this is the same code over a Kafka/file-drop
    source; only the format/options line changes.

    readStream needs an explicit schema — ``events_raw_schema`` probes it
    (memoized while the file is unchanged); ts-encoding dispatch is shared
    with the batch loader via ``normalize_events_ts``."""
    schema = events_raw_schema(spark, sf_dir)
    # the file source wants a directory: stream the fixture dir, filtered
    # to the events file (a real deployment points at a landing directory)
    raw = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    return normalize_events_ts(raw)


def run_to_table(
    stream_df: DataFrame, output_mode: str, no_data_batches: bool = False
) -> DataFrame:
    """Execute a streaming query to completion on the available data
    (``run_stream``); return the result as a batch DataFrame.

    The sink is ``foreachBatch`` → parquet scratch: the streamed result is
    written by the executors (one distributed write, complete-mode batches
    overwrite) and read back as a plain scan. No memory sink, so nothing is
    collected to the driver and no leaked sink tables/state-store providers
    degrade later streaming runs in the same session. The same sink shape
    is the 100 TB path — swap the scratch dir for a partitioned table.
    """
    spark = stream_df.sparkSession
    # tmpfs beside the checkpoints (see CKPT_ROOT); created by the first write
    out_dir = f"{CKPT_ROOT}/out_{uuid.uuid4().hex[:12]}"

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        # complete mode re-emits full state per batch → overwrite keeps the
        # last; append mode emits disjoint increments → append accumulates.
        mode = "overwrite" if output_mode == "complete" else "append"
        batch_df.write.mode(mode).parquet(out_dir)

    try:
        run_stream(stream_df, _sink, output_mode, no_data_batches)
        if not os.path.isdir(out_dir):
            # the source produced zero micro-batches: no sink write ever
            # ran. An empty frame with the stream's result schema is the
            # right answer, not an AnalysisException on a missing path.
            return local_frame(spark, [], stream_df.schema)
        # localCheckpoint materializes the result into executor block
        # storage so the tmpfs scratch can be deleted right away —
        # otherwise every run leaks one result set into /dev/shm (RAM).
        return spark.read.parquet(out_dir).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


@register(
    "stream_tumbling",
    oracle=f"""
    SELECT
      CAST(time_bucket(INTERVAL 1 HOUR, ts) AS TIMESTAMP) AS window_start,
      CAST(time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR AS TIMESTAMP) AS window_end,
      event_type,
      COUNT(*) AS n_events,
      {sql_dsum("value", 14, 6)} AS sum_value
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation over the event-time column with a
    watermark bounding state. Batch-equivalent to time_bucket GROUP BY."""
    ev = events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(14,6)")).alias("sum_value_dec"),
        )
    )
    out = run_to_table(agg, "complete")
    return out.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        "event_type",
        "n_events",
        F.col("sum_value_dec").cast("decimal(18,6)").cast("double").alias("sum_value"),
    )


@register(
    "stream_sliding",
    oracle=f"""
    SELECT
      CAST(time_bucket(INTERVAL 15 MINUTE, ts) - k.k * INTERVAL 15 MINUTE AS TIMESTAMP) AS window_start,
      COUNT(*) AS n_events,
      {sql_dsum("value", 14, 6)} AS sum_value
    FROM events
    CROSS JOIN (VALUES (0), (1), (2), (3)) AS k(k)
    GROUP BY 1
    """,
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (1 h window, 15 min slide): each event lands in
    exactly duration/slide = 4 windows. The oracle mirrors that expansion
    explicitly (time_bucket shifted by k slides)."""
    ev = events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour", "15 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(14,6)")).alias("sum_value_dec"),
        )
    )
    out = run_to_table(agg, "complete")
    return out.select(
        F.col("window.start").alias("window_start"),
        "n_events",
        F.col("sum_value_dec").cast("decimal(18,6)").cast("double").alias("sum_value"),
    )


@register(
    "stream_session",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       >= INTERVAL 30 MINUTE
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    numbered AS (
      SELECT user_id, ts, value,
             SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS session_id
      FROM flagged
    )
    SELECT
      user_id,
      CAST(MIN(ts) AS TIMESTAMP) AS session_start,
      CAST(MAX(ts) + INTERVAL 30 MINUTE AS TIMESTAMP) AS session_end,
      COUNT(*) AS n_events,
      {sql_dsum("value", 14, 6)} AS sum_value
    FROM numbered
    GROUP BY user_id, session_id
    """,
)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows: per-user sessions closed after a 30-minute gap.

    Spark merges events whose gap is < 30 min; window end = last event +
    gap (exclusive). The oracle reproduces this with gaps-and-islands SQL.
    Sub-microsecond caveat: DuckDB compares nanosecond timestamps while
    Spark sees micros; a gap within 1 µs of exactly 30:00 could split
    differently — astronomically unlikely with this data and irrelevant to
    real semantics.
    """
    ev = events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(14,6)")).alias("sum_value_dec"),
        )
    )
    out = run_to_table(agg, "complete")
    return out.select(
        "user_id",
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        "n_events",
        F.col("sum_value_dec").cast("decimal(18,6)").cast("double").alias("sum_value"),
    )


@register(
    "stream_join",
    oracle="""
    SELECT
      c.user_id,
      CAST(c.ts AS TIMESTAMP) AS click_ts,
      CAST(p.ts AS TIMESTAMP) AS purchase_ts,
      p.value AS purchase_value
    FROM events c
    JOIN events p
      ON p.user_id = c.user_id
     AND c.event_type = 'click'
     AND p.event_type = 'purchase'
     AND CAST(p.ts AS TIMESTAMP) >  CAST(c.ts AS TIMESTAMP)
     AND CAST(p.ts AS TIMESTAMP) <= CAST(c.ts AS TIMESTAMP) + INTERVAL 2 HOUR
    """,
)
def stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: each click joined to the same user's
    purchases within the following 2 hours.

    Both sides are unbounded streams with watermarks; the event-time range
    condition lets Spark bound join state (a click's state is droppable
    once the purchase-side watermark passes click_ts + 2h + delay). The
    oracle is the batch interval join — casts pin both engines to
    microsecond timestamps. At 100 TB this is the canonical
    clickstream-attribution shape: state is per-key and time-bounded, so
    it scales with the watermark horizon, not history.
    """
    # both sides derive from ONE streaming source (a streaming self-join):
    # the file source is scanned once per micro-batch, not once per side
    ev = events_stream(spark, sf_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "10 minutes")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("user_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", "10 minutes")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 2 HOURS")),
        "inner",
    ).select("user_id", "click_ts", "purchase_ts", "purchase_value")
    return run_to_table(joined, "append")


@register(
    "stream_watermark",
    oracle="""
    SELECT DISTINCT
      user_id,
      event_type,
      CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
    FROM events
    """,
)
def stream_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication under a watermark: first occurrence per
    (user, event_type, day). Selecting only the key columns makes the
    streamed output equal batch DISTINCT — deterministic and
    oracle-checkable. Uses ``dropDuplicatesWithinWatermark``: the plain
    variant with a non-event-time subset builds NO eviction predicate
    (day is an Alias over date_trunc and carries no event-time metadata),
    so its state would grow with key-space history despite the watermark;
    the Within variant evicts a key one watermark-delay
    after last sight, so the delay must cover the KEY's lifetime — 25
    hours here, a day-grain key's duplicates all arrive while its day
    (plus late-arrival slack) is live. Contrast stream_dedup_delivery:
    event_id-grain replays arrive within minutes, so its delay is 10
    minutes and its state horizon correspondingly tiny."""
    ev = events_stream(spark, sf_dir)
    keys = (
        ev.withWatermark("ts", "25 hours")
        .select(
            "user_id",
            "event_type",
            F.date_trunc("day", "ts").alias("day"),
            F.col("ts"),
        )
        .dropDuplicatesWithinWatermark(["user_id", "event_type", "day"])
        .select("user_id", "event_type", "day")
    )
    return run_to_table(keys, "append")


@register("stream_dedup_delivery", oracle="SELECT * FROM events")
def stream_dedup_delivery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-least-once delivery healed by keyed streaming dedup: the source
    arrives TWICE (the same stream unioned with itself — the retry /
    replayed-partition shape), and ``dropDuplicates`` on the primary key
    under a watermark must reconstruct the original table exactly, full
    payload rows included. The oracle is simply ``SELECT * FROM events``:
    any row lost, doubled, or mixed between copies breaks identity.

    State is one entry per key within the watermark horizon — bounded on
    an unbounded source BECAUSE this uses ``dropDuplicatesWithinWatermark``:
    plain ``dropDuplicates`` with a non-event-time subset builds no
    eviction predicate at all (the watermark silently does nothing and
    state grows with key-space history). The Within variant's
    contract matches at-least-once delivery exactly: replays arrive
    within the delivery window, i.e. the watermark delay. At 100 TB the
    dedup state shards across the state store by key exactly like the
    aggregation stores.
    """
    a = events_stream(spark, sf_dir)
    b = events_stream(spark, sf_dir)
    deduped = (
        a.unionByName(b)
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    return run_to_table(deduped, "append")


def serve_keyed_stream(
    stream_df: DataFrame,
    key_cols: list[str],
    prefix: str,
    varchar_lengths: dict[str, int] | None = None,
):
    """Continuously-maintained serving table: the streaming aggregation
    runs in UPDATE output mode — each micro-batch emits only the groups
    whose aggregate changed — and ``foreachBatch`` MERGEs those rows into
    a keyed JDBC serving table (``jdbc_upsert_batch``: distributed staging
    write + one set-based ANSI MERGE, the same machinery as
    ``stream_upsert``). This is the continuous-deployment shape complete
    mode cannot give: in complete mode Spark retains EVERY window's state
    forever and rewrites the whole sink each batch, whereas here the
    watermark genuinely evicts closed windows from the state store
    (``numRowsRemoved`` in the query progress — gated in
    tests/test_plans.py) and each batch ships only the delta. At 100 TB
    the Derby URL becomes the warehouse's MERGE-capable store (Delta/
    Iceberg/JDBC) and state scales with ACTIVE windows, not history.

    Returns (serving table read-back, every batch's StreamingQueryProgress).
    """
    from cpt_database_sync_spark.sources.identifiers import (  # noqa: PLC0415
        stores_upper_case,
    )
    from cpt_database_sync_spark.sources.sync import (  # noqa: PLC0415
        jdbc_reader,
        jdbc_sync_table,
        jdbc_upsert_batch,
        lowercase_columns,
        sweep_scratch,
    )

    spark = stream_df.sparkSession
    url = f"jdbc:derby:{sweep_scratch(prefix, spark)}/db;create=true"
    table = "serving"
    created = False
    # probe the target's identifier folding ONCE for the stream's
    # lifetime — the URL is fixed, so re-reading DatabaseMetaData every
    # micro-batch would be a pure per-batch driver round-trip
    fold = stores_upper_case(spark, url)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal created
        if not created:
            # empty CREATE once; every batch thereafter is a pure MERGE
            jdbc_sync_table(
                spark, batch_df.limit(0), url, table,
                varchar_lengths=varchar_lengths, flavor="ansi", fold=fold,
            )
            created = True
        jdbc_upsert_batch(
            spark, batch_df, url, table, key_cols,
            varchar_lengths=varchar_lengths, flavor="ansi", fold=fold,
        )

    progresses = run_stream(stream_df, write_batch, "update")
    if not created:
        # zero micro-batches: the serving table was never created
        return local_frame(spark, [], stream_df.schema), progresses
    back = lowercase_columns(jdbc_reader(spark, url, table))
    return back.select(*stream_df.columns), progresses


STREAM_TOPN = 3


def topn_counts_stream(ev: DataFrame) -> DataFrame:
    """The continuously-maintained aggregate behind ``stream_topn``:
    per-(tumbling hour, event_type) counts with watermark-bounded state,
    flattened to serving-table columns."""
    return (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").alias("window_start"), "event_type", "n_events"
        )
    )


@register(
    "stream_topn",
    oracle=f"""
    SELECT window_start, event_type, n_events, rn FROM (
      SELECT window_start, event_type, n_events,
             ROW_NUMBER() OVER (
               PARTITION BY window_start
               ORDER BY n_events DESC, event_type NULLS LAST
             ) AS rn
      FROM (
        SELECT CAST(time_bucket(INTERVAL 1 HOUR, ts) AS TIMESTAMP) AS window_start,
               event_type, COUNT(*) AS n_events
        FROM events GROUP BY 1, 2
      )
    ) WHERE rn <= {STREAM_TOPN}
    """,
    tags=("reverify:r7",),
)
def stream_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending items: top-N event types per tumbling hour — the
    serving-layer pattern for streaming rank queries. Ranking is NOT
    expressible inside a streaming aggregation (no windowed row_number
    over an updating result), so the stream maintains the windowed
    counts in UPDATE mode — each micro-batch MERGEs only the changed
    (window, event_type) rows into a keyed serving table
    (``serve_keyed_stream``), with the watermark genuinely evicting
    closed windows from state — and the rank runs as a batch window
    over the SINK table, exactly how a dashboard reads a
    continuously-maintained aggregate. At 100 TB the sink is a
    partitioned MERGE-capable table keyed by window_start; the rank
    touches only the windows the dashboard asks for (partition
    pruning), never the stream state.
    """
    ev = events_stream(spark, sf_dir)
    counts, _ = serve_keyed_stream(
        topn_counts_stream(ev),
        ["window_start", "event_type"],
        "stream_topn_",
        varchar_lengths={"event_type": 40},
    )
    # NULLS LAST pinned on the tiebreak: a NULL event_type group (nulls
    # are data) sorts first on Spark but last on DuckDB by default
    w = Window.partitionBy("window_start").orderBy(
        F.col("n_events").desc(), F.col("event_type").asc_nulls_last()
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= STREAM_TOPN)
        .select("window_start", "event_type", "n_events", "rn")
    )


def _stream_hist_oracle() -> str:
    from cpt_database_sync_spark.operators.stats import _hist_oracle  # noqa: PLC0415

    return _hist_oracle()


@register(
    "stream_quantile_histogram", oracle=_stream_hist_oracle(), tags=("reverify:r7",)
)
def stream_quantile_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mergeable histogram maintained BY THE STREAM: per-group
    fixed-bin counts are a streaming aggregation (bins sum across
    micro-batches — exactly the property that makes the histogram
    sketch work where exact percentiles cannot stream), and the
    p50/p95/p99 extraction runs as a batch CDF walk over the sink —
    the same serving-layer split as ``stream_topn``. The stream runs
    in UPDATE mode: each micro-batch MERGEs only the changed
    (event_type, bin) counters into the keyed serving table
    (``serve_keyed_stream``), so state per group stays BINS counters
    and the sink write per batch is the delta, not a full rewrite.

    Bin bounds are fixed up front (production pins them from a
    calibration pass or domain knowledge; here a batch min/max read —
    one scalar, the watermark pattern). Identical results to the batch
    ``quantile_histogram`` (same oracle).
    """
    from cpt_database_sync_spark.operators.stats import (  # noqa: PLC0415
        hist_bin_col,
        hist_empty_result,
        hist_quantile_finalize,
    )
    from cpt_database_sync_spark.sources.tables import load  # noqa: PLC0415

    lo, hi = (
        load(spark, sf_dir, "events")
        .agg(F.min("value").cast("double"), F.max("value").cast("double"))
        .collect()[0]
    )
    if lo is None:  # every value NULL (or table empty): no domain to bin
        return hist_empty_result(spark)
    lo, hi = float(lo), float(hi)
    ev = events_stream(spark, sf_dir)
    hist_stream = (
        ev.withWatermark("ts", "10 minutes")
        .filter(F.col("value").isNotNull())
        .select("ts", "event_type", hist_bin_col(lo, hi).alias("bin"))
        .groupBy("event_type", "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    hist, _ = serve_keyed_stream(
        hist_stream,
        ["event_type", "bin"],
        "stream_qhist_",
        varchar_lengths={"event_type": 40},
    )
    return hist_quantile_finalize(hist, lo, hi)


@register(
    "stream_join_outer",
    oracle="""
    WITH c AS (
      SELECT user_id, ts AS click_ts FROM events WHERE event_type = 'click'
    ),
    p AS (
      SELECT user_id, ts AS purchase_ts, value AS purchase_value
      FROM events WHERE event_type = 'purchase'
    ),
    m AS (
      SELECT c.user_id, CAST(c.click_ts AS TIMESTAMP) AS click_ts,
             CAST(p.purchase_ts AS TIMESTAMP) AS purchase_ts,
             p.purchase_value
      FROM c LEFT JOIN p
        ON p.user_id = c.user_id
       AND CAST(p.purchase_ts AS TIMESTAMP) >  CAST(c.click_ts AS TIMESTAMP)
       AND CAST(p.purchase_ts AS TIMESTAMP) <= CAST(c.click_ts AS TIMESTAMP)
                                               + INTERVAL 2 HOUR
    )
    SELECT user_id, click_ts, purchase_ts, purchase_value FROM m
    WHERE purchase_ts IS NOT NULL
       -- the final GLOBAL watermark is the MIN across both watermarked
       -- inputs (each: its own max event time, floored to Spark's
       -- millisecond watermark precision, minus the 10 min delay)
       OR click_ts + INTERVAL '2 hours 10 minutes'
          < date_trunc('milliseconds', (SELECT least(
               (SELECT MAX(ts) FROM events WHERE event_type = 'click'),
               (SELECT MAX(ts) FROM events WHERE event_type = 'purchase'))))
    """,
)
def stream_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join — attribution with the
    unconverted clicks included: matches emit as they arrive (the inner
    arm), and a click with NO purchase inside its 2-hour window emits a
    NULL-extended row only once the purchase-side WATERMARK proves no
    match can still come. That proof is the whole point of outer
    streaming joins: without the watermark bound the unmatched arm could
    never fire.

    Batch-equivalence needs care the inner variant (``stream_join``)
    doesn't: clicks whose window is still open when the source drains
    stay in state, unemitted. The oracle mirrors that exactly — it keeps
    matched rows plus unmatched clicks whose window provably closed
    before the final GLOBAL watermark: the min across both inputs'
    watermarks (each side's ms-floored max event time − the 10 min
    delay). The trailing no-data micro-batch is ENABLED for this query
    (``run_stream``'s no_data_batches flag) so the final watermark
    advance actually flushes the closed windows.
    """
    ev = events_stream(spark, sf_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "10 minutes")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", "10 minutes")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 2 HOURS")),
        "left_outer",
    ).select(
        F.coalesce("user_id", "c_user").alias("user_id"),
        "click_ts",
        "purchase_ts",
        "purchase_value",
    )
    return run_to_table(joined, "append", no_data_batches=True)


@register(
    "stream_distinct_users",
    oracle="""
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY 1
    """,
)
def stream_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING exact daily reach — the bitmap lane
    (`distinct_users_bitmap`) maintained continuously: the streaming
    aggregation holds one roaring-style bitmap per (day window, 64-bit
    bucket) in the state store, update mode emits a (day, bucket)
    POPCOUNT row only when new users actually flip bits, and
    ``foreachBatch`` MERGEs those deltas into the keyed serving table
    (`serve_keyed_stream` — watermark-evicted state, delta-only sink
    writes). The serving read re-aggregates bucket counts per day.

    COUNT(DISTINCT) does not exist as a streaming aggregate (it cannot
    incrementalize); the bitmap formulation is HOW exact streaming
    distinct is done — O(users/2¹⁵) bitmap state per day, numbers
    exact, and closed days leave the state store at the watermark.
    The oracle is the batch COUNT(DISTINCT) over the same events.
    """
    ev = events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    agg = (
        ev.groupBy(
            F.window("ts", "1 day").alias("w"),
            F.bitmap_bucket_number("user_id").alias("bucket"),
        )
        .agg(
            F.bitmap_count(
                F.bitmap_construct_agg(F.bitmap_bit_position("user_id"))
            ).alias("cnt")
        )
        .select(
            F.col("w.start").cast("date").cast("string").alias("day"),
            "bucket",
            "cnt",
        )
    )
    back, _ = serve_keyed_stream(
        agg, ["day", "bucket"], "stream_distinct_users", {"day": 16}
    )
    return back.groupBy("day").agg(F.sum("cnt").cast("long").alias("n_users"))


def _psi_oracle_text() -> str:
    from cpt_database_sync_spark.operators.stats import _psi_oracle  # noqa: PLC0415

    return _psi_oracle()


@register("stream_drift_psi", oracle=_psi_oracle_text())
def stream_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drift monitoring maintained BY THE STREAM — drift_psi's serving
    twin, the stream_quantile_histogram pattern applied to the PSI
    counts: the per-(type, phase, bin) counters are a streaming
    aggregation in UPDATE mode, each micro-batch MERGEs only changed
    counters into the keyed serving table (state per group = 2×BINS+2
    integers, watermark-bounded), and the PSI expression runs as a
    batch read over that tiny table — so "has the distribution moved"
    is answerable continuously without rescanning history. Counts are
    integers, so the stream-maintained path is EXACTLY the batch path's
    input and the shared finalizer (psi_finalize: fixed expression
    tree, round(9) ln contract) gives bit-identical psi — one oracle
    for both (the stream_time_weighted batch≡stream discipline).
    """
    return stream_drift_psi_impl(spark, sf_dir)


def stream_drift_psi_impl(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cpt_database_sync_spark.operators.stats import (  # noqa: PLC0415
        PSI_BINS,
        PSI_BIN_WIDTH,
        PSI_CUTOFF,
        psi_finalize,
    )

    bin_col = F.least(
        F.floor(F.col("value") / PSI_BIN_WIDTH), F.lit(PSI_BINS - 1)
    ).cast("int")
    phase = F.when(F.col("ts") < PSI_CUTOFF, F.lit("a")).otherwise(F.lit("b"))
    ev = events_stream(spark, sf_dir)
    counts_stream = (
        ev.withWatermark("ts", "10 minutes")
        .select("ts", "event_type", bin_col.alias("bin"), phase.alias("phase"))
        .groupBy("event_type", "phase", "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    hist, _ = serve_keyed_stream(
        counts_stream,
        ["event_type", "phase", "bin"],
        "stream_psi_",
        varchar_lengths={"event_type": 40, "phase": 1},
    )
    aggs = []
    for i in range(PSI_BINS):
        aggs.append(
            F.sum(
                F.when((F.col("phase") == "a") & (F.col("bin") == i), F.col("cnt"))
                .otherwise(0)
            ).alias(f"ca{i}")
        )
        aggs.append(
            F.sum(
                F.when((F.col("phase") == "b") & (F.col("bin") == i), F.col("cnt"))
                .otherwise(0)
            ).alias(f"cb{i}")
        )
    aggs.append(
        F.sum(F.when(F.col("phase") == "a", F.col("cnt")).otherwise(0)).alias("na")
    )
    aggs.append(
        F.sum(F.when(F.col("phase") == "b", F.col("cnt")).otherwise(0)).alias("nb")
    )
    return psi_finalize(hist.groupBy("event_type").agg(*aggs))


def _kl_oracle_text() -> str:
    from cpt_database_sync_spark.operators.stats import _KL_SQL  # noqa: PLC0415

    return _KL_SQL


@register("stream_kl_divergence", oracle=_kl_oracle_text())
def stream_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-mix KL drift maintained BY THE STREAM — `kl_divergence`'s
    serving twin, completing the drift-monitoring trio in serving form
    (stream_drift_psi: binned score; stream_benford: leading-digit
    fit; this: the information-theoretic number an LM data pipeline
    quotes for cohort shift). The per-type (even-cohort, odd-cohort)
    counters are a streaming aggregation in UPDATE mode — state per
    type = two integers, watermark-bounded — each micro-batch MERGEs
    only changed counters into the keyed serving table, and the shared
    `kl_finalize` expression tree (quantized-ln decimal lanes, one
    terminal division) runs as a batch read over that |types|-sized
    table. Counts are algebraic, so the stream-maintained relation IS
    the batch rollup and the oracle is the batch _KL_SQL verbatim (the
    stream_drift_psi batch≡stream discipline).

    Reference basis: `streaming/incremental.py`'s lineage — the
    reference's timed full re-pulls (`handler/Handler.java:42-55`)
    re-answer this only by rescanning history; here the answer is
    continuous.
    """
    from cpt_database_sync_spark.operators.stats import (  # noqa: PLC0415
        kl_finalize,
    )

    ev = events_stream(spark, sf_dir).filter(
        F.col("event_type").isNotNull() & F.col("user_id").isNotNull()
    )
    counts = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("user_id") % 2 == 0, 1).otherwise(0))
            .cast("long")
            .alias("c"),
            F.sum(F.when(F.col("user_id") % 2 == 1, 1).otherwise(0))
            .cast("long")
            .alias("d"),
        )
    )
    tbl, _ = serve_keyed_stream(
        counts, ["event_type"], "stream_kl_", varchar_lengths={"event_type": 40}
    )
    return kl_finalize(tbl.select("event_type", "c", "d"))


def _cusum_oracle_text() -> str:
    from cpt_database_sync_spark.operators.timeseries import _CUSUM_SQL  # noqa: PLC0415

    return _CUSUM_SQL


@register("stream_cusum", oracle=_cusum_oracle_text())
def stream_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changepoint monitoring maintained BY THE STREAM —
    cusum_changepoint's serving twin in the stream_drift_psi pattern:
    the per-(type, day) counters are a streaming aggregation in UPDATE
    mode, each micro-batch MERGEs only the days whose count changed
    into the keyed serving table, and the CUSUM walk + argmax runs as a
    batch read over that |days|x|types| table. The day is a tumbling
    ``window("ts", "1 day")`` — NOT a derived day-number group key —
    because Spark only evicts aggregation state under a watermark for
    time-window groups: a bare (type, dn) groupBy would pin every
    calendar day's state forever on a long-running deployment, while
    the windowed form holds one integer per OPEN day and drops each day
    once the watermark passes it (history lives in the serving TABLE,
    not the state store). Counts are integers, so
    the stream-maintained relation is EXACTLY the batch operator's
    daily rollup and the shared finalizer (cusum_finalize:
    division-free scaled-integer statistic) is bit-identical — one
    oracle serves both paths. "Did the volume level-shift, and when"
    becomes continuously answerable without rescanning history.
    """
    from cpt_database_sync_spark.operators.timeseries import (  # noqa: PLC0415
        cusum_finalize,
    )

    ev = events_stream(spark, sf_dir)
    back, _ = serve_keyed_stream(
        cusum_daily_stream(ev), ["event_type", "dn"], "stream_cusum_",
        {"event_type": 40},
    )
    return cusum_finalize(back)


def cusum_daily_stream(ev: DataFrame) -> DataFrame:
    """stream_cusum's windowed daily-counter aggregation on any
    ``(ts, event_type, …)`` stream — extracted (like
    ``topn_counts_stream``) so the bounded-state gate can drive it with
    a controlled multi-day, multi-batch source and assert the watermark
    actually EVICTS closed day windows from the state store."""
    return (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("c"))
        .select(
            "event_type",
            F.datediff(
                F.col("w.start").cast("date"), F.lit("1970-01-01").cast("date")
            ).alias("dn"),
            "c",
        )
    )


# --- Streaming Benford audit -------------------------------------------------

def orders_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders as an unbounded source (the `events_stream` shape over the
    orders fixture file; a deployment points at the landing directory of
    the order feed). The schema probe is memoized by ``parquet_schema``."""
    schema = parquet_schema(os.path.join(sf_dir, "orders.parquet"), spark)
    return (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("pathGlobFilter", "orders.parquet")
        .load(sf_dir)
    )


def _register_stream_benford():
    from cpt_database_sync_spark.operators.stats import (  # noqa: PLC0415
        _BENFORD_SQL,
        benford_complete,
    )

    @register("stream_benford", oracle=_BENFORD_SQL)
    def stream_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
        """STREAMING Benford's-law audit — the batch `benford_check`
        maintained as an unbounded aggregation over the order feed:
        per (priority, first-digit) counts accumulate across
        micro-batches, and the audit surface (all 9 digits per group,
        observed/expected/chi_term) is recomputed from the served
        counts after every batch. The forensic screen as a LIVE
        monitor: a feed that starts fabricating totals drifts its
        digit histogram within batches, not at month-end.

        Exactness: the ORACLE IS THE BATCH ORACLE, verbatim
        (batch≡stream) — first-digit counts are pure algebraic
        accumulators, order-insensitive and retraction-free by
        construction, so the stream needs NO watermark, NO custom
        state machine, and NO float-step pinning: any micro-batch
        split yields the identical count table. The completion +
        chi-term stage is the SHARED `benford_complete` code path
        the batch op runs.

        Physics: streaming state is the |groups|x9 count table (tiny,
        bounded by the digit domain); each batch shuffles only its
        map-side-combined partials on the group key. Complete-mode
        emission rewrites |groups|x9 rows per batch — group-sized,
        never feed-sized. The 100 TB deployment swap is update-mode +
        a MERGE sink (`serve_keyed_stream`), same counts.
        """
        digit = F.regexp_extract(
            F.col("o_totalprice").cast("string"), "[1-9]", 0
        )
        obs = (
            orders_stream(spark, sf_dir)
            .filter(F.col("o_totalprice").isNotNull() & (digit != ""))
            .groupBy(
                F.col("o_orderpriority").alias("grp"),
                digit.cast("int").alias("digit"),
            )
            .agg(F.count(F.lit(1)).alias("c"))
        )
        served = run_to_table(obs, "complete")
        return benford_complete(spark, served)

    return stream_benford


stream_benford = _register_stream_benford()

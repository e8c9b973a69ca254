"""Incremental (CDC-ish) table sync with a checkpointed high watermark.

The reference can only full-copy (drop → create → bulk insert every boot,
`handler/Handler.java:42-55`). The incremental path it lacks: remember the
highest replicated event-time and on each run ship only rows beyond it.

Two implementations share the watermark logic:

- ``incremental_sync``: deterministic two-phase batch variant (the
  registered, oracle-checked query) — initial load up to a cutoff, then an
  incremental run ships the tail; the result must equal the source. Each
  increment is overwrite-written under a low-watermark-keyed path so a
  crash-retry replaces rather than duplicates it.
- ``incremental_sync_stream``: the production shape — ``readStream`` +
  ``foreachBatch`` writing with the idempotent upsert statement from
  ``sources/sync.py`` (`sync/JdbcPageSink.java:81-88` insert shape extended
  with ON DUPLICATE KEY UPDATE), checkpointed by Spark itself.

``run_stream`` is the one path that runs an availableNow stream to
completion: every streaming key and helper in the package goes through it.

At 100 TB the append target would be a partitioned table (partition by
day(ts)) so each incremental run touches only new partitions.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cpt_database_sync_spark.plans.registry import register
from cpt_database_sync_spark.sources.tables import load


def _read_watermark(path: str):
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)["high_watermark_micros"]
    return None


def _write_watermark(path: str, micros: int) -> None:
    with open(path, "w") as f:
        json.dump({"high_watermark_micros": micros}, f)


def incremental_append(
    spark: SparkSession,
    source_df: DataFrame,
    ts_col: str,
    target_dir: str,
    watermark_file: str,
) -> None:
    """Ship source rows with ts > stored high watermark; advance it.

    The max() is computed on the shipped increment (one tiny agg), the
    filter is pushed to the source scan. Idempotent under re-run: each
    increment lands in a subdirectory keyed by its LOW watermark only,
    written with mode('overwrite'). A crash between the data write and
    the watermark write means the retry starts from the same low
    watermark and overwrites the same path — even if new source rows
    arrived in between (a high-keyed path would leave the orphaned
    narrower increment behind and double-count the overlap). Readers use
    ``read_increments``. At 100 TB the same layout holds with day(ts)
    partitioning inside each increment.
    """
    hwm = _read_watermark(watermark_file)
    inc = source_df
    if hwm is not None:
        inc = inc.filter(
            F.unix_micros(F.col(ts_col).cast("timestamp_ltz")) > hwm
        )
    new_max = inc.agg(
        F.max(F.unix_micros(F.col(ts_col).cast("timestamp_ltz")))
    ).collect()[0][0]
    if new_max is None:
        return  # nothing new
    run_dir = f"{target_dir}/inc_{hwm if hwm is not None else 'init'}"
    inc.write.mode("overwrite").parquet(run_dir)
    _write_watermark(watermark_file, new_max)


def read_increments(spark: SparkSession, target_dir: str) -> DataFrame:
    """Read the union of all shipped increments (run-keyed subdirectories).

    ``recursiveFileLookup`` disables partition-column inference so the
    ``inc_<low>`` directory names stay layout, not schema.
    """
    return (
        spark.read.option("recursiveFileLookup", "true").parquet(target_dir)
    )


@register(
    "incremental_sync",
    oracle="SELECT * FROM events",
)
def incremental_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase incremental copy of events, verified by identity.

    Phase 1 replicates everything up to a mid-range cutoff; phase 2 runs
    the generic incremental_append, which must ship exactly the tail. The
    read-back equals the full source — the reference's count-match check
    (`sync/FetchRunner.java:38`) strengthened to full-value equality.
    """
    from cpt_database_sync_spark.sources.sync import sweep_scratch

    workdir = sweep_scratch("incr_sync_")
    target = f"{workdir}/events_target"
    wm_file = f"{workdir}/watermark.json"
    ev = load(spark, sf_dir, "events")

    cutoff = "2024-01-15 00:00:00"
    phase1 = ev.filter(F.col("ts") <= cutoff)
    # phase 1 is itself an increment: (init, cutoff-max]
    incremental_append(spark, phase1, "ts", target, wm_file)
    # phase 2: the generic incremental path ships only ts > watermark
    incremental_append(spark, ev, "ts", target, wm_file)
    if not os.path.isdir(target):
        # empty source: no increment was ever shipped, so there is no
        # target directory — the correct read-back is an empty frame
        # with the source schema, not a missing-path failure
        return ev.limit(0)
    return read_increments(spark, target)


def incremental_sync_stream(
    spark: SparkSession,
    source_stream: DataFrame,
    write_batch,
    checkpoint_dir: str,
    output_mode: str = "append",
):
    """Production shape: readStream → foreachBatch(write_batch). Spark's
    checkpoint replaces the JSON watermark file; write_batch receives
    (batch_df, batch_id) and should write idempotently (e.g. JDBC upsert
    via sources.sync.jdbc_upsert_batch, or overwrite-by-batch-id paths).
    Starts the query and returns it; ``run_stream`` runs one to the end."""
    return (
        source_stream.writeStream.foreachBatch(write_batch)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


# Stateful queries create one state store per shuffle partition, each with
# per-batch snapshot+commit overhead. The streamed result sets here are
# tiny; 8 stores lose no parallelism that matters and more than halve
# commit cost. A 100 TB deployment sizes this to cores: the checkpoint
# pins it at the query's first start, so pick it deliberately there.
STREAM_SHUFFLE_PARTITIONS = 8

# Ephemeral checkpoints live on tmpfs: state-store commits fsync every
# delta file, and on a disk-backed /tmp those fsyncs stall behind
# unrelated page-cache flushes from earlier data-plane writes (measured
# 10x batch-duration swings). These one-shot queries need no durability;
# a real incremental pipeline points its checkpoint at durable storage.
CKPT_ROOT = (
    "/dev/shm/spark-graft-ckpt" if os.path.isdir("/dev/shm") else "/tmp/spark-graft-ckpt"
)


@contextlib.contextmanager
def _pinned(spark: SparkSession, confs: dict[str, str]):
    """Set session confs for the block, then restore each prior value
    (unset when it was never set)."""
    prior = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prior.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def run_stream(
    stream_df: DataFrame,
    write_batch,
    output_mode: str = "append",
    no_data_batches: bool = False,
) -> list:
    """Run ``stream_df`` to completion on the data available now, each
    micro-batch through ``write_batch(batch_df, batch_id)``, and return
    every batch's ``StreamingQueryProgress``.

    The checkpoint is a fresh directory under ``CKPT_ROOT``, removed when
    the run ends, whether it succeeded or raised. The query captures
    ``spark.sql.shuffle.partitions`` (``STREAM_SHUFFLE_PARTITIONS``) and
    ``noDataMicroBatches`` at ``start()``, so both are pinned only around
    it. The trailing no-data batch is off by default: in complete mode it
    only re-emits all state into the sink a second time. Outer joins turn
    it on, because their NULL-extended arm fires only on the final
    watermark advance, which is what that batch provides. Spark reads
    ``numRecentProgressUpdates`` live (default 100), so it stays raised
    until the query ends; otherwise a long run keeps only its last
    progress entries.
    """
    spark = stream_df.sparkSession
    os.makedirs(CKPT_ROOT, exist_ok=True)
    ckpt = tempfile.mkdtemp(prefix="stream_", dir=CKPT_ROOT)
    start_confs = {
        "spark.sql.shuffle.partitions": str(STREAM_SHUFFLE_PARTITIONS),
        "spark.sql.streaming.noDataMicroBatches.enabled": str(no_data_batches).lower(),
    }
    try:
        with _pinned(
            spark, {"spark.sql.streaming.numRecentProgressUpdates": str(2**31 - 1)}
        ):
            with _pinned(spark, start_confs):
                q = incremental_sync_stream(
                    spark, stream_df, write_batch, ckpt, output_mode
                )
            try:
                q.awaitTermination()
                return list(q.recentProgress)
            finally:
                q.stop()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


_EVENT_VARCHARS = {"event_type": 40, "props": 400}


@register("stream_upsert", oracle="SELECT * FROM events")
def stream_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end streaming upsert into a real JDBC target (embedded
    Derby): the reference's CDC gap closed with its own insert shape made
    set-based (`sync/JdbcPageSink.java:81-104` → stage + MERGE).

    A replica is seeded with every event at-or-before a seed cutoff, but
    rows past the stream checkpoint are CORRUPTED (value = -1). The stream
    then ships everything past the checkpoint through
    incremental_sync_stream → jdbc_upsert_batch: the overlap rows must be
    UPDATEd back to truth and the tail INSERTed. The read-back equals the
    full source table iff both merge arms worked — `SELECT * FROM events`
    is the whole oracle.
    """
    from cpt_database_sync_spark.sources.sync import (
        jdbc_reader,
        jdbc_sync_table,
        jdbc_upsert_batch,
        lowercase_columns,
        sweep_scratch,
    )
    from cpt_database_sync_spark.streaming.windows import events_stream

    workdir = sweep_scratch("stream_upsert_", spark)
    url = f"jdbc:derby:{workdir}/db;create=true"
    checkpoint = "2024-01-10 00:00:00"
    seed_cut = "2024-01-20 00:00:00"

    ev = load(spark, sf_dir, "events")
    seed = ev.filter(F.col("ts") <= seed_cut).withColumn(
        "value",
        F.when(F.col("ts") > checkpoint, F.lit(-1.0)).otherwise(F.col("value")),
    )
    jdbc_sync_table(
        spark, seed, url, "events_replica",
        varchar_lengths=_EVENT_VARCHARS, flavor="ansi",
    )

    tail = events_stream(spark, sf_dir).filter(F.col("ts") > checkpoint)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        jdbc_upsert_batch(
            spark, batch_df, url, "events_replica", ["event_id"],
            varchar_lengths=_EVENT_VARCHARS,
        )

    run_stream(tail, write_batch)
    back = jdbc_reader(spark, url, "events_replica")
    return lowercase_columns(back).select(*ev.columns)


@register(
    "stream_schema_evolution",
    oracle="""
    SELECT event_id, ts, user_id, event_type, value,
           CASE WHEN ts <= TIMESTAMP '2024-01-15 00:00:00'
                THEN NULL ELSE props END AS props
    FROM events
    """,
)
def stream_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive-column schema drift THROUGH the incremental stream —
    ``schema_evolution``'s batch story carried into the
    ``incremental_sync_stream`` path: a v1 producer streams events
    WITHOUT the ``props`` column up to a cutoff, then the upgraded v2
    producer streams the tail with ``props`` added, both appending to
    the same sink. Each phase is its own streaming query + checkpoint
    (a streaming source's schema is pinned at query start — a producer
    upgrade IS a new query; the sink and its history carry over).

    ``mergeSchema`` on the sink read-back unions the file footers at
    planning time: v1 micro-batch files surface ``props`` as NULL with
    no data rewrite — at 100 TB the old files are never touched, which
    is exactly what the reference's drop+recreate cannot do
    (`sync/M2H2SchemaConverter.java:48-118`). The oracle is identity
    across the drift boundary: every source row present exactly once,
    props NULL iff it shipped before the upgrade.
    """
    from cpt_database_sync_spark.sources.sync import sweep_scratch  # noqa: PLC0415
    from cpt_database_sync_spark.streaming.windows import events_stream

    target = f"{sweep_scratch('stream_evo_')}/sink"
    cutoff = "2024-01-15 00:00:00"
    ev = events_stream(spark, sf_dir)

    def writer(gen: str):
        # idempotent per incremental_sync_stream's contract: each batch
        # overwrites its own (generation, batch_id)-keyed subdirectory,
        # so a checkpoint replay after a crash-between-commits replaces
        # rather than duplicates (the incremental_append pattern).
        def write_batch(batch_df: DataFrame, batch_id: int) -> None:
            batch_df.write.mode("overwrite").parquet(
                f"{target}/{gen}_b{batch_id}"
            )

        return write_batch

    v1 = ev.filter(F.col("ts") <= cutoff).drop("props")
    run_stream(v1, writer("v1"))
    run_stream(ev.filter(F.col("ts") > cutoff), writer("v2"))

    back = (
        spark.read.option("mergeSchema", "true")
        .option("recursiveFileLookup", "true")
        .parquet(target)
    )
    return back.select("event_id", "ts", "user_id", "event_type", "value", "props")


@register(
    "stream_cdc_deletes",
    oracle="""
    SELECT * FROM events
    WHERE NOT (ts > TIMESTAMP '2024-01-10 00:00:00' AND event_type = 'error')
    """,
)
def stream_cdc_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CDC through the stream — upserts AND delete tombstones — into
    a real JDBC target. ``stream_upsert`` closes the reference's
    insert/update gap; this closes the delete half its ON DUPLICATE KEY
    loop cannot express (`sync/JdbcPageSink.java:81-104`): a deletion at
    the source survives only if the replication path carries tombstones,
    otherwise the next sync resurrects the row.

    Scenario: the replica is seeded with every event at-or-before a seed
    cutoff, rows past the stream checkpoint corrupted (value = -1). The
    CDC feed streams everything past the checkpoint, each row tagged
    op = 'D' (event_type 'error' — the source purged them) or 'U'. Every
    batch applies as ONE set-based MERGE with refined match clauses
    (sources/sync.py merge_cdc_statement): corrupted overlap rows are
    UPDATEd back or DELETEd, tail rows INSERTed unless tombstoned, and a
    tombstone for a never-replicated row is a correct no-op. The
    read-back must equal the source minus the purged set — deletes of
    rows the target never had, deletes of rows it did have, and plain
    upserts all verified by one identity oracle.

    Scale: tombstones are data, not DDL — they ride the same staged
    distributed write + one-statement merge as upserts, so the 100 TB
    path has no per-row driver round-trips; checkpointed micro-batches
    keep replays idempotent (re-deleting is a no-op, re-upserting
    converges).

    Cost: each batch's MERGE resolves its rows through the replica's key
    index (``jdbc_cdc_batch``), so the whole run takes ~6 s at sf0.1
    (~86k rows read back; 4 vCPUs) and ~3.4 s at sf0.01, where the
    null-safe match over an unindexed replica took ~25 s at sf0.01.
    Like stream_upsert it is not a headline bench query: it times an
    embedded Derby sink; perfbench's ``cdc_apply`` workload times this
    path instead.
    """
    from cpt_database_sync_spark.sources.sync import (  # noqa: PLC0415
        jdbc_cdc_batch,
        jdbc_reader,
        jdbc_sync_table,
        lowercase_columns,
        sweep_scratch,
    )
    from cpt_database_sync_spark.streaming.windows import events_stream

    workdir = sweep_scratch("stream_cdc_", spark)
    url = f"jdbc:derby:{workdir}/db;create=true"
    checkpoint = "2024-01-10 00:00:00"
    seed_cut = "2024-01-20 00:00:00"

    ev = load(spark, sf_dir, "events")
    seed = ev.filter(F.col("ts") <= seed_cut).withColumn(
        "value",
        F.when(F.col("ts") > checkpoint, F.lit(-1.0)).otherwise(F.col("value")),
    )
    jdbc_sync_table(
        spark, seed, url, "events_replica",
        varchar_lengths=_EVENT_VARCHARS, flavor="ansi",
    )

    feed = (
        events_stream(spark, sf_dir)
        .filter(F.col("ts") > checkpoint)
        .withColumn(
            "op",
            F.when(F.col("event_type") == "error", F.lit("D")).otherwise(
                F.lit("U")
            ),
        )
    )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        jdbc_cdc_batch(
            spark, batch_df, url, "events_replica", ["event_id"],
            varchar_lengths={**_EVENT_VARCHARS, "op": 1},
        )

    run_stream(feed, write_batch)
    back = jdbc_reader(spark, url, "events_replica")
    return lowercase_columns(back).select(*ev.columns)

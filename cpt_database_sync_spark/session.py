"""SparkSession factory.

Pins the configuration that correctness and scale depend on:

- ``spark.sql.session.timeZone=UTC`` — the reference stores DATE as epoch
  days and TIMESTAMP as epoch millis with JVM-zone semantics
  (``sync/StandardReadMappings.java:111-152``); pinning UTC makes Spark's
  session-TZ micros agree with both that model and the DuckDB oracle.
- AQE on — runtime re-planning (partition coalescing, skew-join splitting,
  dynamic broadcast) replaces every hand-tuned constant the reference
  hard-codes (fetch size / batch size / queue bound, ``BASELINE.md``).
- Arrow on — vectorized transfer for the pandas-UDF slow path.
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import SparkSession
from pyspark.sql.types import StructType

# The directory that holds the package. Python workers start in the
# driver's working directory and see only that on their path, so
# without it every pandas-UDF key fails with "No module named
# 'cpt_database_sync_spark'" when the driver starts outside that
# directory.
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _local_scratch() -> str:
    """RAM-backed scratch for shuffle/spill when available (local mode);
    honors SPARK_LOCAL_DIRS-style override via SPARK_GRAFT_LOCAL_DIR."""
    override = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if override:
        return override
    if os.path.isdir("/dev/shm"):
        d = "/dev/shm/spark-graft-local"
        os.makedirs(d, exist_ok=True)
        return d
    return "/tmp"


def get_spark(
    app_name: str = "cpt-database-sync-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    On a real cluster, drop ``master`` and submit with spark-submit; every
    other setting below is cluster-size-independent (AQE adapts partition
    counts at runtime).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"))
        # Codegen-heavy plans (64-lane minhash, higher-order functions)
        # overflow HotSpot's default 240 MB code cache; once full the JIT
        # silently stops compiling and every later task runs interpreted
        # (measured 7x on the minhash signature scan). On a cluster this
        # goes in spark.executor.extraJavaOptions instead.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing",
        )
        # Shuffle/spill scratch on tmpfs: local[?] puts executor local dirs
        # on /tmp (spinning/virtio disk here); under write pressure the
        # page-cache flush stalls unrelated fsyncs (streaming state-store
        # commits) for tens of seconds. RAM-backed local dirs isolate the
        # control plane from data-plane flush storms. On a cluster this is
        # the NVMe-backed spark.local.dir per node.
        .config("spark.local.dir", _local_scratch())
        # Streaming checkpoint and state-store files are renamed into
        # place through the FileSystem API, not Spark's default
        # FileContext one. On a local path the FileContext rename checks
        # both paths with getFileLinkStatus, and without the native
        # Hadoop library each check starts a `readlink` process (~5 ms
        # each on a 4-vCPU host): 128 per 5-batch CDC stream, 613 per
        # stream_cusum run. The FileSystem rename is check-then-rename
        # too, so only the processes go away. Sessions not built here
        # keep Spark's default manager.
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        # PySpark merges this into each Python worker's PYTHONPATH.
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _leaf_type(t):
    """Arrow type ``t`` with any list nesting removed."""
    import pyarrow as pa  # noqa: PLC0415

    while pa.types.is_list(t):
        t = t.value_type
    return t


def local_frame(spark: SparkSession, rows, schema):
    """A frame of driver-side ``rows`` (tuples in ``schema`` order;
    ``schema`` is a DDL string or a ``StructType``), built from an Arrow
    table — the one way the package turns driver literals into a frame.

    ``spark.createDataFrame(<list>)`` plans a ``LogicalRDD`` over a Python
    RDD, so every execution of a plan that holds it runs a
    ``defaultParallelism``-task stage through Python workers, even for 0
    rows: a 5-row frame's ``noop`` write took 371 ms that way, 53 ms from
    Arrow (4 vCPUs, warm, median of 10). An Arrow table becomes a JVM
    ``LocalRelation`` below ``spark.sql.execution.arrow.localRelationThreshold``
    and a JVM-only RDD above it; neither starts a Python worker, and
    neither reads ``spark.sql.execution.arrow.pyspark.enabled``.

    A value that does not fit its column raises: a string in a number
    column, a bool or a float in an integer one, a fraction finer than a
    decimal's scale, an out-of-range integer, a NULL in a non-nullable
    column, a row of the wrong width. An int in a floating-point column
    is widened, as Arrow does.
    """
    import pyarrow as pa  # noqa: PLC0415
    from pyspark.sql.pandas.types import to_arrow_schema  # noqa: PLC0415

    struct = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    width = len(arrow)
    if any(len(r) != width for r in rows):
        raise ValueError(f"local_frame: every row must have {width} values")
    columns = list(zip(*rows)) or [()] * width
    arrays = []
    for c, f in zip(columns, arrow):
        # Arrow truncates a float it converts to an integer (1.5 -> 1), so
        # an integer column is first checked against the type Arrow infers
        if pa.types.is_integer(_leaf_type(f.type)):
            got = _leaf_type(pa.array(c).type)
            if not (pa.types.is_integer(got) or pa.types.is_null(got)):
                raise TypeError(f"local_frame: {got} value in integer column {f.name!r}")
        arrays.append(pa.array(c, type=f.type))
    return spark.createDataFrame(pa.Table.from_arrays(arrays, schema=arrow), struct)


# The session memo: one recency-ordered dict, key -> (input frame,
# memoized frame, checkpoint flag), for cached and checkpointed frames
# alike. Bounds (constants, not knobs):
_MEMO: dict = {}
_MEMO_CAP = 24  # entries
_MEMO_BYTES = 1 << 30  # block-manager bytes, all persisted RDDs
#: Most recent entries the byte bound never releases: the most entries
#: one registry key's construction touches before its plan runs (4, by
#: ``pipeline_e2e``, constructing every key at sf0.01 and sf0.1). A
#: released checkpoint cannot recompute, and a key's checkpoints may be
#: touched before its cached frames.
_MEMO_FLOOR = 4


def _same_plan(a, b) -> bool:
    """True when two frames have result-equivalent analyzed plans
    (``sameResult`` normalizes expression ids, so two separate
    constructions of the same query compare equal). Any failure — e.g. a
    handle from a stopped session — reads as "different"."""
    try:
        return bool(
            a._jdf.queryExecution()
            .analyzed()
            .sameResult(b._jdf.queryExecution().analyzed())
        )
    except Exception:
        return False


def _memo_bytes(spark) -> int:
    """Bytes (memory + disk) the block manager holds for every persisted
    RDD — the totals the byte bound reads, so no insert has to resolve a
    cached frame's RDD. Warns and returns 0 (no byte eviction this time)
    when the totals cannot be read."""
    try:
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos)
    except Exception as exc:
        warnings.warn(
            f"session memo: block-manager totals unreadable ({exc!r}); "
            "the byte bound is skipped",
            RuntimeWarning,
            stacklevel=2,
        )
        return 0


def release(frame, checkpoint: bool) -> None:
    """Free the blocks of a cached (``checkpoint=False``) or
    ``localCheckpoint`` frame now, blocking until the block manager has
    dropped them. The caller guarantees no still-to-run plan reads a
    released checkpoint: it cannot recompute. A handle from a stopped
    session holds no blocks, so failures are ignored."""
    try:
        if checkpoint:
            frame._jdf.queryExecution().analyzed().rdd().unpersist(True)
        else:
            frame.unpersist(blocking=True)
    except Exception:
        pass


def _evict_lru() -> None:
    _, frame, checkpoint = _MEMO.pop(next(iter(_MEMO)))
    release(frame, checkpoint)


def bounded_cache(key: str, df, checkpoint: bool = False):
    """Memoize ``df`` under ``key`` for the session and return the
    memoized frame: ``df.cache()``, or with ``checkpoint=True`` an eager
    ``localCheckpoint`` (a lineage cut that is built once and never
    recomputes).

    Reuse: a later call with the same key returns the memoized frame when
    ``df`` comes from the same live session and has the same analyzed plan
    result as the memoized input (``_same_plan``). Otherwise the entry is
    stale: it is released and ``df`` memoized in its place.

    Bounds, the same for both kinds: at most ``_MEMO_CAP`` entries and
    ``_MEMO_BYTES`` of block-manager storage (all persisted RDDs count).
    Past either bound the least recently used entry is released. The byte
    bound keeps the ``_MEMO_FLOOR`` most recent entries, which covers every
    entry one key's construction uses before its plan runs.

    Input files must not change within a session: a parquet rewritten in
    place at the same path leaves the plan equal, so the memo keeps
    serving the old rows (as Spark's own ``cache()`` does).
    """
    prev = _MEMO.pop(key, None)
    if prev is not None:
        src, frame, was_checkpoint = prev
        if src.sparkSession is df.sparkSession and _same_plan(src, df):
            _MEMO[key] = prev  # re-inserted as the most recent
            return frame
        release(frame, was_checkpoint)
    while len(_MEMO) >= _MEMO_CAP:
        _evict_lru()
    frame = df.localCheckpoint(eager=True) if checkpoint else df.cache()
    _MEMO[key] = (df, frame, checkpoint)
    while len(_MEMO) > _MEMO_FLOOR and _memo_bytes(df.sparkSession) > _MEMO_BYTES:
        _evict_lru()
    return frame

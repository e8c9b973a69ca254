"""Whole-database sync: the reference's boot loop, verified by counts and
spot value equality."""

from __future__ import annotations

import shutil
import types

from cpt_database_sync_spark.sources.sync import scratch_dir, sync_database
from cpt_database_sync_spark.sources.tables import ALL_TABLES, load


def test_sync_database_copies_every_table(spark, sf_dir):
    target = f"{scratch_dir()}/sync_db_test"
    shutil.rmtree(target, ignore_errors=True)
    counts = sync_database(spark, sf_dir, target)
    assert set(counts) == set(ALL_TABLES)
    for t in ALL_TABLES:
        assert counts[t] == load(spark, sf_dir, t).count(), t
    # spot-check values survived, not just counts
    src = {r.n_nationkey: r.n_name for r in load(spark, sf_dir, "nation").collect()}
    dst = {
        r.n_nationkey: r.n_name
        for r in spark.read.parquet(f"{target}/nation").collect()
    }
    assert src == dst


def test_incremental_append_crash_retry_is_idempotent(spark, sf_dir):
    """A crash between the increment write and the watermark advance must
    not duplicate rows on retry (ADVICE r1): the retry recomputes the same
    watermark range and overwrites the same run-keyed path."""
    import os

    from pyspark.sql import functions as F

    from cpt_database_sync_spark.streaming.incremental import (
        _write_watermark,
        incremental_append,
        read_increments,
    )
    from cpt_database_sync_spark.sources.tables import load

    target = f"{scratch_dir()}/incr_idem_test/data"
    wm_file = f"{scratch_dir()}/incr_idem_test/wm.json"
    shutil.rmtree(f"{scratch_dir()}/incr_idem_test", ignore_errors=True)
    os.makedirs(f"{scratch_dir()}/incr_idem_test", exist_ok=True)

    ev = load(spark, sf_dir, "events")
    cutoff = "2024-01-15 00:00:00"
    incremental_append(spark, ev.filter(F.col("ts") <= cutoff), "ts", target, wm_file)
    wm_after_phase1 = open(wm_file).read()

    # first shipment of the tail, then simulate the crash: data landed but
    # the watermark write was lost
    incremental_append(spark, ev, "ts", target, wm_file)
    with open(wm_file, "w") as f:
        f.write(wm_after_phase1)

    # retry re-ships the same increment
    incremental_append(spark, ev, "ts", target, wm_file)

    assert read_increments(spark, target).count() == ev.count()


def test_incremental_retry_with_new_rows_does_not_double_count(spark, sf_dir):
    """Harder crash case (ADVICE r2): new source rows arrive BETWEEN the
    orphaned increment write and the retry. A high-keyed run dir would
    leave inc_<hwm>_<max1> beside inc_<hwm>_<max2> and double-count the
    overlap; low-keyed dirs make the retry overwrite the orphan."""
    import os

    from pyspark.sql import functions as F

    from cpt_database_sync_spark.streaming.incremental import (
        incremental_append,
        read_increments,
    )

    target = f"{scratch_dir()}/incr_retry_test/data"
    wm_file = f"{scratch_dir()}/incr_retry_test/wm.json"
    shutil.rmtree(f"{scratch_dir()}/incr_retry_test", ignore_errors=True)
    os.makedirs(f"{scratch_dir()}/incr_retry_test", exist_ok=True)

    ev = load(spark, sf_dir, "events")
    c1, c2 = "2024-01-10 00:00:00", "2024-01-20 00:00:00"
    incremental_append(spark, ev.filter(F.col("ts") <= c1), "ts", target, wm_file)
    wm_after_phase1 = open(wm_file).read()

    # increment up to c2 lands, then crash: watermark write lost
    incremental_append(spark, ev.filter(F.col("ts") <= c2), "ts", target, wm_file)
    with open(wm_file, "w") as f:
        f.write(wm_after_phase1)

    # retry sees MORE source data (full table now) — wider range, same low
    incremental_append(spark, ev, "ts", target, wm_file)

    assert read_increments(spark, target).count() == ev.count()


def test_run_to_table_empty_source_and_scratch_cleanup(spark, sf_dir):
    """Zero-micro-batch streams return an empty frame (not an
    AnalysisException on the never-created sink dir), and the per-run
    tmpfs scratch is fully deleted after materialization (ADVICE r2)."""
    import os

    from pyspark.sql import functions as F

    from cpt_database_sync_spark.streaming.windows import (
        events_stream,
        run_to_table,
    )

    empty_dir = f"{scratch_dir()}/empty_stream_src"
    shutil.rmtree(empty_dir, ignore_errors=True)
    os.makedirs(empty_dir, exist_ok=True)
    st = (
        spark.readStream.schema("k bigint, v double")
        .parquet(empty_dir)
        .groupBy("k")
        .agg(F.sum("v").alias("sv"))
    )
    out = run_to_table(st, "complete")
    assert out.count() == 0
    assert out.columns == ["k", "sv"]

    # a normal run must leave nothing NEW behind in the scratch root
    # (compare against a pre-run snapshot: a concurrent bench/driver
    # process or a stale dir from a killed run is not THIS run's leak)
    roots = ("/dev/shm/spark-graft-ckpt", "/tmp/spark-graft-ckpt")
    before = {
        root: set(os.listdir(root)) if os.path.isdir(root) else set()
        for root in roots
    }
    agg = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    res = run_to_table(agg, "complete")
    assert res.count() > 0
    for root in roots:
        if os.path.isdir(root):
            leaked = set(os.listdir(root)) - before[root]
            assert leaked == set(), f"leaked scratch in {root}: {leaked}"


def test_run_stream_restores_confs_and_removes_checkpoint(spark, sf_dir):
    """A stream run leaves the session as it found it: a sink that raises
    propagates its error, and neither that run nor a ``run_to_table``
    with the trailing no-data batch on leaves a new entry under the
    checkpoint root or any pinned conf changed."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from cpt_database_sync_spark.streaming.incremental import CKPT_ROOT, run_stream
    from cpt_database_sync_spark.streaming.windows import events_stream, run_to_table

    keys = (
        "spark.sql.shuffle.partitions",
        "spark.sql.streaming.noDataMicroBatches.enabled",
        "spark.sql.streaming.numRecentProgressUpdates",
    )
    prior = {k: spark.conf.get(k, None) for k in keys}
    os.makedirs(CKPT_ROOT, exist_ok=True)
    entries = set(os.listdir(CKPT_ROOT))

    def boom(batch_df, batch_id):
        raise RuntimeError("sink failed on purpose")

    # a prior value distinct from every pin, so a leaked pin shows
    spark.conf.set(keys[0], "5")
    spark.conf.unset(keys[1])
    try:
        with pytest.raises(Exception, match="sink failed on purpose"):
            run_stream(events_stream(spark, sf_dir), boom)
        assert [spark.conf.get(k, None) for k in keys] == ["5", None, prior[keys[2]]]
        windows = (
            events_stream(spark, sf_dir)
            .withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour"))
            .count()
        )
        # append mode emits a window only once the watermark passes it:
        # the trailing no-data batch is what flushes the closed ones
        assert run_to_table(windows, "append", no_data_batches=True).count() > 0
        assert [spark.conf.get(k, None) for k in keys] == ["5", None, prior[keys[2]]]
        assert set(os.listdir(CKPT_ROOT)) == entries
    finally:
        for k, v in prior.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_scratch_dir_defaults_beside_the_package(monkeypatch, tmp_path):
    """With SPARK_GRAFT_SCRATCH unset the scratch root is ``.scratch`` in
    the package's parent directory, not a fixed path."""
    import os

    from cpt_database_sync_spark import session
    from cpt_database_sync_spark.sources import sync

    assert os.path.isfile(
        os.path.join(session._PACKAGE_PARENT, "cpt_database_sync_spark", "__init__.py")
    )
    monkeypatch.delenv("SPARK_GRAFT_SCRATCH", raising=False)
    monkeypatch.setattr(sync, "_PACKAGE_PARENT", str(tmp_path))
    monkeypatch.setattr(sync, "_scratch_reaped", True)
    want = os.path.join(str(tmp_path), ".scratch", f"p{os.getpid()}")
    assert sync.scratch_dir() == want and os.path.isdir(want)


def test_merge_into_semantics(spark, sf_dir):
    """Source wins on key match, unmatched source inserts, unmatched
    target survives — and the merged key set is exact."""
    from pyspark.sql import functions as F

    from cpt_database_sync_spark.sources.sync import merge_into

    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    target = o.filter(F.col("o_orderkey") % 3 != 0)
    source = o.filter(F.col("o_orderkey") % 2 == 0).withColumn(
        "o_totalprice", F.lit(-1.0)
    )
    merged = merge_into(target, source, "o_orderkey").cache()

    t_keys = {r.o_orderkey for r in target.select("o_orderkey").collect()}
    s_keys = {r.o_orderkey for r in source.select("o_orderkey").collect()}
    m = {r.o_orderkey: r.o_totalprice for r in merged.collect()}
    assert set(m) == t_keys | s_keys
    assert merged.count() == len(t_keys | s_keys), "one row per key"
    for k, v in m.items():
        assert (v == -1.0) == (k in s_keys), f"key {k}: source must win"
    merged.unpersist()


def test_stream_checkpoint_processes_only_new_files(spark, sf_dir):
    """The incremental guarantee Structured Streaming's checkpoint gives
    the sync lineage: a second availableNow run against the SAME
    checkpoint dir must process only files that arrived since the first
    run — no reprocessing, no loss."""
    import os

    from pyspark.sql import functions as F

    root = f"{scratch_dir()}/ckpt_continuation"
    shutil.rmtree(root, ignore_errors=True)
    src, ckpt, out = f"{root}/src", f"{root}/ckpt", f"{root}/out"
    os.makedirs(src)

    batch1 = spark.range(0, 100).select(F.col("id").alias("k"))
    batch1.write.mode("append").parquet(src)

    def run_once():
        stream = spark.readStream.schema("k bigint").parquet(src)
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q.stop()

    run_once()
    assert spark.read.parquet(out).count() == 100

    # second batch arrives; rerun with the same checkpoint
    spark.range(100, 130).select(F.col("id").alias("k")).write.mode(
        "append"
    ).parquet(src)
    run_once()
    got = sorted(r["k"] for r in spark.read.parquet(out).collect())
    assert got == list(range(130)), "must append exactly the 30 new rows"

    # idempotent: a third run with nothing new must add nothing
    run_once()
    assert spark.read.parquet(out).count() == 130
    shutil.rmtree(root, ignore_errors=True)


def test_stream_checkpoints_use_filesystem_manager(spark):
    """get_spark's sessions rename checkpoint and state-store files
    through the FileSystem API: the manager Spark builds for a checkpoint
    path is FileSystemBasedCheckpointFileManager. Spark's default,
    FileContextBasedCheckpointFileManager, starts a `readlink` process per
    rename on a local path. Built the way Spark builds it, so a Spark
    upgrade that moves or renames the class fails here."""
    jvm = spark._jvm
    pkg = "org.apache.spark.sql.execution.streaming.checkpointing"
    factory = getattr(getattr(jvm, f"{pkg}.CheckpointFileManager$"), "MODULE$")
    path = jvm.org.apache.hadoop.fs.Path(f"{scratch_dir()}/ckpt_manager")
    manager = factory.create(path, spark._jsparkSession.sessionState().newHadoopConf())
    assert manager.getClass().getName() == f"{pkg}.FileSystemBasedCheckpointFileManager"


def _execute_jdbc(spark, url: str, statements: list[str]) -> None:
    """Run SQL statements on the target over a new driver connection."""
    from cpt_database_sync_spark.sources.sync import _connect, _execute

    conn = _connect(spark, url)
    try:
        _execute(conn, statements)
    finally:
        conn.close()


def test_jdbc_merge_null_key_upserts_one_row(spark):
    """NULL-safe MERGE keys (r8 review): a NULL-keyed group must hold
    exactly ONE serving row across repeated upsert batches — plain
    equality never matches NULL, which inserted a fresh duplicate per
    micro-batch."""
    from cpt_database_sync_spark.sources.sync import (
        jdbc_reader,
        jdbc_sync_table,
        jdbc_upsert_batch,
    )

    url = _fresh_derby(spark, "nullkey_")
    df1 = spark.createDataFrame(
        [(None, 1.0), (7, 2.0)], "k INT, v DOUBLE"
    )
    jdbc_sync_table(spark, df1.limit(0), url, "serving", flavor="ansi")
    jdbc_upsert_batch(spark, df1, url, "serving", ["k"], flavor="ansi")
    df2 = spark.createDataFrame(
        [(None, 9.0), (7, 8.0)], "k INT, v DOUBLE"
    )
    jdbc_upsert_batch(spark, df2, url, "serving", ["k"], flavor="ansi")
    back = {
        r[0]: r[1]
        for r in jdbc_reader(spark, url, "serving").collect()
    }
    assert back == {None: 9.0, 7: 8.0}, back


def test_jdbc_cdc_null_op_row_inserts(spark):
    """NULL op marker reads as upsert on BOTH arms (r8 review): the
    INSERT arm's `op <> 'D'` alone evaluates to NULL for a NULL marker,
    silently discarding new-key rows while existing keys still updated.
    Drives merge_cdc_statement directly over SQL, so the MERGE is tested
    apart from the staging write (that write lands NULL strings in Derby
    VARCHAR through jdbc_sync_table's CLOB shadow table, covered end to
    end by test_jdbc_cdc_null_strings_through_shadow)."""
    from cpt_database_sync_spark.sources.sync import jdbc_reader, merge_cdc_statement

    url = _fresh_derby(spark, "nullop_")
    _execute_jdbc(spark, url, [
        'CREATE TABLE "T" ("K" INT, "V" DOUBLE)',
        'INSERT INTO "T" VALUES (1, 10.0), (3, 30.0)',
        'CREATE TABLE "S" ("K" INT, "V" DOUBLE, "OP" VARCHAR(4))',
        "INSERT INTO \"S\" VALUES (1, 11.0, NULL), (2, 20.0, NULL), (3, 33.0, 'D')",
    ])
    sql = merge_cdc_statement("T", "S", ["K", "V", "OP"], ["K"], "OP")
    _execute_jdbc(spark, url, [sql])
    back = {r[0]: r[1] for r in jdbc_reader(spark, url, "T").collect()}
    # NULL-op rows upsert on both arms; 'D' deletes
    assert back == {1: 11.0, 2: 20.0}, back


def _fresh_derby(spark, prefix: str) -> str:
    """URL of an empty embedded Derby database under the scratch dir."""
    from cpt_database_sync_spark.sources.sync import sweep_scratch

    return f"jdbc:derby:{sweep_scratch(prefix, spark)}/db;create=true"


def _indexes(spark, url: str, table: str) -> dict[str, list[str]]:
    """Index name → its columns in order, from DatabaseMetaData."""
    conn = spark._sc._jvm.java.sql.DriverManager.getConnection(url)
    try:
        rs = conn.getMetaData().getIndexInfo(None, "APP", table, False, True)
        out: dict[str, list[str]] = {}
        while rs.next():
            out.setdefault(rs.getString("INDEX_NAME"), []).append(
                rs.getString("COLUMN_NAME")
            )
        rs.close()
        return out
    finally:
        conn.close()


def _replica(spark, url: str) -> list[tuple]:
    from cpt_database_sync_spark.sources.sync import jdbc_reader

    return sorted(
        (tuple(r) for r in jdbc_reader(spark, url, "replica").collect()),
        key=repr,
    )


def test_jdbc_cdc_null_key_updates_then_deletes_one_row(spark):
    """A CDC batch carrying a NULL key takes the null-safe match: it
    updates the one NULL-keyed replica row instead of inserting a second,
    and a later tombstone deletes that row."""
    from cpt_database_sync_spark.sources.sync import jdbc_cdc_batch, jdbc_sync_table

    url = _fresh_derby(spark, "cdcnullkey_")
    seed = spark.createDataFrame([(None, 1.0), (7, 2.0)], "k INT, v DOUBLE")
    jdbc_sync_table(spark, seed, url, "replica", flavor="ansi")
    schema, lengths = "k INT, v DOUBLE, op STRING", {"op": 1}
    batch = spark.createDataFrame([(None, 5.0, "U"), (8, 3.0, "U")], schema)
    jdbc_cdc_batch(spark, batch, url, "replica", ["k"], varchar_lengths=lengths)
    assert _replica(spark, url) == [(7, 2.0), (8, 3.0), (None, 5.0)]
    batch = spark.createDataFrame([(None, 0.0, "D")], schema)
    jdbc_cdc_batch(spark, batch, url, "replica", ["k"], varchar_lengths=lengths)
    assert _replica(spark, url) == [(7, 2.0), (8, 3.0)]


def test_jdbc_cdc_null_strings_through_shadow(spark):
    """A CDC batch with NULLs in its VARCHAR columns stages through the
    CLOB shadow table (a direct append is rejected by Derby): a tombstone
    whose event_type and props are NULL deletes its row, and an upsert
    that sets props to NULL stores the NULL."""
    from cpt_database_sync_spark.sources.sync import jdbc_cdc_batch, jdbc_sync_table

    url = _fresh_derby(spark, "cdcnullstr_")
    lengths = {"event_type": 40, "props": 400}
    cols = "event_id BIGINT, event_type STRING, props STRING, value DOUBLE"
    seed = spark.createDataFrame(
        [(1, "click", "a=1", 1.0), (2, "view", "b=2", 2.0), (3, "buy", "c=3", 3.0)],
        cols,
    )
    jdbc_sync_table(spark, seed, url, "replica", varchar_lengths=lengths, flavor="ansi")
    batch = spark.createDataFrame(
        [(1, None, None, None, "D"), (2, "view", None, 2.5, "U")],
        cols + ", op STRING",
    )
    jdbc_cdc_batch(
        spark, batch, url, "replica", ["event_id"],
        varchar_lengths={**lengths, "op": 1},
    )
    assert _replica(spark, url) == [(2, "view", None, 2.5), (3, "buy", "c=3", 3.0)]
    assert _tables(spark, url) == ["REPLICA"], "staging and shadow tables must be dropped"


def test_jdbc_merge_keeps_one_key_index(spark):
    """Repeated batches, null-free and NULL-keyed, index the target's key
    once and reuse that index."""
    from cpt_database_sync_spark.sources.sync import (
        jdbc_cdc_batch,
        jdbc_sync_table,
        jdbc_upsert_batch,
    )

    url = _fresh_derby(spark, "keyindex_")
    seed = spark.createDataFrame([(1, 1.0)], "k INT, v DOUBLE")
    jdbc_sync_table(spark, seed, url, "replica", flavor="ansi")
    for i in range(3):
        batch = spark.createDataFrame([(1, float(i)), (i + 2, 0.0)], "k INT, v DOUBLE")
        jdbc_upsert_batch(spark, batch, url, "replica", ["k"])
    batch = spark.createDataFrame([(None, 9.0, "U")], "k INT, v DOUBLE, op STRING")
    jdbc_cdc_batch(spark, batch, url, "replica", ["k"], varchar_lengths={"op": 1})
    assert _indexes(spark, url, "REPLICA") == {"REPLICA_KEY_IDX": ["K"]}
    assert _replica(spark, url) == [
        (1, 2.0), (2, 0.0), (3, 0.0), (4, 0.0), (None, 9.0)
    ]


def test_jdbc_merge_reuses_primary_key_index(spark):
    """A target whose key is its PRIMARY KEY already has a key index:
    the upsert adds none."""
    from cpt_database_sync_spark.sources.sync import jdbc_upsert_batch

    url = _fresh_derby(spark, "pkindex_")
    _execute_jdbc(spark, url, [
        'CREATE TABLE "REPLICA" ("K" INT NOT NULL, "J" INT NOT NULL, '
        '"V" DOUBLE, PRIMARY KEY ("J", "K"))'
    ])
    before = _indexes(spark, url, "REPLICA")
    assert list(before.values()) == [["J", "K"]]
    schema = "k INT, j INT, v DOUBLE"
    for rows in ([(1, 1, 1.0), (2, 1, 2.0)], [(1, 1, 3.0)]):
        batch = spark.createDataFrame(rows, schema)
        jdbc_upsert_batch(spark, batch, url, "replica", ["k", "j"])
    assert _indexes(spark, url, "REPLICA") == before
    assert _replica(spark, url) == [(1, 1, 3.0), (2, 1, 2.0)]


def _tables(spark, url: str) -> list[str]:
    """Names of the tables and views in the APP schema, sorted."""
    conn = spark._sc._jvm.java.sql.DriverManager.getConnection(url)
    try:
        rs = conn.getMetaData().getTables(None, "APP", None, None)
        tables = []
        while rs.next():
            tables.append(rs.getString("TABLE_NAME"))
        rs.close()
        return sorted(tables)
    finally:
        conn.close()


class _RecordingConnection:
    """A JDBC connection that records the SQL its statements execute."""

    def __init__(self, conn):
        self._conn, self.sql = conn, []

    def createStatement(self):
        stmt, log = self._conn.createStatement(), self.sql

        def execute(sql):
            log.append(sql)
            return stmt.execute(sql)

        return types.SimpleNamespace(execute=execute, close=stmt.close)

    def __getattr__(self, name):
        return getattr(self._conn, name)


def test_recreate_table_drops_only_a_listed_table(spark):
    """No DROP is sent for an absent table, and nothing raises; a present
    table is dropped and created again. A DROP that fails on a present
    table (here a view depends on it) raises that DROP's error."""
    import pytest

    from cpt_database_sync_spark.sources.sync import _connect, _execute, _recreate_table

    url = _fresh_derby(spark, "recreate_")
    ddl = 'CREATE TABLE "T" ("K" INT)'
    conn = _RecordingConnection(_connect(spark, url))
    try:
        _recreate_table(conn, "T", '"', ddl)
        assert conn.sql == [ddl]
        _recreate_table(conn, "T", '"', ddl)
        assert conn.sql == [ddl, 'DROP TABLE "T"', ddl]
        _execute(conn, ['CREATE VIEW "V" AS SELECT * FROM "T"'])
        with pytest.raises(Exception, match="DROP TABLE"):
            _recreate_table(conn, "T", '"', ddl)
    finally:
        conn.close()
    assert _tables(spark, url) == ["T", "V"]


def test_sync_table_lookup_escapes_name_pattern(spark):
    """The existence lookup escapes the `_` wildcard: with a table AXB
    present, syncing A_B neither drops nor trips over AXB. A_B is
    created, then dropped and created again by a second sync, and AXB
    keeps its row."""
    from cpt_database_sync_spark.sources.sync import jdbc_reader, jdbc_sync_table

    url = _fresh_derby(spark, "wildcard_")
    _execute_jdbc(spark, url, [
        'CREATE TABLE "AXB" ("K" INT)', 'INSERT INTO "AXB" VALUES (7)'
    ])
    df = spark.createDataFrame([(1,), (2,)], "k INT")
    for _ in range(2):
        jdbc_sync_table(spark, df, url, "a_b", flavor="ansi")
    assert _tables(spark, url) == ["AXB", "A_B"]
    assert [tuple(r) for r in jdbc_reader(spark, url, "AXB").collect()] == [(7,)]
    assert sorted(tuple(r) for r in jdbc_reader(spark, url, "A_B").collect()) == [
        (1,), (2,)
    ]


def test_jdbc_cdc_batch_replaces_leftover_staging_table(spark):
    """A staging table left behind by a failed batch (here with another
    schema and a stale row) is dropped and recreated by the next batch,
    and the replica ends exact."""
    from cpt_database_sync_spark.sources.sync import jdbc_cdc_batch, jdbc_sync_table

    url = _fresh_derby(spark, "leftover_")
    seed = spark.createDataFrame([(1, 1.0), (2, 2.0)], "k INT, v DOUBLE")
    jdbc_sync_table(spark, seed, url, "replica", flavor="ansi")
    _execute_jdbc(spark, url, [
        'CREATE TABLE "REPLICA_STAGE" ("X" VARCHAR(5))',
        "INSERT INTO \"REPLICA_STAGE\" VALUES ('stale')",
    ])
    batch = spark.createDataFrame(
        [(1, 5.0, "U"), (2, 0.0, "D"), (3, 3.0, "U")], "k INT, v DOUBLE, op STRING"
    )
    jdbc_cdc_batch(spark, batch, url, "replica", ["k"], varchar_lengths={"op": 1})
    assert _replica(spark, url) == [(1, 5.0), (3, 3.0)]
    assert _tables(spark, url) == ["REPLICA"]


def test_sync_and_cdc_batch_open_one_driver_connection(spark, monkeypatch):
    """jdbc_sync_table and jdbc_cdc_batch each run all their driver-side
    SQL, fold probe and NULL-string shadow included, on one driver
    connection. The executors' appends open their own connections, which
    this does not count."""
    from cpt_database_sync_spark.sources import sync

    url = _fresh_derby(spark, "oneconn_")
    opened = []
    connect = sync._connect

    def counting_connect(spark_, url_):
        opened.append(url_)
        return connect(spark_, url_)

    monkeypatch.setattr(sync, "_connect", counting_connect)
    lengths = {"event_type": 40}
    cols = "event_id BIGINT, event_type STRING"
    seed = spark.createDataFrame([(1, "a"), (2, None)], cols)
    sync.jdbc_sync_table(
        spark, seed, url, "replica", varchar_lengths=lengths, flavor="ansi"
    )
    assert len(opened) == 1
    batch = spark.createDataFrame(
        [(1, None, "U"), (2, "b", "D"), (3, "c", "U")], cols + ", op STRING"
    )
    sync.jdbc_cdc_batch(
        spark, batch, url, "replica", ["event_id"],
        varchar_lengths={**lengths, "op": 1},
    )
    assert len(opened) == 2
    assert _replica(spark, url) == [(1, None), (3, "c")]


def test_derby_shutdown_warns_only_on_real_failures():
    """Derby answers a shutdown with an SQLException. 08006 (database
    shut down), XJ004 (not booted or missing) and XJ015 (engine shut
    down) mean success and stay silent; any other SQLState, or an error
    with none, is reported as a warning naming it."""
    import types
    import warnings

    import pytest
    from py4j.protocol import Py4JJavaError

    from cpt_database_sync_spark.sources.sync import derby_shutdown

    class FakeSQLError(Py4JJavaError):
        def __init__(self, state):
            self.java_exception = types.SimpleNamespace(getSQLState=lambda: state)

        def __str__(self):
            return "java.sql.SQLException: fake"

    def fake_spark(error):
        def get_connection(url):
            raise error

        manager = types.SimpleNamespace(getConnection=get_connection)
        return types.SimpleNamespace(_jvm=types.SimpleNamespace(
            java=types.SimpleNamespace(sql=types.SimpleNamespace(DriverManager=manager))
        ))

    for state in ("08006", "XJ004", "XJ015"):
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            derby_shutdown(fake_spark(FakeSQLError(state)), "/no/db")
    with pytest.warns(UserWarning, match="SQLState XSDB6"):
        derby_shutdown(fake_spark(FakeSQLError("XSDB6")), "/no/db")
    with pytest.warns(UserWarning, match="SQLState None"):
        derby_shutdown(fake_spark(RuntimeError("gateway closed")), "/no/db")

"""Real JDBC round-trip against embedded Derby (the only JDBC database in
the container — its driver ships inside Spark's jars).

This exercises the reference's actual end-to-end pipeline — introspect →
create → batched load → scan back (`handler/Handler.java:42-55`) — through
Spark's JDBC source/sink, including the parallel partitioned read that
replaces the reference's single-thread scan."""

from __future__ import annotations

import shutil

import pytest

from cpt_database_sync_spark.sources.sync import (
    jdbc_reader,
    jdbc_sync_table,
    jdbc_writer,
    scratch_dir,
)
from cpt_database_sync_spark.sources.tables import load

DERBY_PROPS = {"driver": "org.apache.derby.iapi.jdbc.AutoloadedDriver"}


@pytest.fixture(scope="module")
def derby_url():
    db_dir = f"{scratch_dir()}/derby_test_db"
    shutil.rmtree(db_dir, ignore_errors=True)
    return f"jdbc:derby:{db_dir};create=true"


def test_full_copy_round_trip(spark, sf_dir, derby_url):
    src = load(spark, sf_dir, "customer")
    jdbc_writer(src, derby_url, "customer_copy", props=DERBY_PROPS)
    back = jdbc_reader(spark, derby_url, "customer_copy", props=DERBY_PROPS)
    src_rows = sorted(tuple(r) for r in src.collect())
    back_rows = sorted(tuple(r) for r in back.collect())
    assert back_rows == src_rows  # the reference's count check, made exact


def test_overwrite_is_idempotent(spark, sf_dir, derby_url):
    src = load(spark, sf_dir, "nation")
    jdbc_writer(src, derby_url, "nation_copy", props=DERBY_PROPS)
    jdbc_writer(src, derby_url, "nation_copy", props=DERBY_PROPS)  # drop+recreate
    back = jdbc_reader(spark, derby_url, "nation_copy", props=DERBY_PROPS)
    assert back.count() == src.count()


def test_sync_table_reference_ddl(spark, sf_dir, derby_url):
    """drop→create→insert with DDL from the reference type matrix
    (`sync/M2H2SchemaConverter.java:48-118,169-225`), ansi flavor since the
    target is Derby. Asserts the *created column types* via JDBC metadata —
    the part Spark's default overwrite DDL would get wrong."""
    import datetime

    df = spark.createDataFrame(
        [
            (1, True, 2.5, "abc", "long text value", bytearray(b"\x01\x02"),
             datetime.date(2024, 1, 2), datetime.datetime(2024, 1, 2, 3, 4, 5)),
        ],
        "id bigint, flag boolean, x float, name string, body string, "
        "payload binary, d date, ts timestamp",
    )
    jdbc_sync_table(
        spark, df, derby_url, "typed_sync",
        varchar_lengths={"name": 40},  # body has no length → clob tier
        flavor="ansi",
    )
    # Derby stores upper-case identifiers, so the auto-probed fold must
    # have created TYPED_SYNC/ID/... (`sync/M2H2SchemaConverter.java:56-60`)
    jvm = spark._sc._jvm
    conn = jvm.java.sql.DriverManager.getConnection(derby_url)
    try:
        assert conn.getMetaData().storesUpperCaseIdentifiers()
        rs = conn.getMetaData().getColumns(None, None, "TYPED_SYNC", None)
        types = {}
        while rs.next():
            types[rs.getString("COLUMN_NAME")] = (
                rs.getString("TYPE_NAME"), rs.getInt("COLUMN_SIZE")
            )
    finally:
        conn.close()
    assert types["ID"][0] == "BIGINT"
    assert types["FLAG"][0] == "BOOLEAN"
    assert types["X"][0] == "REAL"          # FloatType → real (not double)
    assert types["NAME"] == ("VARCHAR", 40)  # metadata length drives the tier
    assert types["BODY"][0] == "CLOB"        # unbounded tier
    assert types["PAYLOAD"][0] == "BLOB"
    assert types["D"][0] == "DATE"
    assert types["TS"][0] == "TIMESTAMP"
    # the fold is the point: the table is reachable to ordinary UNQUOTED
    # SQL on the target, and the data landed through the batched append
    back = jdbc_reader(spark, derby_url, "typed_sync", props=DERBY_PROPS)
    row = back.collect()[0]
    assert row["ID"] == 1 and row["NAME"] == "abc" and row["BODY"] == "long text value"
    # idempotent: re-sync drops and recreates
    jdbc_sync_table(
        spark, df, derby_url, "typed_sync",
        varchar_lengths={"name": 40}, flavor="ansi",
    )
    assert jdbc_reader(spark, derby_url, "typed_sync", props=DERBY_PROPS).count() == 1


def test_partitioned_parallel_read(spark, sf_dir, derby_url):
    src = load(spark, sf_dir, "customer")
    jdbc_writer(src, derby_url, "customer_part", props=DERBY_PROPS)
    hi = src.count()
    back = jdbc_reader(
        spark,
        derby_url,
        "customer_part",
        props=DERBY_PROPS,
        partition_column="c_custkey",
        lower_bound=1,
        upper_bound=hi + 1,
        num_partitions=4,
    )
    # 4 concurrent range scans replacing the reference's single cursor
    assert back.rdd.getNumPartitions() == 4
    assert back.count() == hi


def _type_name(spark, url: str, table: str, column: str) -> str | None:
    """Declared type of ``table.column`` on the target, from JDBC metadata."""
    conn = spark._sc._jvm.java.sql.DriverManager.getConnection(url)  # noqa: SLF001
    try:
        rs = conn.getMetaData().getColumns(None, None, table, column)
        return rs.getString("TYPE_NAME") if rs.next() else None
    finally:
        conn.close()


def test_null_strings_into_varchar_columns(spark, derby_url):
    """NULL strings must survive the sync into varchar-declared columns.

    Spark's Derby dialect binds every NULL string as setNull(Types.CLOB),
    which Derby rejects against a VARCHAR column (ERROR 22005) — the
    stock writer cannot land a null payload cell at all. jdbc_sync_table
    detours such batches through a CLOB shadow table plus one
    server-side INSERT ... SELECT CAST; this pins the whole contract:
    mixed null/non-null, an all-NULL column, and value fidelity."""
    df = spark.createDataFrame(
        [
            (1, "alpha", None),
            (2, None, None),
            (3, "gamma", None),
        ],
        "id int, name string, note string",
    )
    jdbc_sync_table(
        spark, df, derby_url, "null_vc",
        varchar_lengths={"name": 40, "note": 60}, flavor="ansi",
    )
    back = jdbc_reader(spark, derby_url, "null_vc", props=DERBY_PROPS)
    rows = {r["ID"]: (r["NAME"], r["NOTE"]) for r in back.collect()}
    assert rows == {1: ("alpha", None), 2: (None, None), 3: ("gamma", None)}
    # the declared type survived the detour (VARCHAR, not CLOB)
    assert _type_name(spark, derby_url, "NULL_VC", "NAME") == "VARCHAR"

    # a null-free batch must keep the direct fast path (no shadow left)
    df2 = spark.createDataFrame([(9, "z", "ok")], "id int, name string, note string")
    jdbc_sync_table(
        spark, df2, derby_url, "null_vc_direct",
        varchar_lengths={"name": 40, "note": 60}, flavor="ansi",
    )
    back2 = jdbc_reader(spark, derby_url, "null_vc_direct", props=DERBY_PROPS)
    assert back2.count() == 1

    # column names are quoted, not spliced, into the NULL predicate
    odd = spark.createDataFrame([(1, None), (2, "b")], "id int, `a ``b` string")
    jdbc_sync_table(
        spark, odd, derby_url, "null_vc_odd",
        varchar_lengths={"a `b": 10}, flavor="ansi",
    )
    back3 = jdbc_reader(spark, derby_url, "null_vc_odd", props=DERBY_PROPS)
    assert sorted(tuple(r) for r in back3.collect()) == [(1, None), (2, "b")]
    assert _type_name(spark, derby_url, "NULL_VC_ODD", "A `B") == "VARCHAR"

    # empty batches, with and without partitions, create the table and
    # return: the write's NULL count reads 0, so no shadow is made
    empties = {
        "null_vc_no_rows": df.limit(0),
        "null_vc_no_parts": spark.createDataFrame(
            spark.sparkContext.emptyRDD(), "id int, name string, note string"
        ),
    }
    assert empties["null_vc_no_parts"].rdd.getNumPartitions() == 0
    for table, empty in empties.items():
        jdbc_sync_table(
            spark, empty, derby_url, table,
            varchar_lengths={"name": 40, "note": 60}, flavor="ansi",
        )
        assert jdbc_reader(spark, derby_url, table, props=DERBY_PROPS).count() == 0
        assert _type_name(spark, derby_url, table.upper(), "NAME") == "VARCHAR"
        assert _type_name(spark, derby_url, f"{table.upper()}_VCLOAD", "NAME") is None


def test_timestamp_ntz_round_trip(spark, derby_url):
    """Zone-less timestamps (TIMESTAMP_NTZ, as parquet-sourced tables and
    zone-less change feeds arrive) sync into a TIMESTAMP column and read
    back as the same wall-clock values, NULL included."""
    import datetime

    df = spark.createDataFrame(
        [(1, datetime.datetime(2024, 1, 2, 3, 4, 5)), (2, None)],
        "id int, ts timestamp_ntz",
    )
    jdbc_sync_table(spark, df, derby_url, "ntz_sync", flavor="ansi")
    back = jdbc_reader(spark, derby_url, "ntz_sync", props=DERBY_PROPS)
    rows = {
        r["ID"]: r["TS"]
        for r in back.selectExpr("ID", "CAST(TS AS TIMESTAMP_NTZ) AS TS").collect()
    }
    assert rows == {1: datetime.datetime(2024, 1, 2, 3, 4, 5), 2: None}


def _jobs_in(spark, group: str, fn) -> int:
    """Number of Spark jobs ``fn()`` launches, counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "job count")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_sync_null_free_batch_runs_one_job(spark, sf_dir, derby_url):
    """A null-free batch costs one Spark job: the write, which counts the
    NULL-string rows as it goes; no probe job runs before it.
    NATION is one parquet file: a single partition, 25 NULL-free rows."""
    df = load(spark, sf_dir, "nation")
    assert df.rdd.getNumPartitions() == 1
    n = _jobs_in(spark, "sync-null-free", lambda: jdbc_sync_table(
        spark, df, derby_url, "probe_jobs",
        varchar_lengths={"n_name": 25}, flavor="ansi",
    ))
    assert n == 1, f"jdbc_sync_table ran {n} jobs; want the write alone"
    back = jdbc_reader(spark, derby_url, "probe_jobs")
    assert sorted(tuple(r) for r in back.collect()) == sorted(
        tuple(r) for r in df.collect()
    )


def test_sync_finds_null_in_last_partition(spark, derby_url):
    """The write counts a NULL that sits only in the last of 4 partitions:
    a second job sends that row through the shadow detour, every value
    lands intact, the column stays VARCHAR and the shadow is dropped."""
    from pyspark.sql import functions as F

    df = spark.range(0, 400, numPartitions=4).select(
        "id", F.when(F.col("id") != 399, F.col("id").cast("string")).alias("name")
    )
    n = _jobs_in(spark, "sync-null-last", lambda: jdbc_sync_table(
        spark, df, derby_url, "null_last",
        varchar_lengths={"name": 20}, flavor="ansi",
    ))
    assert n == 2, f"jdbc_sync_table ran {n} jobs; want the write and the shadow load"
    rows = jdbc_reader(spark, derby_url, "null_last").collect()
    assert len(rows) == 400  # each row lands through exactly one load
    back = {r["ID"]: r["NAME"] for r in rows}
    assert back == {i: (None if i == 399 else str(i)) for i in range(400)}
    assert _type_name(spark, derby_url, "NULL_LAST", "NAME") == "VARCHAR"
    assert _type_name(spark, derby_url, "NULL_LAST_VCLOAD", "NAME") is None

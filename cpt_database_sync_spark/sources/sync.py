"""Table sync — the reference's reason to exist, Spark-natively.

Reference pipeline per table (`handler/Handler.java:42-55`): introspect →
DROP TABLE → CREATE TABLE → single-threaded fetch thread + single insert
thread joined by a bounded queue (`sync/M2H2DataMigrator.java:22-36`), with
two latent races (consumer exits on momentarily-empty queue
`sync/H2Runner.java:33`; error flag never set `utils/Utils.java:33`).

Spark replaces all of it with a synchronous, partition-parallel job:
``read → write.mode("overwrite")``. Failures propagate; there is no racy
hand-rolled pipeline to get wrong. Every reference tuning constant maps to
an option (fetchsize/batchsize/numPartitions — see ``jdbc_reader`` /
``jdbc_writer``), except parallelism, which goes from 1 thread to
#partitions × #executors.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cpt_database_sync_spark.plans.registry import register
from cpt_database_sync_spark.session import _PACKAGE_PARENT, local_frame
from cpt_database_sync_spark.sources.tables import load

_scratch_reaped = False


def scratch_dir() -> str:
    """Engine scratch space: ``$SPARK_GRAFT_SCRATCH``, else ``.scratch``
    beside the package (gitignored), wherever the process started.

    Namespaced PER PROCESS (``p<pid>/``): the scratch holds mkdtemp'd
    sink targets, embedded Derby databases, and fixed-name format
    fixtures — a shared root let one process's ``sweep_scratch`` /
    ``derby_shutdown`` destroy another live process's working state
    (observed as a one-off parity failure while pytest ran
    concurrently). Dead processes' namespaces are reaped once at this
    process's first call; a dead owner means no live file handles or
    Derby page caches, so plain rmtree is safe there.

    Liveness is judged by ``os.kill(pid, 0)``, which is only meaningful
    for pids of THIS host + PID namespace — a scratch root shared
    across hosts/containers (NFS volume) would let a dead local pid
    alias a live remote one (ADVICE r9). Each namespace therefore
    records its owner's host identity (hostname + kernel boot id) in a
    ``HOST`` marker; reaping skips namespaces whose marker differs from
    ours, so cross-host collisions degrade to unreaped litter, never to
    deleting a live process's state. Marker-less namespaces (pre-marker
    rounds) reap under the old pid-only rule.
    """
    global _scratch_reaped
    root = os.environ.get(
        "SPARK_GRAFT_SCRATCH", os.path.join(_PACKAGE_PARENT, ".scratch")
    )
    d = os.path.join(root, f"p{os.getpid()}")
    os.makedirs(d, exist_ok=True)
    ident = _host_identity()
    marker = os.path.join(d, "HOST")
    if not os.path.exists(marker):
        with open(marker, "w") as f:
            f.write(ident)
    if not _scratch_reaped:
        _scratch_reaped = True
        for name in os.listdir(root):
            if not name.startswith("p") or name == f"p{os.getpid()}":
                continue
            try:
                pid = int(name[1:])
            except ValueError:
                continue
            other_marker = os.path.join(root, name, "HOST")
            try:
                with open(other_marker) as f:
                    if f.read() != ident:
                        continue  # foreign host: its pids aren't ours to probe
            except OSError:
                pass  # pre-marker namespace: fall through to the pid rule
            try:
                os.kill(pid, 0)  # alive (or not ours): leave it be
            except ProcessLookupError:
                shutil.rmtree(os.path.join(root, name), ignore_errors=True)
            except PermissionError:
                pass
    return d


def _host_identity() -> str:
    """hostname + kernel boot id: stable for the life of this boot,
    different across hosts/containers and across reboots (a reboot
    recycles pids, so a stale same-host namespace from before reboot
    correctly fails the marker match and survives until its round's
    sweep — conservative by design)."""
    import platform  # noqa: PLC0415

    boot = ""
    try:
        with open("/proc/sys/kernel/random/boot_id") as f:
            boot = f.read().strip()
    except OSError:
        pass
    return f"{platform.node()}|{boot}"


# SQLStates Derby answers a shutdown request with when nothing went
# wrong: the database shut down, it was not booted (or is missing), or
# the whole engine shut down.
_DERBY_SHUTDOWN_OK = frozenset({"08006", "XJ004", "XJ015"})


def derby_shutdown(spark: SparkSession, db_path: str) -> None:
    """Shut down one embedded Derby database so its handles and page
    cache are released before the directory is removed. Derby signals a
    successful shutdown WITH an SQLException, so the SQLStates in
    ``_DERBY_SHUTDOWN_OK`` count as success; any other failure is
    reported as a warning naming its SQLState."""
    import warnings  # noqa: PLC0415

    from py4j.protocol import Py4JError  # noqa: PLC0415

    try:
        spark._jvm.java.sql.DriverManager.getConnection(
            f"jdbc:derby:{db_path};shutdown=true"
        )
    except Exception as exc:  # noqa: BLE001 - a cleanup step: report, never raise
        try:
            state = exc.java_exception.getSQLState()
        except (AttributeError, Py4JError):  # no Java exception, or not an SQLException
            state = None
        if state not in _DERBY_SHUTDOWN_OK:
            warnings.warn(
                f"Derby shutdown of {db_path} failed (SQLState {state}): "
                f"{str(exc)[:300]}",
                stacklevel=2,
            )


def sweep_scratch(prefix: str, spark: SparkSession | None = None) -> str:
    """Remove scratch directories left by previous runs of the same
    query, then return a fresh ``prefix``-named one for this run. The
    returned lazy plan still reads this run's directory, so it survives
    until the NEXT run's sweep. Bounds `.scratch/` growth to one live dir
    per query instead of one per invocation. Embedded Derby databases are
    shut down before deletion."""
    root = scratch_dir()
    for name in os.listdir(root):
        if not name.startswith(prefix):
            continue
        path = os.path.join(root, name)
        db = os.path.join(path, "db")
        if spark is not None and os.path.isdir(db):
            derby_shutdown(spark, db)
        shutil.rmtree(path, ignore_errors=True)
    return tempfile.mkdtemp(prefix=prefix, dir=root)


# The reference's constants (BASELINE.md) as defaults; at scale, raise
# numPartitions to #cores and pick a numeric/temporal partitionColumn.
DEFAULT_FETCH_SIZE = 1000
DEFAULT_BATCH_SIZE = 1000


def jdbc_reader(
    spark: SparkSession,
    url: str,
    table: str,
    props: dict | None = None,
    partition_column: str | None = None,
    lower_bound=None,
    upper_bound=None,
    num_partitions: int | None = None,
):
    """Parallel JDBC scan. The reference scans one table on one connection
    (`sync/M2H2DataMigrator.java:24-28`); partitionColumn/numPartitions
    turns that into N concurrent range scans with no code change."""
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("fetchsize", DEFAULT_FETCH_SIZE)
    )
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", lower_bound)
            .option("upperBound", upper_bound)
            .option("numPartitions", num_partitions or 8)
        )
    if props:
        reader = reader.options(**props)
    return reader.load()


def jdbc_writer(df: DataFrame, url: str, table: str, props: dict | None = None,
                mode: str = "overwrite", column_types: str | None = None):
    """Batched JDBC load: the reference's 1000-row addBatch/executeBatch
    loop (`sync/JdbcPageSink.java:97-104`) is Spark's `batchsize` option;
    `overwrite` reproduces drop→create→insert
    (`sync/M2H2SchemaConverter.java:48-118`).

    ``column_types`` feeds ``createTableColumnTypes`` for per-column DDL
    overrides in *Spark SQL* syntax (e.g. ``"name VARCHAR(40)"``) — only
    Spark-parsable types are accepted there, so full reference-flavor DDL
    (tinytext/mediumblob/datetime tiers) goes through ``jdbc_sync_table``
    instead."""
    writer = (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", DEFAULT_BATCH_SIZE)
        .mode(mode)
    )
    if column_types:
        writer = writer.option("createTableColumnTypes", column_types)
    if props:
        writer = writer.options(**props)
    return writer.save()


def _connect(spark: SparkSession, url: str):
    """One driver-side JDBC connection (py4j → java.sql.DriverManager; the
    driver class is auto-loaded from Spark's classpath, as Spark's own
    JDBC source does)."""
    return spark._sc._jvm.java.sql.DriverManager.getConnection(url)  # noqa: SLF001


def _execute(conn, statements: list[str]) -> None:
    """Run SQL statements, in order, on an open connection."""
    stmt = conn.createStatement()
    try:
        for sql in statements:
            stmt.execute(sql)
    finally:
        stmt.close()


def _table_exists(conn, table: str) -> bool:
    """Whether the connection's current schema holds ``table`` (a name as
    stored, unquoted). The metadata lookup escapes ``_`` and ``%`` with
    the driver's search-string escape; a driver without one (Derby
    reports "") lists wildcard matches too, so only a row naming the
    schema and table exactly counts."""
    from cpt_database_sync_spark.sources.identifiers import escape_name_pattern

    md = conn.getMetaData()
    esc = md.getSearchStringEscape()
    schema = conn.getSchema()
    rs = md.getTables(
        conn.getCatalog(),
        escape_name_pattern(schema, esc),
        escape_name_pattern(table, esc),
        None,
    )
    try:
        while rs.next():
            if rs.getString("TABLE_NAME") == table and schema in (
                None, rs.getString("TABLE_SCHEM")
            ):
                return True
        return False
    finally:
        rs.close()


def _recreate_table(conn, table: str, quote: str, ddl: str) -> None:
    """DROP ``table`` if the target lists it, then CREATE it from ``ddl``.
    An absent table is ignored, as the reference ignores it, but no DROP
    is sent for it: a failed statement costs a Java exception through
    py4j, and a CDC batch's staging table is absent on every batch. A
    DROP that fails on a listed table (e.g. a lock timeout) raises."""
    from cpt_database_sync_spark.sources.identifiers import quote_identifier

    qtable = quote_identifier(table, quote)
    drop = [f"DROP TABLE {qtable}"] if _table_exists(conn, table) else []
    _execute(conn, [*drop, ddl])


def _stores_upper(conn) -> bool:
    """The target's identifier folding, read from the connection's
    DatabaseMetaData (`sync/M2H2SchemaConverter.java:56`)."""
    return bool(conn.getMetaData().storesUpperCaseIdentifiers())


def jdbc_sync_table(
    spark: SparkSession,
    df: DataFrame,
    url: str,
    table: str,
    props: dict | None = None,
    varchar_lengths: dict[str, int] | None = None,
    flavor: str = "mysql",
    quote: str | None = None,
    fold: bool | None = None,
) -> None:
    """The reference's full table sync with *its* DDL: DROP TABLE when the
    target lists it (an absent table is ignored without a DROP) → CREATE
    TABLE from the reference type matrix → batched insert
    (`handler/Handler.java:42-55` + `sync/M2H2SchemaConverter.java:48-118`).
    A DROP that fails on a listed table raises.

    Spark's ``mode("overwrite")`` would instead derive DDL from the JDBC
    dialect's defaults, and ``createTableColumnTypes`` only accepts Spark-
    parsable types (tinytext/mediumblob/datetime are rejected by the
    parser) — so the MySQL-flavor tiers from ``ddl_for`` are issued as an
    explicit CREATE, then the data lands via mode("append").

    ``fold=None`` probes the target: when it stores upper-case identifiers
    (H2/Derby-class), table and column names are upper-folded before
    quoting (`sync/M2H2SchemaConverter.java:56-60,83-87`) so the created
    objects stay reachable to ordinary unquoted SQL on that target.

    A NULL in a VARCHAR-declared string column cannot be bound as Spark's
    Derby dialect binds it (as a CLOB), so the load is split on one
    predicate. The append of the rows without such a NULL is the one
    Spark job of a null-free table; it counts the other rows as it goes
    (``DataFrame.observe``). Only when that count is non-zero does a
    second job append those rows to a CLOB shadow table, from which one
    server-side ``INSERT … SELECT CAST`` moves them into the declared
    table. The declared column type stays VARCHAR.

    The driver side (fold probe, DDL, the NULL-string shadow's
    ``INSERT … SELECT``) runs on one driver connection; the executors'
    appends open their own."""
    conn = _connect(spark, url)
    try:
        _sync_table(conn, df, url, table, props, varchar_lengths, flavor, quote, fold)
    finally:
        conn.close()


def _sync_table(
    conn,
    df: DataFrame,
    url: str,
    table: str,
    props: dict | None,
    varchar_lengths: dict[str, int] | None,
    flavor: str,
    quote: str | None,
    fold: bool | None,
    probe_nulls: bool = False,
) -> list[str]:
    """``jdbc_sync_table`` on the caller's open driver connection. Returns
    the column names as written (folded), so a caller needs no second
    read of the frame's schema."""
    from pyspark.sql import Observation  # noqa: PLC0415
    from pyspark.sql.types import StructField, StructType  # noqa: PLC0415

    from cpt_database_sync_spark.functions.typelattice import create_table_ddl
    from cpt_database_sync_spark.sources.identifiers import (
        fold_case,
        quote_identifier,
    )

    if quote is None:
        # the flavor implies the quote style: stock MySQL rejects
        # double-quoted identifiers (no ANSI_QUOTES), everything else
        # speaks the standard double quote
        quote = "`" if flavor == "mysql" else '"'
    if fold is None:
        fold = _stores_upper(conn)
    table = fold_case(table, fold)
    # One schema read: in classic PySpark each ``.schema`` / ``.columns``
    # is a py4j round trip plus a JSON parse, so the folded schema is
    # built here rather than read back from ``toDF``.
    schema = df.schema
    out = df
    if fold:
        schema = StructType([
            StructField(fold_case(f.name, fold), f.dataType, f.nullable, f.metadata)
            for f in schema.fields
        ])
        out = df.toDF(*schema.names)
        varchar_lengths = {
            fold_case(k, fold): v for k, v in (varchar_lengths or {}).items()
        }
    qtable = quote_identifier(table, quote)
    ddl = create_table_ddl(
        table, schema, varchar_lengths, flavor=flavor, quote=quote
    )
    _recreate_table(conn, table, quote, ddl)
    # NULL-string binding: Spark's Derby dialect types every NULL string
    # as CLOB (setNull(Types.CLOB)), which Derby rejects against the
    # VARCHAR columns the reference DDL declares (ERROR 22005) — one null
    # payload cell aborts the whole sync, and the stock writer offers no
    # override (VarcharType data crashes its setter matrix outright).
    # So no row with a NULL in a varchar-declared string column (``vc``)
    # is ever appended to the declared table. One write appends the rows
    # without such a NULL straight to it, counting the others with
    # ``observe`` on the same pass over the data. Only when
    # that count is non-zero does a second job append the NULL-bearing
    # rows to a shadow table that declares the ``vc`` columns CLOB (both
    # the CLOB null binding and setString are valid there), and one
    # server-side INSERT … SELECT CAST(col AS VARCHAR(n)) moves them into
    # the declared table. The split is one deterministic predicate, so
    # each row lands through exactly one of the two loads, and no load is
    # ever tried and retried: stock JDBC appends are not transactional
    # across partitions, so a caught mid-append failure would leave
    # partially-committed rows behind.
    fields = {f.name: f for f in schema.fields}
    vc = {
        c: n
        for c, n in (varchar_lengths or {}).items()
        if n <= 32672
        and c in fields
        and fields[c].dataType.simpleString() == "string"
        and fields[c].nullable
    }
    if not vc or flavor == "mysql":
        jdbc_writer(out, url, qtable, props=props, mode="append")
        return schema.names
    # One SQL predicate, parsed once on the JVM: composing it from
    # ``F.col(c).isNull()`` terms costs three py4j calls per column,
    # ~4 ms a column (35 ms for 9 columns vs 0.4 ms, 2 vCPUs).
    any_null = F.expr(" OR ".join(f"{quote_identifier(c, '`')} IS NULL" for c in vc))
    if probe_nulls:
        # The probe-then-write staging of ``jdbc_cdc_batch``: a
        # shuffle-free ``isEmpty()`` job decides, then every row takes
        # one path. It is kept only because ``cdc_apply``'s rows_per_s
        # sums Spark's numInputRows, which counts each scan of the
        # micro-batch; it goes once that benchmark counts applied changes.
        if out.select(*vc).filter(any_null).isEmpty():
            jdbc_writer(out, url, qtable, props=props, mode="append")
            return schema.names
        shadow_rows = out
    else:
        obs = Observation()
        jdbc_writer(
            out.observe(obs, F.count_if(any_null).alias("n")).filter(~any_null),
            url, qtable, props=props, mode="append",
        )
        if not obs.get["n"]:
            return schema.names
        shadow_rows = out.filter(any_null)
    shadow = f"{table}_vcload"
    qshadow = quote_identifier(shadow, quote)
    shadow_lengths = {
        c: n for c, n in (varchar_lengths or {}).items() if c not in vc
    }
    shadow_ddl = create_table_ddl(
        shadow, schema, shadow_lengths, flavor=flavor, quote=quote
    )
    sel_cols = ", ".join(
        f"CAST({quote_identifier(c, quote)} AS VARCHAR({vc[c]}))"
        if c in vc
        else quote_identifier(c, quote)
        for c in schema.names
    )
    _recreate_table(conn, shadow, quote, shadow_ddl)
    jdbc_writer(shadow_rows, url, qshadow, props=props, mode="append")
    _execute(conn, [
        f"INSERT INTO {qtable} SELECT {sel_cols} FROM {qshadow}",
        f"DROP TABLE {qshadow}",
    ])
    return schema.names


def upsert_statement(table: str, columns: list[str], quote: str = "`") -> str:
    """MySQL-flavor idempotent upsert — the INSERT shape of
    `sync/JdbcPageSink.java:81-88` extended with ON DUPLICATE KEY UPDATE
    (stock df.write.jdbc cannot upsert; used by foreachBatch writers).
    Identifiers are quoted with embedded-quote doubling
    (`utils/Utils.java:103-106`)."""
    from cpt_database_sync_spark.sources.identifiers import quote_identifier

    q = [quote_identifier(c, quote) for c in columns]
    cols = ", ".join(q)
    binds = ", ".join("?" for _ in columns)
    updates = ", ".join(f"{c} = VALUES({c})" for c in q)
    return (
        f"INSERT INTO {quote_identifier(table, quote)} ({cols}) VALUES ({binds}) "
        f"ON DUPLICATE KEY UPDATE {updates}"
    )


def merge_statement(
    target: str, source: str, columns: list[str], key_columns: list[str], quote: str = '"'
) -> str:
    """Plain keyed upsert: ``merge_cdc_statement`` without an op column."""
    return merge_cdc_statement(target, source, columns, key_columns, quote=quote)


def merge_cdc_statement(
    target: str,
    source: str,
    columns: list[str],
    key_columns: list[str],
    op_column: str | None = None,
    delete_op: str = "D",
    quote: str = '"',
    null_safe: bool = True,
) -> str:
    """ANSI MERGE from a staging table — the portable upsert for targets
    without MySQL's ON DUPLICATE KEY UPDATE (Derby/H2/Oracle-class; Derby
    rejects VALUES-derived MERGE sources, so the batch is staged). Key
    columns are left out of UPDATE SET; source rows must be unique per
    key (ANSI MERGE raises on duplicate matches).

    With ``op_column`` (present only in the staging source) the MERGE
    applies a full CDC batch: ``WHEN MATCHED AND S.op = 'D' THEN DELETE``
    precedes the UPDATE arm, and the INSERT arm skips tombstones, so a
    tombstone for a row the target never had is a no-op. This is the
    delete arm the reference's ON DUPLICATE KEY UPDATE loop cannot
    express (`sync/JdbcPageSink.java:81-104`).

    ``null_safe`` matches NULL keys to each other: plain equality never
    matches NULL, so a NULL-keyed group would INSERT a duplicate every
    micro-batch. Its OR defeats index lookups, so a caller that has
    proven the staged keys NULL-free passes ``null_safe=False``.
    """
    from cpt_database_sync_spark.sources.identifiers import quote_identifier

    qcols = {c: quote_identifier(c, quote) for c in columns}
    on = " AND ".join(
        f"(T.{q} = S.{q} OR (T.{q} IS NULL AND S.{q} IS NULL))" if null_safe
        else f"T.{q} = S.{q}"
        for q in (qcols[k] for k in key_columns)
    )
    data_cols = [c for c in columns if c != op_column]
    non_keys = [c for c in data_cols if c not in key_columns]
    delete = insert_guard = update = ""
    if op_column is not None:
        # delete_op is a VALUE interpolated as a string literal: escape
        # embedded quotes so a caller's marker cannot break or inject
        op = delete_op.replace("'", "''")
        qop = quote_identifier(op_column, quote)
        delete = f"WHEN MATCHED AND S.{qop} = '{op}' THEN DELETE "
        # a NULL op reads as upsert: `<>` alone is NULL for a NULL marker,
        # which would drop the INSERT arm while the UPDATE arm applied it
        insert_guard = f" AND (S.{qop} <> '{op}' OR S.{qop} IS NULL)"
    if non_keys:  # an all-key table (a membership set) has nothing to UPDATE
        sets = ", ".join(f"{qcols[c]} = S.{qcols[c]}" for c in non_keys)
        update = f"WHEN MATCHED THEN UPDATE SET {sets} "
    ins_cols = ", ".join(qcols[c] for c in data_cols)
    ins_vals = ", ".join(f"S.{qcols[c]}" for c in data_cols)
    return (
        f"MERGE INTO {quote_identifier(target, quote)} AS T "
        f"USING {quote_identifier(source, quote)} AS S ON {on} {delete}{update}"
        f"WHEN NOT MATCHED{insert_guard} THEN INSERT ({ins_cols}) VALUES ({ins_vals})"
    )


def ensure_key_index(conn, table: str, key_columns: list[str]) -> None:
    """Give ``table`` an index led by ``key_columns`` unless it has one,
    so a keyed MERGE looks each staged row up instead of scanning the
    table, as MySQL's ON DUPLICATE KEY UPDATE does through the declared
    key (`sync/JdbcPageSink.java:81-104`). ``getIndexInfo`` also lists
    the index behind a PRIMARY KEY or UNIQUE constraint. The index is
    named ``<table>_KEY_IDX``; a target that refuses the CREATE gets a
    warning and stays unindexed (its MERGEs are correct, only slower)."""
    import warnings  # noqa: PLC0415

    from cpt_database_sync_spark.sources.identifiers import quote_identifier

    indexes: dict[str, dict[int, str]] = {}
    rs = conn.getMetaData().getIndexInfo(
        conn.getCatalog(), conn.getSchema(), table, False, True
    )
    try:
        while rs.next():
            name, col = rs.getString("INDEX_NAME"), rs.getString("COLUMN_NAME")
            if name is not None and col is not None:  # not a table-statistics row
                indexes.setdefault(name, {})[rs.getInt("ORDINAL_POSITION")] = col
    finally:
        rs.close()
    for cols in indexes.values():
        if {cols[p] for p in sorted(cols)[: len(key_columns)]} == set(key_columns):
            return
    name = table + ("_KEY_IDX" if table.isupper() else "_key_idx")
    keys = ", ".join(quote_identifier(k) for k in key_columns)
    stmt = conn.createStatement()
    try:
        stmt.execute(
            f"CREATE INDEX {quote_identifier(name)} ON {quote_identifier(table)} ({keys})"
        )
    except Exception as exc:  # noqa: BLE001 - an unindexed MERGE is still correct
        warnings.warn(
            f"could not index {table} on {key_columns}; its MERGEs scan the "
            f"whole table: {str(exc)[:300]}",
            stacklevel=3,
        )
    finally:
        stmt.close()


def jdbc_cdc_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    url: str,
    table: str,
    key_columns: list[str],
    op_column: str | None = "op",
    props: dict | None = None,
    varchar_lengths: dict[str, int] | None = None,
    flavor: str = "ansi",
    fold: bool | None = None,
) -> None:
    """Apply one CDC (micro-)batch — upserts + deletes, or upserts only
    when ``op_column`` is None — to a JDBC target, over one driver
    connection. On it: the fold probe (when ``fold`` is None), the staging
    table's recreate (and the NULL-string shadow's ``INSERT … SELECT``),
    ``ensure_key_index``, a NULL-key probe of the staging table (at most
    one row read, no Spark job), one ``merge_cdc_statement`` and DROP of
    the staging table. The executors' staging append opens its own
    connections. ``fold`` lets per-batch callers probe the target's
    identifier folding once per stream.

    Staging runs two Spark jobs: a shuffle-free NULL-string probe over
    the VARCHAR-declared string columns, then one append of the whole
    batch, straight to the staging table or, when the probe found a
    NULL, through the CLOB shadow. ``jdbc_sync_table`` counts those
    NULLs inside its write instead; staging follows once the
    ``cdc_apply`` benchmark counts applied changes rather than scans.

    Side effect: the first batch indexes the target's key columns unless
    an index, PRIMARY KEY or UNIQUE constraint already leads with them.
    A batch with no NULL key merges on plain ``T.k = S.k``, which that
    index serves; one with a NULL key falls back to the null-safe match,
    so a NULL-keyed row still updates or deletes its one target row."""
    from cpt_database_sync_spark.sources.identifiers import (
        fold_case,
        quote_identifier,
    )

    conn = _connect(spark, url)
    try:
        if fold is None:
            fold = _stores_upper(conn)
        staging = fold_case(f"{table}_stage", fold)
        cols = _sync_table(
            conn, batch_df, url, staging, props, varchar_lengths, flavor, None,
            fold, probe_nulls=True,
        )
        keys = [fold_case(k, fold) for k in key_columns]
        target = fold_case(table, fold)
        op = None if op_column is None else fold_case(op_column, fold)
        any_null = " OR ".join(f"{quote_identifier(k)} IS NULL" for k in keys)
        ensure_key_index(conn, target, keys)
        stmt = conn.createStatement()
        rs = stmt.executeQuery(
            f"SELECT 1 FROM {quote_identifier(staging)} WHERE {any_null} "
            "FETCH FIRST 1 ROWS ONLY"
        )
        null_keys = rs.next()
        rs.close()
        stmt.execute(
            merge_cdc_statement(target, staging, cols, keys, op, null_safe=null_keys)
        )
        stmt.execute(f"DROP TABLE {quote_identifier(staging)}")
        stmt.close()
    finally:
        conn.close()


def jdbc_upsert_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    url: str,
    table: str,
    key_columns: list[str],
    props: dict | None = None,
    varchar_lengths: dict[str, int] | None = None,
    flavor: str = "ansi",
    fold: bool | None = None,
) -> None:
    """Upsert one (micro-)batch into a JDBC target: ``jdbc_cdc_batch``
    without an op column, so with the same side effect (a key index on
    the target) and NULL-key fallback (null-safe match). This is the
    reference's per-row INSERT … ON DUPLICATE KEY UPDATE loop
    (`sync/JdbcPageSink.java:81-104`) at cluster scale: executors stage
    the rows in parallel, the target merges them set-wise through its
    key index."""
    jdbc_cdc_batch(
        spark, batch_df, url, table, key_columns, None,
        props, varchar_lengths, flavor, fold,
    )


def full_copy_parquet(spark: SparkSession, src_df: DataFrame, target_dir: str) -> DataFrame:
    """Snapshot copy: drop-create-load semantics on a parquet target.
    mode("overwrite") is atomic-per-job (write to _temporary, commit on
    success) — strictly stronger than the reference's non-transactional
    drop → create → insert window."""
    src_df.write.mode("overwrite").parquet(target_dir)
    return spark.read.parquet(target_dir)


def sync_database(
    spark: SparkSession, sf_dir: str, target_root: str, max_workers: int = 4
) -> dict[str, int]:
    """Whole-database sync — the reference's boot behavior
    (`handler/Handler.java:27-33`: enumerate every table, force-copy each).

    Tables are independent jobs, so they run on a small driver-side thread
    pool (Spark schedules the concurrent jobs fairly across executors);
    the reference copies strictly sequentially on one connection. Returns
    per-table row counts (its "fetch count" log, `sync/FetchRunner.java:38`).
    """
    from concurrent.futures import ThreadPoolExecutor

    from cpt_database_sync_spark.sources.catalog import list_tables

    def copy_one(table: str) -> tuple[str, int]:
        df = load(spark, sf_dir, table)
        target = f"{target_root}/{table}"
        df.write.mode("overwrite").parquet(target)
        return table, spark.read.parquet(target).count()

    with ThreadPoolExecutor(max_workers=max_workers) as pool:
        return dict(pool.map(copy_one, list_tables(spark, sf_dir)))


from cpt_database_sync_spark.sources.tables import ALL_TABLES as _ALL_FIXTURE_TABLES

# (was a hand-maintained copy of the same list — sync_database copies
# list_tables() == tables.ALL_TABLES, so the oracle must enumerate the
# identical set or a table added in one place silently diverges)

_SYNC_DB_ORACLE = "\nUNION ALL\n".join(
    f"SELECT '{t}' AS table_name, COUNT(*) AS n_rows FROM {t}"
    for t in _ALL_FIXTURE_TABLES
)


@register("sync_database", oracle=_SYNC_DB_ORACLE)
def sync_database_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's boot loop as a query: force-copy every table of the
    'database' to a fresh target, then report per-table row counts read
    back FROM THE TARGET — the copy is what's being verified, exactly the
    reference's fetch-count==pull-count completion check
    (`sync/FetchRunner.java:38` / `sync/H2Runner.java:48`)."""
    counts = sync_database(spark, sf_dir, sweep_scratch("sync_db_"))
    return local_frame(
        spark,
        list(counts.items()),
        "table_name string, n_rows bigint",
    )


@register(
    "full_copy",
    oracle="SELECT * FROM lineitem",
)
def full_copy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end table copy, verified by identity: copy lineitem to a
    fresh target and read it back; the result must equal the source exactly
    (the reference's fetch-count==pull-count check made exact,
    `sync/FetchRunner.java:38` / `sync/H2Runner.java:38`)."""
    target = sweep_scratch("full_copy_") + "/lineitem"
    return full_copy_parquet(spark, load(spark, sf_dir, "lineitem"), target)


@register(
    "cdc_compact",
    oracle="""
    SELECT user_id, event_id, ts, event_type, value
    FROM (
      SELECT user_id, event_id, ts, event_type, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    WHERE rn = 1
    """,
)
def cdc_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC log compaction: keep only the latest row per key (last-writer-
    wins), the read-side collapse of an append-only change stream — what a
    consumer of ``incremental_append``'s increments runs to get current
    state.

    row_number over (key, ts DESC) then rn=1: one shuffle on the key;
    Spark's WindowGroupLimit pushes the rank-1 filter into the window
    operator so each partition keeps a single row per key instead of
    ranking everything. Tie-broken by event_id for determinism. At 100 TB
    the same plan runs per key-range partition; with a sorted layout it
    degenerates to a streaming first-row-per-group scan.
    """
    ev = load(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.select("user_id", "event_id", "ts", "event_type", "value")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def derby_scratch_sync(
    spark: SparkSession,
    sf_dir: str,
    prefix: str,
    fixture: str,
    table: str,
    varchar_lengths: dict[str, int],
) -> tuple[str, DataFrame]:
    """Shared scaffold for the embedded-Derby demo queries: sweep old
    scratch dbs and create a fresh one (``sweep_scratch``),
    sync the fixture table through the reference-DDL path (ansi flavor
    for Derby). Returns (jdbc url, source frame)."""
    url = f"jdbc:derby:{sweep_scratch(prefix, spark)}/db;create=true"
    src = load(spark, sf_dir, fixture)
    jdbc_sync_table(
        spark, src, url, table, varchar_lengths=varchar_lengths, flavor="ansi"
    )
    return url, src


def lowercase_columns(df: DataFrame) -> DataFrame:
    """Fold Derby's uppercase identifiers back to the fixture casing."""
    return df.toDF(*[c.lower() for c in df.columns])


@register("jdbc_roundtrip", oracle="SELECT * FROM customer")
def jdbc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full JDBC sync loop against a real database (embedded Derby): the
    reference's introspect → drop → create (reference DDL) → batched
    insert → scan-back pipeline (`handler/Handler.java:42-55`), verified
    by identity against the source table.

    Exercises the whole lattice write path end-to-end: reference-flavor
    DDL (ansi tier for Derby), identifier case-folding, batched append,
    and the parallel partitioned read back.
    """
    url, src = derby_scratch_sync(
        spark, sf_dir, "jdbc_rt_", "customer", "customer_rt",
        varchar_lengths={
            "c_name": 40, "c_address": 60, "c_phone": 20,
            "c_mktsegment": 20, "c_comment": 200,
        },
    )
    hi = src.agg(F.max("c_custkey")).collect()[0][0]
    if hi is None:
        # empty source: no key range to partition the read-back over
        back = jdbc_reader(spark, url, "customer_rt")
    else:
        back = jdbc_reader(
            spark, url, "customer_rt",
            partition_column="C_CUSTKEY", lower_bound=0,
            upper_bound=int(hi) + 1, num_partitions=8,
        )
    return lowercase_columns(back).select(*src.columns)


_MERGE_ORACLE = """
    WITH target AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      WHERE o_orderkey % 3 <> 0
    ),
    source AS (
      SELECT o_orderkey, 'U' AS o_orderstatus,
             o_totalprice * 1.1 AS o_totalprice
      FROM orders WHERE o_orderkey % 2 = 0
    )
    SELECT * FROM source
    UNION ALL
    SELECT t.* FROM target t
    LEFT JOIN source s ON t.o_orderkey = s.o_orderkey
    WHERE s.o_orderkey IS NULL
"""


def merge_into(target: DataFrame, source: DataFrame, key: str) -> DataFrame:
    """MERGE semantics on immutable storage: source rows win on key match
    (UPDATE), unmatched source rows are inserted, unmatched target rows
    survive. One left-anti shuffle on the key + a union — the same plan a
    Delta/Iceberg MERGE compiles to before file-level pruning. At 100 TB,
    partition the target by a stable key range so the anti join and the
    rewrite touch only affected partitions."""
    return source.unionByName(target.join(source, key, "left_anti"))


@register("merge_upsert", oracle=_MERGE_ORACLE)
def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC merge: a changed-rows batch upserted into a stale replica.

    The reference's only answer to changed data is a full re-copy
    (drop → create → bulk insert, `handler/Handler.java:42-55`); this is
    the incremental alternative its JdbcPageSink insert shape hints at
    (`sync/JdbcPageSink.java:81-88` + ON DUPLICATE KEY UPDATE, see
    upsert_statement). Target = a 2/3 subset replica; source = an update
    batch touching every even key (updates + inserts both exercised).
    """
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    target = o.filter(F.col("o_orderkey") % 3 != 0)
    source = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        F.lit("U").alias("o_orderstatus"),
        (F.col("o_totalprice") * 1.1).alias("o_totalprice"),
    )
    return merge_into(target, source, "o_orderkey")


@register(
    "jdbc_pushdown",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey
    FROM nation WHERE n_regionkey = 1
    """,
)
def jdbc_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate + projection pushdown INTO the JDBC source — the
    capability the reference scaffolded but left dead
    (`sync/QueryBuilder.java:68-73`: a `TupleDomain` parameter that is
    always `all()`, so every WHERE clause it could have generated never
    fires and each sync drags the full table).

    Here the filter and column list reach the remote database: Spark's
    JDBC relation compiles them into the generated SELECT (gated in
    tests/test_plans.py via PushedFilters on the scan), so the database
    returns only matching rows of the requested columns — at 100 TB the
    difference between shipping a table and shipping an answer.
    """
    url, _ = derby_scratch_sync(
        spark, sf_dir, "jdbc_pd_", "nation", "nation_pd",
        varchar_lengths={"n_name": 25, "n_comment": 160},
    )
    back = jdbc_reader(spark, url, "nation_pd")
    return (
        lowercase_columns(back)
        .filter(F.col("n_regionkey") == 1)
        .select("n_nationkey", "n_name", "n_regionkey")
    )


@register(
    "snapshot_diff",
    oracle="""
    WITH src AS (SELECT * FROM events),
    tgt AS (
      SELECT event_id, ts, user_id, event_type,
             CASE WHEN event_id % 97 = 0 THEN value + 1.0 ELSE value END AS value,
             props
      FROM events WHERE event_id % 11 <> 0
    ),
    j AS (
      SELECT COALESCE(s.event_id, t.event_id) AS event_id,
             CASE WHEN t.event_id IS NULL THEN 'missing'
                  WHEN s.value <> t.value THEN 'changed'
                  ELSE 'match' END AS status
      FROM src s LEFT JOIN tgt t ON s.event_id = t.event_id
    )
    SELECT status, CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM j GROUP BY status
    """,
)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot drift detection — the audit the reference never runs
    between its blind full recopies (`handler/Handler.java:42-55` trusts
    fetch-count == pull-count; it cannot see a row that arrived mangled
    or was deleted behind its back): key-join source against replica and
    classify every source row as match / changed (payload differs) /
    missing (absent from the target). The replica here is events with a
    deterministic corruption (every 97th value bumped) and deletion
    (every 11th row dropped) so all three arms are exercised.

    Payload comparison uses a sha2 fingerprint over the canonicalized
    non-key columns, so the join carries (key, 64-hex digest) — at
    100 TB the shuffle is key+hash wide regardless of row width, and the
    same fingerprints feed incremental re-sync of exactly the changed
    keys (the dedup_exact discipline applied to sync auditing).
    """
    ev = load(spark, sf_dir, "events")
    tgt = ev.filter(F.col("event_id") % 11 != 0).withColumn(
        "value",
        F.when(F.col("event_id") % 97 == 0, F.col("value") + 1.0).otherwise(
            F.col("value")
        ),
    )

    def fingerprint(df: DataFrame) -> DataFrame:
        # per-field NULL sentinel: concat_ws SKIPS nulls, so without it a
        # value shifting between adjacent nullable fields (value=5,
        # props=NULL vs value=NULL, props='5') fingerprints identically
        # and mangled rows audit as 'match' (r8 review)
        def canon(c: str):
            return F.coalesce(F.col(c).cast("string"), F.lit("\x00NULL"))

        payload = F.sha2(
            F.concat_ws(
                "\x1f",
                canon("ts"),
                canon("user_id"),
                canon("event_type"),
                canon("value"),
                canon("props"),
            ),
            256,
        )
        return df.select("event_id", payload.alias("fp"))

    s, t = fingerprint(ev).alias("s"), fingerprint(tgt).alias("t")
    j = s.join(t, F.col("s.event_id") == F.col("t.event_id"), "left").select(
        F.when(F.col("t.event_id").isNull(), "missing")
        .when(F.col("s.fp") != F.col("t.fp"), "changed")
        .otherwise("match")
        .alias("status")
    )
    return j.groupBy("status").agg(F.count(F.lit(1)).alias("n_rows"))


# ---------------------------------------------------------------------------
# Post-sync verification: content checksums + referential-integrity audit
# ---------------------------------------------------------------------------

# Canonical serialization per audited table: exact-typed columns as-is,
# money doubles pinned through DECIMAL(18,2) (2-dp generated values;
# double→string is NOT engine-portable, decimal→string is), timestamps
# that carry dates pinned through DATE. Each field NULL-coalesces to a
# sentinel BEFORE concat_ws (concat_ws skips NULLs on both engines, so
# a value shifting between adjacent nullable fields would otherwise
# serialize identically — the snapshot_diff r8 finding).
_CHECKSUM_COLS: dict[str, list[str]] = {
    "region": ["r_regionkey", "r_name"],
    "nation": ["n_nationkey", "n_name", "n_regionkey"],
    "customer": [
        "c_custkey",
        "c_name",
        "c_nationkey",
        "CAST(c_acctbal AS DECIMAL(18,2))",
        "c_mktsegment",
    ],
    "supplier": [
        "s_suppkey",
        "s_name",
        "s_nationkey",
        "CAST(s_acctbal AS DECIMAL(18,2))",
    ],
    "part": [
        "p_partkey",
        "p_name",
        "p_brand",
        "p_type",
        "p_size",
        "CAST(p_retailprice AS DECIMAL(18,2))",
    ],
    "orders": [
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "CAST(o_totalprice AS DECIMAL(18,2))",
        "CAST(o_orderdate AS DATE)",
        "o_orderpriority",
    ],
    "lineitem": [
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        "l_linenumber",
        "CAST(l_quantity AS DECIMAL(18,2))",
        "CAST(l_extendedprice AS DECIMAL(18,2))",
        "CAST(l_discount AS DECIMAL(18,2))",
        "CAST(l_tax AS DECIMAL(18,2))",
        "l_returnflag",
        "l_linestatus",
        "CAST(l_shipdate AS DATE)",
    ],
}


def _checksum_digest_sql(cols: list[str]) -> str:
    """The 12-hex-digit row digest — ONE canonical expression text
    (both engines accept STRING as the varchar alias, concat_ws skips
    NULLs identically, md5 ↔ md5); only the hex→integer step is
    engine-specific (Spark: conv(,16,10); DuckDB: '0x' cast). The NUL
    sentinel and unit separator are spelled chr() — a raw control byte
    inside the SQL text unterminates DuckDB's string literal."""
    canon = ", ".join(
        f"COALESCE(CAST({c} AS STRING), chr(0))" for c in cols
    )
    return f"substr(md5(concat_ws(chr(31), {canon})), 1, 12)"


def _checksum_row_sql(cols: list[str]) -> str:
    return f"CAST(('0x' || {_checksum_digest_sql(cols)}) AS BIGINT)"


def _sync_checksum_sql() -> str:
    # Display lane: the exact DECIMAL(38,0) sum rendered as its digit
    # STRING (scale-0 decimal→string is plain digits on both engines).
    # A raw DECIMAL display column was the r11 driver hash-red class;
    # the string keeps the full 38-digit value (an xor fold would not —
    # duplicated rows cancel under xor, and duplicate detection is the
    # point of a content checksum) while the sum lane stays decimal.
    parts = [
        f"""SELECT '{t}' AS table_name,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(CAST(COALESCE(SUM({_checksum_row_sql(cols)}), 0)
                         AS DECIMAL(38,0)) AS STRING) AS checksum
        FROM {t}"""
        for t, cols in _CHECKSUM_COLS.items()
    ]
    return "\nUNION ALL\n".join(parts)


@register("sync_checksum", oracle=_sync_checksum_sql())
def sync_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-level table checksums — the integrity check the
    reference never had: its only verification is fetch-count ==
    pull-count (`sync/FetchRunner.java:38`), which passes when every
    row arrived mangled. This emits, per audited table, the row count
    AND an order-insensitive content checksum (Σ over rows of the
    first 48 bits of md5(canonical row string), summed in an exact
    DECIMAL(38,0) lane — no overflow at any corpus size, no ordering
    sensitivity, distributable as a map-side-combined SUM; DISPLAYED
    as the digit string of that sum, since a raw DECIMAL display
    column was the r11 driver hash-red class). Running it
    on source and target and diffing two small relations IS the sync
    acceptance test; `snapshot_diff` then localizes which rows moved.

    Exactness: the canonical serialization pins the engine-portable
    lanes — exact integers/strings as-is, money doubles through
    DECIMAL(18,2), date-bearing timestamps through DATE (double→string
    is not portable, decimal/date→string is); every field
    NULL-coalesces to a sentinel before concat_ws (which skips NULLs on
    both engines — the snapshot_diff discipline). The Spark side runs
    the IDENTICAL expression text through expr(), so both engines hash
    the same bytes by construction; md5 ↔ md5 is the `corpus_sample`
    device.

    Physics: one scan per table, everything map-side (hash + partial
    sum); the shuffle carries one partial per partition. At 100 TB this
    is the cheapest full-content audit that exists — strictly one pass,
    no sort, no join, and checkpointable per partition.
    """
    out = None
    for t, cols in _CHECKSUM_COLS.items():
        h = F.conv(F.expr(_checksum_digest_sql(cols)), 16, 10).cast(
            "decimal(38,0)"
        )
        df = load(spark, sf_dir, t).agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.coalesce(F.sum(h), F.lit(0))
            .cast("decimal(38,0)")
            .cast("string")
            .alias("checksum"),
        ).select(F.lit(t).alias("table_name"), "n_rows", "checksum")
        out = df if out is None else out.unionByName(df)
    return out


# FK edges of the fixture star schema: (edge name, child table, child
# key, parent table, parent key). The audit is sync-acceptance: a copy
# that dropped or duplicated parent rows shows up as orphans/childless.
_FK_EDGES = [
    ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation->region", "nation", "n_regionkey", "region", "r_regionkey"),
]


def _fk_audit_sql() -> str:
    parts = [
        f"""SELECT '{name}' AS edge,
               CAST((SELECT COUNT(*) FROM {child}) AS BIGINT) AS n_child,
               CAST((SELECT COUNT(*) FROM {child} WHERE {ck} IS NULL)
                    AS BIGINT) AS n_null_fk,
               CAST((SELECT COUNT(*) FROM {child} c
                     WHERE c.{ck} IS NOT NULL
                       AND NOT EXISTS (SELECT 1 FROM {parent} p
                                       WHERE p.{pk} = c.{ck}))
                    AS BIGINT) AS n_orphans,
               CAST((SELECT COUNT(*) FROM {parent} p
                     WHERE NOT EXISTS (SELECT 1 FROM {child} c
                                       WHERE c.{ck} = p.{pk}))
                    AS BIGINT) AS n_childless
        """
        for name, child, ck, parent, pk in _FK_EDGES
    ]
    return "\nUNION ALL\n".join(parts)


@register("sync_fk_audit", oracle=_fk_audit_sql())
def sync_fk_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit over every FK edge of the schema —
    the OTHER half of sync acceptance (`sync_checksum` proves content;
    this proves the RELATIONSHIPS survived): per edge, child rows, NULL
    foreign keys (legal — not orphans), orphaned children (FK points
    nowhere: the parent was dropped or arrived late), and childless
    parents (fan-out lost: children were filtered or mis-keyed). The
    reference syncs tables one at a time with no cross-table check at
    all (`handler/Handler.java:30-33`); a partial failure there leaves
    exactly the inconsistencies this one query surfaces.

    Exactness: pure counting; orphans = left-anti join ≡ NOT EXISTS,
    childless = anti in the other direction ≡ NOT EXISTS (equi-match,
    so NULL child keys never match — counted in their own lane). All
    BIGINT.

    Physics (r13 rework, guide §2.3 aggregate before you shuffle /
    §3.4 turn the join into an aggregation): per edge, both sides
    project to a TAGGED key stream — child rows as (key, 1, 0), parent
    rows as (key, 0, 1) — whose union feeds ONE hash rollup: the
    partial aggregate collapses each scan's partitions to distinct-key
    counts BEFORE the single |distinct key|-sized exchange, and all
    four statistics fall out of one conditional aggregation over the
    merged (key, n_child_rows, n_parent_rows) groups. No join node at
    all (the old left+anti pair re-scanned each table and, at real
    parent cardinalities, would shuffle the fact), each table is
    scanned exactly once per edge, and no fact-sized row ever crosses
    an exchange. The whole audit is one lazy union — zero driver-side
    actions. At 100 TB this is the standard post-load audit shape;
    bucketed layouts co-locate it.
    """
    # r14 (guide §2.4 — remove repeated work outright): the r13 form
    # scanned each table once PER EDGE ROLE (lineitem 3x, nation 3x,
    # orders 2x — 14 scans, one exchange per edge). Every role of a
    # table differs only in which key column it projects and which tag
    # it carries, so ONE scan per table can emit all of its roles via
    # `inline` over a literal array of (edge, key, c, p) structs, and
    # the whole audit collapses to one (edge, key)-keyed rollup: 7
    # scans, ONE |distinct (edge, key)|-sized exchange, same per-edge
    # groups as before (the edge tag partitions the key space exactly
    # as the per-edge plans did). NULL-key semantics unchanged: a NULL
    # child FK is never an orphan, a NULL parent key is unconditionally
    # childless. Keys cast to BIGINT so int32/int64 key columns share
    # the union (cast preserves value equality and NULL-ness).
    roles: dict[str, list] = {}
    for name, child, ck, parent, pk in _FK_EDGES:
        roles.setdefault(child, []).append((name, ck, 1, 0))
        roles.setdefault(parent, []).append((name, pk, 0, 1))
    u = None
    for tbl, rs in roles.items():
        t = load(spark, sf_dir, tbl)
        arr = F.array(
            *[
                F.struct(
                    F.lit(name).alias("_e"),
                    F.col(kc).cast("long").alias("_k"),
                    F.lit(c).alias("_c"),
                    F.lit(p).alias("_p"),
                )
                for name, kc, c, p in rs
            ]
        )
        part = t.select(F.inline(arr))
        u = part if u is None else u.unionByName(part)
    # Zero-contribution seed per edge: guarantees one group per edge so
    # empty tables still yield their all-zero audit row (degenerate-
    # fixture gate); a (NULL key, 0, 0) seed adds 0 to every statistic.
    seeds = local_frame(
        spark,
        [(name, None, 0, 0) for name, *_ in _FK_EDGES],
        "_e string, _k bigint, _c int, _p int",
    )
    g = (
        u.unionByName(seeds)
        .groupBy("_e", "_k")
        .agg(F.sum("_c").alias("_cn"), F.sum("_p").alias("_pn"))
    )
    stats = g.groupBy("_e").agg(
        F.coalesce(F.sum("_cn"), F.lit(0)).cast("long").alias("n_child"),
        F.coalesce(
            F.sum(F.when(F.col("_k").isNull(), F.col("_cn"))), F.lit(0)
        )
        .cast("long")
        .alias("n_null_fk"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("_k").isNotNull() & (F.col("_pn") == 0),
                    F.col("_cn"),
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("n_orphans"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("_k").isNull() | (F.col("_cn") == 0),
                    F.col("_pn"),
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("n_childless"),
    )
    # Pin the legacy per-edge output order (the r13 union emitted rows
    # in _FK_EDGES order); 7 rows, a free sort.
    order_map = F.create_map(
        *[
            lit
            for i, (name, *_rest) in enumerate(_FK_EDGES)
            for lit in (F.lit(name), F.lit(i))
        ]
    )
    return (
        stats.withColumn("_ord", order_map[F.col("_e")])
        .orderBy("_ord")
        .select(
            F.col("_e").alias("edge"),
            "n_child",
            "n_null_fk",
            "n_orphans",
            "n_childless",
        )
    )


# --- Column-level drift localization ---------------------------------------

# Deterministic target mutation for the drift audit (orders): every
# 97th key dropped (missing), every 89th re-keyed far out of range
# (extra), every 13th price bumped one cent, every 17th priority
# rewritten. Moduli are pairwise coprime so the arms overlap naturally.
_DRIFT_KEY_OFFSET = 1_000_000_000


def _drift_mutation_sql() -> str:
    return f"""
      SELECT CASE WHEN o_orderkey % 89 = 0
                  THEN o_orderkey + {_DRIFT_KEY_OFFSET}
                  ELSE o_orderkey END AS o_orderkey,
             o_custkey, o_orderstatus,
             CASE WHEN o_orderkey % 13 = 0
                  THEN CAST(CAST(o_totalprice AS DECIMAL(18,2))
                            + CAST(0.01 AS DECIMAL(18,2)) AS DOUBLE)
                  ELSE o_totalprice END AS o_totalprice,
             o_orderdate,
             CASE WHEN o_orderkey % 17 = 0 THEN 'X-DRIFTED'
                  ELSE o_orderpriority END AS o_orderpriority
      FROM orders WHERE o_orderkey % 97 <> 0
    """


_DRIFT_COMPARE_COLS = (
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
)

_COLUMN_DRIFT_SQL = f"""
    WITH tgt AS ({_drift_mutation_sql()}),
    j AS (
      SELECT s.o_orderkey AS sk, t.o_orderkey AS tk,
             {", ".join(
                 f"CASE WHEN s.{c} IS DISTINCT FROM t.{c} "
                 f"THEN 1 ELSE 0 END AS d_{c}"
                 for c in _DRIFT_COMPARE_COLS
             )}
      FROM orders s FULL OUTER JOIN tgt t ON s.o_orderkey = t.o_orderkey
    ),
    arms AS (
      SELECT CAST(SUM(CASE WHEN tk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_missing,
             CAST(SUM(CASE WHEN sk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_extra,
             CAST(SUM(CASE WHEN sk IS NOT NULL AND tk IS NOT NULL
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
             {", ".join(
                 f"CAST(SUM(CASE WHEN sk IS NOT NULL AND tk IS NOT NULL "
                 f"THEN d_{c} ELSE 0 END) AS BIGINT) AS n_{c}"
                 for c in _DRIFT_COMPARE_COLS
             )}
      FROM j
    )
    SELECT '(missing_in_target)' AS column_name, n_missing AS n_rows
    FROM arms
    UNION ALL SELECT '(extra_in_target)', n_extra FROM arms
    UNION ALL SELECT '(matched_keys)', n_matched FROM arms
    {" ".join(
        f"UNION ALL SELECT '{c}', n_{c} FROM arms "
        for c in _DRIFT_COMPARE_COLS
    )}
"""


@register("sync_column_drift", oracle=_COLUMN_DRIFT_SQL)
def sync_column_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level drift localization between source and replica —
    the audit AFTER `snapshot_diff` says "something changed": a FULL
    OUTER key join classifying missing-in-target / extra-in-target /
    matched, and for matched keys a per-COLUMN count of cells that
    differ (NULL-safe). `snapshot_diff` fingerprints the whole payload
    (cheap, but says only THAT a row changed); this one says WHERE —
    which column a faulty type mapping or truncating sink is mangling,
    the first question a sync operator asks. The reference's
    count-only verification (`sync/FetchRunner.java:38`) sees none of
    it. The replica is a deterministic mutation of orders (drop %97,
    re-key %89 as extras, bump %13 price one cent through the
    DECIMAL(18,2) lane, rewrite %17 priority) so every arm is
    exercised.

    Exactness: cell compares are IS DISTINCT FROM ↔ a null-safe
    inequality on both engines; the one-cent bump runs through
    DECIMAL(18,2) addition then back to DOUBLE on BOTH sides
    (double + 0.01 directly is not portable; the decimal round-trip
    is the `sync_checksum` money lane); all counts BIGINT. The long
    (column, count) shape comes from ONE aggregate row unioned out —
    no per-column join or scan.

    Physics: one key-partitioned full outer join (both sides shuffle
    on the key once — at deployment the replica audit runs on
    bucketed layouts and co-locates), then a single conditional
    aggregation computing every arm and every column count in one
    pass. Audit cost is one join regardless of column count.
    """
    src = load(spark, sf_dir, "orders")
    tgt = (
        src.filter(F.col("o_orderkey") % 97 != 0)
        .select(
            F.when(
                F.col("o_orderkey") % 89 == 0,
                F.col("o_orderkey") + _DRIFT_KEY_OFFSET,
            )
            .otherwise(F.col("o_orderkey"))
            .alias("o_orderkey"),
            "o_custkey",
            "o_orderstatus",
            F.when(
                F.col("o_orderkey") % 13 == 0,
                (
                    F.col("o_totalprice").cast("decimal(18,2)")
                    + F.lit("0.01").cast("decimal(18,2)")
                ).cast("double"),
            )
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
            "o_orderdate",
            F.when(F.col("o_orderkey") % 17 == 0, F.lit("X-DRIFTED"))
            .otherwise(F.col("o_orderpriority"))
            .alias("o_orderpriority"),
        )
    )
    s = src.alias("s")
    t = tgt.alias("t")
    j = s.join(
        t, F.col("s.o_orderkey") == F.col("t.o_orderkey"), "full_outer"
    ).select(
        F.col("s.o_orderkey").alias("sk"),
        F.col("t.o_orderkey").alias("tk"),
        *[
            (~F.col(f"s.{c}").eqNullSafe(F.col(f"t.{c}")))
            .cast("int")
            .alias(f"d_{c}")
            for c in _DRIFT_COMPARE_COLS
        ],
    )
    both = F.col("sk").isNotNull() & F.col("tk").isNotNull()
    arms = j.agg(
        F.sum(F.when(F.col("tk").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_missing"),
        F.sum(F.when(F.col("sk").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_extra"),
        F.sum(F.when(both, 1).otherwise(0)).cast("long").alias("n_matched"),
        *[
            F.sum(F.when(both, F.col(f"d_{c}")).otherwise(0))
            .cast("long")
            .alias(f"n_{c}")
            for c in _DRIFT_COMPARE_COLS
        ],
    )
    # stack() unpivots the ONE aggregate row in place — a union of
    # per-arm selects would re-plan (and re-join) the audit once per
    # output row (observed: 8 sort-merge joins vs this plan's one)
    rows = [
        ("(missing_in_target)", "n_missing"),
        ("(extra_in_target)", "n_extra"),
        ("(matched_keys)", "n_matched"),
    ] + [(c, f"n_{c}") for c in _DRIFT_COMPARE_COLS]
    stack_args = ", ".join(f"'{label}', {col}" for label, col in rows)
    return arms.select(
        F.expr(
            f"stack({len(rows)}, {stack_args}) AS (column_name, n_rows)"
        )
    )


# --- Partition-level digest localization -------------------------------------

# Year*100+month partition key: year()/month() over DATE are portable;
# date_trunc is not (Spark returns TIMESTAMP, DuckDB returns DATE).
_PDIGEST_YM = (
    "year(CAST(o_orderdate AS DATE)) * 100 + month(CAST(o_orderdate AS DATE))"
)


def _partition_digest_side_sql(rel: str) -> str:
    return f"""
      SELECT {_PDIGEST_YM} AS ym,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COALESCE(SUM({_checksum_row_sql(_CHECKSUM_COLS["orders"])}),
                           0) AS DECIMAL(38,0)) AS checksum
      FROM {rel} GROUP BY 1
    """


_PARTITION_DIGEST_SQL = f"""
    WITH tgt AS ({_drift_mutation_sql()}),
    s AS ({_partition_digest_side_sql("orders")}),
    t AS ({_partition_digest_side_sql("tgt")})
    SELECT COALESCE(s.ym, t.ym) AS ym,
           CAST(COALESCE(s.n_rows, 0) AS BIGINT) AS src_rows,
           CAST(COALESCE(t.n_rows, 0) AS BIGINT) AS tgt_rows,
           CAST(CAST(COALESCE(s.checksum, 0) AS DECIMAL(38,0)) AS STRING)
             AS src_checksum,
           CAST(CAST(COALESCE(t.checksum, 0) AS DECIMAL(38,0)) AS STRING)
             AS tgt_checksum,
           COALESCE(s.n_rows, 0) = COALESCE(t.n_rows, 0) AS rows_match,
           COALESCE(s.checksum, 0) = COALESCE(t.checksum, 0)
             AS content_match
    FROM s FULL OUTER JOIN t ON s.ym = t.ym
"""


@register("sync_partition_digest", oracle=_PARTITION_DIGEST_SQL)
def sync_partition_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-level drift localization — the middle rung of the
    sync-acceptance ladder: `sync_checksum` says THAT a table drifted
    (one row per table), `sync_column_drift` says WHICH COLUMN (after
    a full-outer key join over everything); this says WHICH PARTITION
    (order month) for the cost of two scans and a |partitions|-row
    join, so the expensive row-level diff re-runs only over the months
    that actually moved — the standard incremental-verify loop for a
    100 TB replica where a full-table diff is a last resort. Runs
    against the same deterministically mutated orders replica as
    `sync_column_drift`, so dropped keys, extra keys, cent-bumps and
    priority rewrites each surface in their month's digest.

    Exactness: the per-row digest is `sync_checksum`'s canonical
    serialization verbatim (DECIMAL(18,2) money lane, DATE lane, NULL
    sentinels, first 48 bits of md5 summed in DECIMAL(38,0) — order-
    insensitive and overflow-free — displayed as the digit string of
    that sum, the r11 decimal-display fix); the partition key is
    year*100+month over DATE (portable where date_trunc is not); the
    match verdicts are exact integer/decimal equality.

    Physics: one scan per side, map-side-combined partial sums to
    |months| rows, one tiny full-outer join — at 100 TB the digest
    relation is thousands of rows regardless of corpus size, and the
    scan cost is the same single pass `sync_checksum` already pays.
    """
    src = load(spark, sf_dir, "orders")
    tgt = (
        src.filter(F.col("o_orderkey") % 97 != 0)
        .select(
            F.when(
                F.col("o_orderkey") % 89 == 0,
                F.col("o_orderkey") + _DRIFT_KEY_OFFSET,
            )
            .otherwise(F.col("o_orderkey"))
            .alias("o_orderkey"),
            "o_custkey",
            "o_orderstatus",
            F.when(
                F.col("o_orderkey") % 13 == 0,
                (
                    F.col("o_totalprice").cast("decimal(18,2)")
                    + F.lit("0.01").cast("decimal(18,2)")
                ).cast("double"),
            )
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
            "o_orderdate",
            F.when(F.col("o_orderkey") % 17 == 0, F.lit("X-DRIFTED"))
            .otherwise(F.col("o_orderpriority"))
            .alias("o_orderpriority"),
        )
    )

    def digest(df: DataFrame) -> DataFrame:
        h = F.conv(
            F.expr(_checksum_digest_sql(_CHECKSUM_COLS["orders"])), 16, 10
        ).cast("decimal(38,0)")
        return df.groupBy(F.expr(_PDIGEST_YM).alias("ym")).agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.coalesce(F.sum(h), F.lit(0))
            .cast("decimal(38,0)")
            .alias("checksum"),
        )

    s = digest(src).alias("s")
    t = digest(tgt).alias("t")
    j = s.join(t, F.col("s.ym") == F.col("t.ym"), "full_outer")
    zero = F.lit(0).cast("decimal(38,0)")
    return j.select(
        F.coalesce(F.col("s.ym"), F.col("t.ym")).alias("ym"),
        F.coalesce(F.col("s.n_rows"), F.lit(0)).cast("long").alias("src_rows"),
        F.coalesce(F.col("t.n_rows"), F.lit(0)).cast("long").alias("tgt_rows"),
        # digit-string display of the exact decimal lane (the r11
        # decimal-display fix — see _sync_checksum_sql)
        F.coalesce(F.col("s.checksum"), zero)
        .cast("decimal(38,0)")
        .cast("string")
        .alias("src_checksum"),
        F.coalesce(F.col("t.checksum"), zero)
        .cast("decimal(38,0)")
        .cast("string")
        .alias("tgt_checksum"),
        (
            F.coalesce(F.col("s.n_rows"), F.lit(0))
            == F.coalesce(F.col("t.n_rows"), F.lit(0))
        ).alias("rows_match"),
        (
            F.coalesce(F.col("s.checksum"), zero)
            == F.coalesce(F.col("t.checksum"), zero)
        ).alias("content_match"),
    )

"""The two workloads of the ``sources.sync`` layer: a whole-database
force copy (``db_sync``) and a stream of small CDC merges
(``cdc_apply``)."""

from __future__ import annotations

import datetime
import os
import shutil
import time

import pyarrow.csv as pacsv
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
from harness import median
from workload import Unit, Workload

# Declared VARCHAR lengths of the source database. The sync reads them
# back from JDBC metadata and passes them on, as the reference does.
SOURCE_VARCHARS = {
    "region": {"r_name": 25},
    "nation": {"n_name": 25},
    "customer": {"c_name": 25, "c_mktsegment": 10},
    "supplier": {"s_name": 25},
    "part": {"p_name": 55, "p_brand": 10, "p_type": 25},
    "orders": {"o_orderstatus": 1, "o_orderpriority": 15},
    "lineitem": {"l_returnflag": 1, "l_linestatus": 1},
    "events": {"event_type": 40, "props": 400},
    "documents": {"text": 4000, "lang": 8, "source": 16},
}
# The partition column of each table's parallel read.
TABLE_KEYS = {
    "region": "r_regionkey", "nation": "n_nationkey", "customer": "c_custkey",
    "supplier": "s_suppkey", "part": "p_partkey", "orders": "o_orderkey",
    "lineitem": "l_orderkey", "events": "event_id", "documents": "doc_id",
}
# Tables below this many rows count toward sources.sync.small_table_s.
SMALL_TABLE_ROWS = 25_000
_ARROW_DDL = {
    "int32": "INTEGER", "int64": "BIGINT", "double": "DOUBLE",
    "timestamp[ms]": "TIMESTAMP", "timestamp[us]": "TIMESTAMP",
}


def _connect(spark, url: str):
    return spark._sc._jvm.java.sql.DriverManager.getConnection(url)  # noqa: SLF001


def _execute(spark, url: str, statements: list[str]) -> None:
    conn = _connect(spark, url)
    try:
        stmt = conn.createStatement()
        for sql in statements:
            stmt.execute(sql)
        stmt.close()
    finally:
        conn.close()


def _query(spark, url: str, sql: str) -> list[tuple]:
    conn = _connect(spark, url)
    try:
        rs = conn.createStatement().executeQuery(sql)
        n = rs.getMetaData().getColumnCount()
        rows = []
        while rs.next():
            rows.append(tuple(rs.getObject(i + 1) for i in range(n)))
        return rows
    finally:
        conn.close()


def table_bytes(spark, url: str, tables: list[str]) -> int:
    """Bytes of the pages Derby allocated to ``tables`` and their
    indexes."""
    total = 0
    for t in tables:
        rows = _query(
            spark, url,
            "SELECT SUM((NUMALLOCATEDPAGES + NUMFREEPAGES) * PAGESIZE) FROM "
            f"TABLE(SYSCS_DIAG.SPACE_TABLE('APP', '{t.upper()}')) S",
        )
        total += int(rows[0][0] or 0)
    return total


def table_digest(spark, url: str, table: str) -> tuple[int, int]:
    """Row count and an order-independent checksum of a JDBC table: the
    sum of a 64-bit hash of each row's values rendered as strings."""
    from cpt_database_sync_spark.sources.sync import jdbc_reader

    df = jdbc_reader(spark, url, table)
    cols = sorted(df.columns)
    row_hash = F.xxhash64(*[F.col(c).cast("string") for c in cols])
    n, s = df.select(
        F.count(F.lit(1)), F.sum(row_hash.cast("decimal(38,0)"))
    ).collect()[0]
    return int(n), int(s or 0)


class DbSync(Workload):
    """The paper's boot loop: force-copy every table of a source database
    into a target, one table after another."""

    name = "db_sync"
    min_passes = 3
    unit_kind = "table"
    SF = 0.005

    def __init__(self, ctx) -> None:
        super().__init__(ctx)
        self.units_per_pass = len(SOURCE_VARCHARS)
        self.sizes = gen.Sizes.scaled(self.SF)
        self.dbs: list[str] = []

    def setup(self) -> None:
        spark = self.ctx.spark
        base = self.ctx.workdir
        fixture = os.path.join(base, "fixture")
        self.rows = gen.write_fixture(
            fixture, self.ctx.seed, self.sizes, tables=set(SOURCE_VARCHARS)
        )
        self.src = f"jdbc:derby:{base}/source"
        self.tgt = f"jdbc:derby:{base}/target"
        self.dbs = [f"{base}/source", f"{base}/target"]
        _execute(spark, self.src + ";create=true", [])
        _execute(spark, self.tgt + ";create=true", [])
        for name, lengths in SOURCE_VARCHARS.items():
            table = pq.read_table(os.path.join(fixture, f"{name}.parquet"))
            cols = ", ".join(
                f"{f.name} VARCHAR({lengths[f.name]})"
                if f.name in lengths else f"{f.name} {_ARROW_DDL[str(f.type)]}"
                for f in table.schema
            )
            csv_path = os.path.join(fixture, f"{name}.csv")
            pacsv.write_csv(table, csv_path, pacsv.WriteOptions(include_header=False))
            _execute(spark, self.src, [
                f"CREATE TABLE {name} ({cols})",
                "CALL SYSCS_UTIL.SYSCS_IMPORT_TABLE("
                f"'APP', '{name.upper()}', '{csv_path}', ',', '\"', 'UTF-8', 0)",
            ])
        self.catalog = self._introspect()
        self.run_pass(-1)  # warm-up

    def _introspect(self) -> list[dict]:
        """List the source's tables, their declared VARCHAR lengths and
        key ranges through JDBC metadata. ``sources.catalog``'s
        ``list_tables_jdbc`` reads ``information_schema``, which Derby
        lacks, so the benchmark asks ``DatabaseMetaData`` itself."""
        spark = self.ctx.spark
        conn = _connect(spark, self.src)
        try:
            md = conn.getMetaData()
            gw = spark.sparkContext._gateway  # noqa: SLF001
            kinds = gw.new_array(gw.jvm.java.lang.String, 1)
            kinds[0] = "TABLE"
            rs = md.getTables(None, "APP", "%", kinds)
            names = []
            while rs.next():
                names.append(rs.getString("TABLE_NAME"))
            out = []
            for t in sorted(names):
                lengths = {}
                cs = md.getColumns(None, "APP", t, "%")
                while cs.next():
                    if cs.getString("TYPE_NAME") == "VARCHAR":
                        lengths[cs.getString("COLUMN_NAME")] = cs.getInt("COLUMN_SIZE")
                out.append({"table": t, "lengths": lengths})
        finally:
            conn.close()
        for entry in out:
            key = TABLE_KEYS[entry["table"].lower()].upper()
            lo, hi = _query(spark, self.src, f"SELECT MIN({key}), MAX({key}) FROM {entry['table']}")[0]
            entry.update(key=key, lo=int(lo), hi=int(hi) + 1)
        return out

    def run_pass(self, pass_id: int) -> list[Unit]:
        from cpt_database_sync_spark.sources.sync import jdbc_reader, jdbc_sync_table

        spark, tr, jobs = self.ctx.spark, self.ctx.tracer, self.ctx.jobs
        units = []
        for entry in self.catalog:
            t = entry["table"]
            j0 = jobs.mark()
            t0 = time.perf_counter()
            ok = True
            with tr.span(f"table:{t}", "bench"):
                try:
                    with tr.span("jdbc_reader", "sources.sync"):
                        df = jdbc_reader(
                            spark, self.src, t, partition_column=entry["key"],
                            lower_bound=entry["lo"], upper_bound=entry["hi"],
                            num_partitions=self.ctx.cpus,
                        )
                    with tr.span("jdbc_sync_table", "sources.sync") as sp:
                        j1 = jobs.mark()
                        s0 = time.perf_counter()
                        jdbc_sync_table(
                            spark, df, self.tgt, t,
                            varchar_lengths=entry["lengths"], flavor="ansi",
                        )
                        sync_s = time.perf_counter() - s0
                except Exception as exc:  # noqa: BLE001 - counted, never dropped
                    ok = False
                    sync_s, j1 = 0.0, j0
                    print(f"# {t}: {type(exc).__name__}: {str(exc)[:300]}")
            seconds = time.perf_counter() - t0
            j2 = jobs.mark()
            units.append(Unit(t, seconds, self.rows[t.lower()], ok, {
                "sync_s": sync_s, "jobs": (j0, j2), "sync_jobs": (j1, j2),
                "span": sp.sid if tr.enabled and ok else None,
            }))
        return units

    def check(self) -> list[str]:
        spark = self.ctx.spark
        bad = []
        for entry in self.catalog:
            t = entry["table"]
            want = table_digest(spark, self.src, t)
            try:
                got = table_digest(spark, self.tgt, t)
            except Exception as exc:  # noqa: BLE001 - a missing table fails the check
                got = (type(exc).__name__, str(exc)[:200])
            if got != want:
                bad.append(f"{t}: target (rows, checksum) {got} != source {want}")
        return bad

    def layer_metrics(self, passes: list[list[Unit]]) -> dict[str, float]:
        jobs, tr = self.ctx.jobs, self.ctx.tracer
        sync_s, li_rate, small_s, verify_s, per_table_jobs = [], [], [], [], []
        for units in passes:
            sync_s.append(sum(u.detail["sync_s"] for u in units))
            small_s.append(sum(u.seconds for u in units if u.rows < SMALL_TABLE_ROWS))
            verify = 0.0
            for u in units:
                if u.name == "LINEITEM" and u.detail["sync_s"] > 0:
                    li_rate.append(u.rows / u.detail["sync_s"])
                per_table_jobs.append(jobs.stat(*u.detail["jobs"]).jobs)
                for name, _, j0, j1 in jobs.jobs(*u.detail["sync_jobs"]):
                    # the write is the one "save" job; any other job inside
                    # jdbc_sync_table proves the batch writable first
                    if not name.startswith("save"):
                        verify += j1 - j0
                    if u.detail["span"] is not None:  # a traced pass
                        tr.add(f"job:{name}", "spark", j0, j1, u.detail["span"])
            verify_s.append(verify)
        return {
            "sources.sync.sync_table_s": median(sync_s),
            "sources.sync.lineitem_rows_per_s": median(li_rate),
            "sources.sync.small_table_s": median(small_s),
            "sources.sync.jobs_per_table": sum(per_table_jobs) / max(1, len(per_table_jobs)),
            "sources.sync.verify_s": median(verify_s),
            "sources.sync.stored_bytes_ratio": self.stored_bytes_ratio(),
        }

    def stored_bytes_ratio(self) -> float:
        tables = [e["table"] for e in self.catalog]
        return (table_bytes(self.ctx.spark, self.tgt, tables)
                / table_bytes(self.ctx.spark, self.src, tables))

    def close(self) -> None:
        from cpt_database_sync_spark.sources.sync import derby_shutdown

        for db in self.dbs:
            derby_shutdown(self.ctx.spark, db)
        self.dbs = []


EVENT_VARCHARS = {"event_type": 40, "props": 400}


class CdcApply(Workload):
    """Small CDC merges through the streaming path: change files →
    ``incremental_sync_stream`` → ``jdbc_cdc_batch`` into a Derby
    replica, one file per trigger."""

    name = "cdc_apply"
    min_passes = 4
    unit_kind = "micro-batch"
    REPLICA_ROWS = 10_000
    BATCH = 100
    FILES_PER_PASS = 5
    WARMUP_FILES = 1
    TABLE = "events_replica"

    def __init__(self, ctx) -> None:
        super().__init__(ctx)
        self.units_per_pass = self.FILES_PER_PASS
        self.db = None
        self.mtime = 1_700_000_000.0  # change files get increasing mtimes

    def setup(self) -> None:
        from cpt_database_sync_spark.sources.sync import jdbc_sync_table

        spark = self.ctx.spark
        self.base = self.ctx.workdir
        self.log = gen.ChangeLog(self.ctx.seed, self.REPLICA_ROWS)
        snap = os.path.join(self.base, "snapshot.parquet")
        pq.write_table(self.log.snapshot, snap)
        self.db = f"{self.base}/replica"
        self.url = f"jdbc:derby:{self.db};create=true"
        jdbc_sync_table(
            spark, spark.read.parquet(snap), self.url, self.TABLE,
            varchar_lengths=EVENT_VARCHARS, flavor="ansi",
        )
        self.seed_bytes = table_bytes(spark, self.url, [self.TABLE])
        self._write_files(-1, self.WARMUP_FILES)
        self.run_pass(-1)

    def _write_files(self, pass_id: int, n: int) -> None:
        """Write pass ``pass_id``'s change files; the file source takes
        them oldest first, so their mtimes fix the apply order."""
        d = os.path.join(self.base, f"changes{pass_id}")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        for i in range(n):
            self.mtime += 10.0
            self.log.write_file(os.path.join(d, f"part-{i:04d}.parquet"), self.BATCH, self.mtime)

    def prepare(self, pass_id: int) -> None:
        self._write_files(pass_id, self.FILES_PER_PASS)

    def run_pass(self, pass_id: int) -> list[Unit]:
        from cpt_database_sync_spark.sources.sync import jdbc_cdc_batch
        from cpt_database_sync_spark.streaming.incremental import incremental_sync_stream

        spark, tr, jobs = self.ctx.spark, self.ctx.tracer, self.ctx.jobs
        callbacks: dict[int, dict] = {}

        def write_batch(batch_df, batch_id: int) -> None:
            j0 = jobs.mark()
            t0 = time.perf_counter()
            with tr.span("jdbc_cdc_batch", "sources.sync") as sp:
                jdbc_cdc_batch(
                    spark, batch_df, self.url, self.TABLE, ["event_id"],
                    varchar_lengths={**EVENT_VARCHARS, "op": 1},
                )
            callbacks[batch_id] = {
                "s": time.perf_counter() - t0, "jobs": (j0, jobs.mark()),
                "span": sp.sid if sp is not None else None,
            }

        feed = (
            spark.readStream.schema(gen.CHANGE_SCHEMA_DDL)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(self.base, f"changes{pass_id}"))
        )
        ckpt = os.path.join(self.base, f"ckpt{pass_id}")
        with tr.span("incremental_sync_stream", "streaming.incremental"):
            q = incremental_sync_stream(spark, feed, write_batch, ckpt)
            try:
                q.awaitTermination()
            except Exception as exc:  # noqa: BLE001 - its batches count as failed below
                print(f"# pass {pass_id}: {type(exc).__name__}: {str(exc)[:300]}")
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        units = []
        for p in progress:
            cb = callbacks.get(p["batchId"], {})
            units.append(Unit(
                f"b{len(units):02d}", p["durationMs"]["triggerExecution"] / 1000.0,
                int(p["numInputRows"]), p["batchId"] in callbacks, {**cb},
            ))
        n_files = self.FILES_PER_PASS if pass_id >= 0 else self.WARMUP_FILES
        for i in range(len(units), n_files):
            units.append(Unit(f"b{i:02d}", 0.0, 0, False))
        return units

    def check(self) -> list[str]:
        from cpt_database_sync_spark.sources.sync import jdbc_reader

        back = jdbc_reader(self.ctx.spark, self.url, self.TABLE)
        got = {_event_row(r.asDict()) for r in back.collect()}
        want = {_event_row(r) for r in self.log.state.values()}
        bad = []
        if got != want:
            missing, extra = want - got, got - want
            bad.append(
                f"replica differs from expected state: {len(missing)} rows "
                f"missing or changed, {len(extra)} unexpected "
                f"(e.g. {sorted(extra or missing)[:1]})"
            )
        return bad

    def layer_metrics(self, passes: list[list[Unit]]) -> dict[str, float]:
        jobs, tr = self.ctx.jobs, self.ctx.tracer
        cb_s, cb_jobs, overhead, batches = [], [], [], []
        for units in passes:
            batches.append(sum(1 for u in units if u.ok))
            for u in units:
                if "s" not in u.detail:
                    continue
                cb_s.append(u.detail["s"])
                overhead.append(u.seconds - u.detail["s"])
                jl = jobs.jobs(*u.detail["jobs"])
                cb_jobs.append(len(jl))
                if u.detail["span"] is not None:  # a traced pass
                    for name, _, j0, j1 in jl:
                        tr.add(f"job:{name}", "spark", j0, j1, u.detail["span"])
        return {
            "sources.sync.cdc_batch_s": median(cb_s),
            "sources.sync.cdc_batch_jobs": sum(cb_jobs) / max(1, len(cb_jobs)),
            "streaming.incremental.trigger_overhead_s": median(overhead),
            "streaming.incremental.batches": median(batches),
            "sources.sync.stored_bytes_ratio": self.stored_bytes_ratio(),
        }

    def stored_bytes_ratio(self) -> float:
        return table_bytes(self.ctx.spark, self.url, [self.TABLE]) / self.seed_bytes

    def close(self) -> None:
        from cpt_database_sync_spark.sources.sync import derby_shutdown

        if self.db is not None:
            derby_shutdown(self.ctx.spark, self.db)
            self.db = None


def _event_row(r: dict) -> tuple:
    """One replica row, canonical: lower-case names, naive-UTC time."""
    r = {k.lower(): v for k, v in r.items()}
    ts = r["ts"]
    if ts.tzinfo is not None:
        ts = ts.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    return (r["event_id"], ts.isoformat(), r["user_id"], r["event_type"],
            repr(float(r["value"])), r["props"])

"""Catalog: table discovery + schema introspection.

Reference: table list from ``information_schema.tables``
(`handler/Handler.java:27-33`), per-column type handles from JDBC
``DatabaseMetaData.getColumns`` (`sync/M2H2SchemaConverter.java:120-154`).
Spark-first: for JDBC sources the same two queries run through
``spark.read.jdbc``; for file-backed tables the parquet footer IS the
schema — introspection is metadata-only (no data scan).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from cpt_database_sync_spark.plans.registry import register
from cpt_database_sync_spark.session import local_frame
from cpt_database_sync_spark.sources.tables import ALL_TABLES, load


def list_tables(spark: SparkSession, sf_dir: str) -> list[str]:
    """All tables of the fixture 'database' (mirrors Handler.fetch)."""
    return list(ALL_TABLES)


def table_schema(spark: SparkSession, sf_dir: str, table: str):
    """StructType of one table — parquet footer read, no data scan."""
    return load(spark, sf_dir, table).schema


def list_tables_jdbc(spark: SparkSession, url: str, database: str, props: dict) -> DataFrame:
    """JDBC variant of Handler.fetch: one query over information_schema —
    returns a DataFrame so the driver never materializes more than it must."""
    return (
        spark.read.format("jdbc")
        .option("url", url)
        .option(
            "dbtable",
            f"(SELECT table_name FROM information_schema.tables "
            f"WHERE table_schema = '{database}') t",
        )
        .options(**props)
        .load()
    )


@register(
    "schema_introspect",
    oracle="""
    SELECT table_name, column_name, CAST(ordinal_position AS INT) AS ordinal
    FROM information_schema.columns
    WHERE table_name IN ('region','nation','customer','supplier','part',
                         'orders','lineitem','events','documents','embeddings')
    """,
)
def schema_introspect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog scan: (table, column, ordinal) rows for every fixture table.

    Type names are intentionally excluded — they are engine-dialect
    (DuckDB ``BIGINT`` vs Spark ``LongType``); the `type_lattice` query
    covers type fidelity. The per-table schema comes from parquet footers
    only; the resulting tiny DataFrame is built on the driver, which is
    correct here because catalog metadata is inherently driver-sized.
    """
    rows = []
    for t in ALL_TABLES:
        # driver-contract quirk: the oracle's DuckDB view of `events` keeps
        # the raw nanos-timestamp column name/order, same as our loader.
        for i, f in enumerate(table_schema(spark, sf_dir, t).fields, start=1):
            rows.append((t, f.name, i))
    return local_frame(spark, rows, "table_name string, column_name string, ordinal int")


_PROFILE_COLS = (
    "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate", "o_orderpriority"
)


def _profile_oracle() -> str:
    parts = [
        f"""SELECT '{c}' AS column, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_null,
           CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
           TRUE AS approx_ok
        FROM orders"""
        for c in _PROFILE_COLS
    ]
    return "\nUNION ALL\n".join(parts)


PROFILE_RSD = 0.05


@register("table_profile", oracle=_profile_oracle())
def table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass column profiling — the data-quality screen every platform
    runs before trusting a table: per column, row/null/exact-distinct
    counts plus the HLL sketch cross-check (within 5×rsd of exact,
    asserted by the oracle — the agg_approx_distinct discipline).

    Shape: unpivot the profiled columns to (column, val) long form (one
    Expand over the scan), then ONE narrow groupBy(column) aggregation.
    This is deliberately NOT the wide form (one global agg with a
    countDistinct + HLL lane per column): multi-distinct rewriting plus
    K approx_count_distinct lanes gives the aggregation a buffer of
    K × m HLL register words — at rsd 0.01 that is ~2,700 longs PER
    LANE flowing through every Expand projection, and the measured cost
    was ~30× this formulation (90 s vs 3 s at sf0.1). Long form keeps
    exactly one HLL buffer per GROUP, so profiling more columns adds
    rows (linear, map-side combined), never buffer width. The cast to
    string for the unpivot is injective per column type, so the
    distinct counts are unchanged. At 100 TB you drop the exact lane
    and keep the HLL one — same shape, and the flags here prove the
    sketch earns that trust.
    """
    from pyspark.sql import functions as F  # noqa: PLC0415
    from cpt_database_sync_spark.sources.tables import load  # noqa: PLC0415

    o = load(spark, sf_dir, "orders")
    tol = 5 * PROFILE_RSD
    lf = o.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column"),
                        F.col(c).cast("string").alias("val"),
                    )
                    for c in _PROFILE_COLS
                ]
            )
        ).alias("p")
    ).select("p.*")
    prof = lf.groupBy("column").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        (F.count(F.lit(1)) - F.count("val")).cast("long").alias("n_null"),
        F.countDistinct("val").cast("long").alias("n_distinct"),
        F.approx_count_distinct("val", rsd=PROFILE_RSD).alias("ad"),
    )
    # Profile ONTO the static column spine: a groupBy over an empty table
    # loses its groups, but "profile these 5 columns" must still answer
    # one zero-count row per column (ANSI: the oracle's per-column global
    # aggregates do). The spine is a 5-row ``LocalRelation`` that joins
    # as a broadcast; built with ``createDataFrame(list)`` it cost a
    # Python-worker stage on every execution (``session.local_frame``).
    spine = local_frame(spark, [(c,) for c in _PROFILE_COLS], "column string")
    zero = F.lit(0).cast("long")
    return spine.join(prof, "column", "left").select(
        "column",
        F.coalesce("n_rows", zero).alias("n_rows"),
        F.coalesce("n_null", zero).alias("n_null"),
        F.coalesce("n_distinct", zero).alias("n_distinct"),
        (
            F.abs(F.coalesce(F.col("ad"), zero) - F.coalesce(F.col("n_distinct"), zero))
            <= F.coalesce(F.col("n_distinct"), zero) * tol
        ).alias("approx_ok"),
    )


# pid-suffixed (the scratch_dir convention, ADVICE r10): two sessions
# sharing one metastore must not race each other's create/save/drop
# CASCADE on a common database name.
_CATALOG_PERSIST_DB = f"cpt_catalog_persist_{os.getpid()}"

#: The durable-catalog round-trip targets the two smallest fixture
#: tables; the expected listing is a LITERAL relation, so the oracle
#: verifies the metastore round-trip, not a recomputation of it.
_CATALOG_PERSIST_EXPECT = (
    ("nation", "n_nationkey", "int", 1),
    ("nation", "n_name", "string", 2),
    ("nation", "n_regionkey", "int", 3),
    ("region", "r_regionkey", "int", 1),
    ("region", "r_name", "string", 2),
)

_CATALOG_PERSIST_SQL = "\nUNION ALL\n".join(
    f"SELECT '{t}' AS table_name, '{c}' AS column_name, "
    f"'{ty}' AS data_type, CAST({o} AS INT) AS ordinal"
    for t, c, ty, o in _CATALOG_PERSIST_EXPECT
)


@register("catalog_persist", oracle=_CATALOG_PERSIST_SQL, tags=("reverify:r11",))
def catalog_persist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durable-catalog round-trip — the metastore analogue of the
    reference's information_schema discovery (`handler/Handler.java:
    27-33`): ``saveAsTable`` two fixture tables into a dedicated
    database of the session metastore, then re-discover them through
    ``spark.catalog.listTables`` / ``listColumns`` — the catalog is
    the source of truth for the listing, not the parquet footers
    ``schema_introspect`` reads. The oracle is the literal expected
    relation, so a silent save/list divergence (lost column, type
    drift, case folding) fails the diff.

    The demonstration database is dropped (CASCADE) after the listing
    is materialized: the round-trip is the capability under test, and
    a persistent leftover would leak state between driver queries. At
    deployment scale the same calls run against a shared Hive
    metastore / Unity-style catalog and the drop is simply omitted;
    catalog metadata is inherently driver-sized, so the driver-side
    assembly of the listing rows is the correct shape (same argument
    as ``schema_introspect``).
    """
    db = _CATALOG_PERSIST_DB
    # Reap any stale database left by a DEAD prior process (ADVICE r10:
    # pids recycle, so a crash before the finally-DROP could leave a
    # same-named database with unexpected contents) — dropping our own
    # name before creating it makes the round-trip self-healing without
    # scanning the whole metastore.
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    try:
        for t in ("nation", "region"):
            load(spark, sf_dir, t).write.mode("overwrite").saveAsTable(
                f"{db}.{t}"
            )
        # listTables(db) ALSO returns session-scoped TEMP VIEWS (they
        # belong to no database but are listed everywhere); a live temp
        # view from an unrelated query in the same session would make
        # the qualified listColumns probe fail. The durable listing is
        # the non-temporary tables only.
        listed = sorted(
            t.name for t in spark.catalog.listTables(db) if not t.isTemporary
        )
        rows = []
        for t in listed:
            for i, c in enumerate(spark.catalog.listColumns(f"{db}.{t}"), 1):
                rows.append((t, c.name, c.dataType, i))
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    return local_frame(
        spark,
        rows,
        "table_name string, column_name string, data_type string, ordinal int",
    )


@register(
    "dq_expectations",
    oracle="""
    SELECT 'orderkey_unique' AS rule,
           CAST((SELECT COUNT(*) FROM (
              SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING COUNT(*) > 1
           )) AS BIGINT) AS n_violations
    UNION ALL
    SELECT 'custkey_fk_covered',
           CAST((SELECT COUNT(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
    UNION ALL
    SELECT 'totalprice_positive',
           CAST((SELECT COUNT(*) FROM orders
                 WHERE o_totalprice IS NULL OR o_totalprice <= 0) AS BIGINT)
    UNION ALL
    SELECT 'orderdate_in_range',
           CAST((SELECT COUNT(*) FROM orders
                 WHERE o_orderdate < TIMESTAMP '1990-01-01'
                    OR o_orderdate >= TIMESTAMP '2000-01-01') AS BIGINT)
    UNION ALL
    SELECT 'totalprice_finite',
           CAST((SELECT COUNT(*) FROM orders
                 WHERE isnan(o_totalprice) OR isinf(o_totalprice)) AS BIGINT)
    """,
)
def dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality expectations — the constraint screen
    (PK uniqueness, FK coverage, domain ranges) that gates a table
    before it feeds training or serving, emitting one violation count
    per rule. The reference trusts its copies blind; this is the check
    its targets needed.

    All five rules evaluate in ONE pass (r14, guide §2.4 — the r13 form
    ran one driver-side count JOB per rule, re-scanning orders five
    times): FK coverage rides a broadcast left join against the
    DISTINCT dim keys (distinct so a degenerate duplicate-PK fixture
    cannot multiply fact rows — preserving the old anti-join's NOT
    EXISTS semantics), the per-row range/domain flags fold into the
    same per-orderkey rollup that feeds the uniqueness check, and a
    final `stack` unpivots the 1-row aggregate into the 5-row rule
    relation — fully lazy, zero driver actions, exactly the
    "attach rules to one scan" shape the docstring promised at 100 TB.
    """
    from pyspark.sql import functions as F  # noqa: PLC0415
    from cpt_database_sync_spark.sources.tables import load  # noqa: PLC0415

    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    matched = o.join(
        F.broadcast(c.select("c_custkey").distinct()),
        o["o_custkey"] == c["c_custkey"],
        "left",
    )
    flag = (
        lambda cond: F.sum(F.when(cond, 1).otherwise(0))
    )
    per_key = matched.groupBy("o_orderkey").agg(
        F.count(F.lit(1)).alias("n"),
        # NULL o_custkey never equi-matches: counted orphan, as the old
        # left-anti (≡ NOT EXISTS) did
        flag(F.col("c_custkey").isNull()).alias("orphan"),
        flag(
            F.col("o_totalprice").isNull() | (F.col("o_totalprice") <= 0)
        ).alias("nonpos"),
        flag(
            (F.col("o_orderdate") < "1990-01-01")
            | (F.col("o_orderdate") >= "2000-01-01")
        ).alias("oor"),
        # the non-finite screen: NaN/±Inf measures cannot usefully enter
        # the exact-decimal lanes — and the failure modes are ASYMMETRIC
        # (Spark's double→DECIMAL cast silently NULLs non-finite even
        # under ANSI, DuckDB's decimal cast aborts, pandas UDFs conflate
        # NaN with NULL; pinned in tests/test_nonfinite.py) — this rule
        # is the quarantine gate a pipeline runs BEFORE those operators
        # (README §Correctness model)
        flag(
            F.isnan("o_totalprice")
            | (F.col("o_totalprice") == F.lit(float("inf")))
            | (F.col("o_totalprice") == F.lit(float("-inf")))
        ).alias("nonfin"),
    )
    z = F.lit(0)  # empty-orders degenerate: SUM of nothing is NULL, not 0
    totals = per_key.agg(
        F.coalesce(flag(F.col("n") > 1), z).cast("long").alias("dup"),
        F.coalesce(F.sum("orphan"), z).cast("long").alias("orphan"),
        F.coalesce(F.sum("nonpos"), z).cast("long").alias("nonpos"),
        F.coalesce(F.sum("oor"), z).cast("long").alias("oor"),
        F.coalesce(F.sum("nonfin"), z).cast("long").alias("nonfin"),
    )
    return totals.select(
        F.expr(
            "stack(5,"
            " 'orderkey_unique', dup,"
            " 'custkey_fk_covered', orphan,"
            " 'totalprice_positive', nonpos,"
            " 'orderdate_in_range', oor,"
            " 'totalprice_finite', nonfin) AS (rule, n_violations)"
        )
    )
